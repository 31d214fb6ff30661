"""End-to-end goldens with the full learned model, ported from
OpenParseSpec.scala and OllieSpec.scala, plus README-derived context
cases (enabler / attribution)."""

import pytest

from ollie_spark.graph import DependencyGraph
from ollie_spark.extract.build import OpenParse
from ollie_spark.extract.ollie import Ollie
from ollie_spark.model.loader import load_classifier, load_extractors

EXAMPLE = ("(._._5_37), nsubj(finds_VBZ_1_10, OpenParse_NNP_0_0); "
           "dobj(finds_VBZ_1_10, extraction_NN_4_27); "
           "det(extraction_NN_4_27, an_DT_2_16); "
           "nn(extraction_NN_4_27, example_NN_3_19)")


@pytest.fixture(scope="module")
def extractors():
    return load_extractors()


@pytest.fixture(scope="module")
def ollie():
    return Ollie()


def test_model_loads(extractors):
    assert len(extractors) == 629


def test_openparse_finds_example_extraction(extractors):
    # OpenParseSpec.scala:16-22
    op = OpenParse(extractors)
    extrs = op.extract(DependencyGraph.deserialize(EXAMPLE))
    assert len(extrs) == 1
    assert str(extrs[0][1]) == "(OpenParse; finds; an example extraction)"


def test_ollie_confidence_executes(ollie):
    # OllieSpec.scala:31-35
    results = ollie.extract(DependencyGraph.deserialize(EXAMPLE))
    assert len(results) == 1
    r = results[0]
    assert str(r) == "(OpenParse; finds; an example extraction)"
    assert 0.0 < r.conf < 1.0
    assert len(r.features) == 38


def test_enabling_condition(ollie):
    # README.md:56-63 — "If I slept past noon, I'd be late for work."
    # graph built per the collapsed-parse conventions of the fixtures
    pickled = (
        "(If_IN_0_0), (,_,_4_0), (._._10_0), "
        "advcl(late_JJ_8_0, slept_VBD_2_0); mark(slept_VBD_2_0, If_IN_0_0); "
        "nsubj(slept_VBD_2_0, I_PRP_1_0); prep_past(slept_VBD_2_0, noon_NN_3_0); "
        "nsubj(late_JJ_8_0, I_PRP_5_0); aux(late_JJ_8_0, 'd_MD_6_0); "
        "cop(late_JJ_8_0, be_VB_7_0); prep_for(late_JJ_8_0, work_NN_9_0)")
    results = ollie.extract(DependencyGraph.deserialize(pickled))
    texts = {str(r) for r in results}
    assert any("'d be late for; work" in t and "enabler=If" in t
               for t in texts), texts


def test_attribution(ollie):
    # README.md:70-76 — "Some people say Barack Obama was not born in
    # the United States."
    pickled = (
        "(in_IN_8_0), (._._12_0), "
        "det(people_NNS_1_0, Some_DT_0_0); nsubj(say_VBP_2_0, people_NNS_1_0); "
        "nn(Obama_NNP_4_0, Barack_NNP_3_0); "
        "nsubjpass(born_VBN_7_0, Obama_NNP_4_0); "
        "auxpass(born_VBN_7_0, was_VBD_5_0); neg(born_VBN_7_0, not_RB_6_0); "
        "ccomp(say_VBP_2_0, born_VBN_7_0); "
        "prep_in(born_VBN_7_0, States_NNPS_11_0); "
        "det(States_NNPS_11_0, the_DT_9_0); nn(States_NNPS_11_0, United_NNP_10_0)")
    results = ollie.extract(DependencyGraph.deserialize(pickled))
    texts = {str(r) for r in results}
    assert any("Barack Obama" in t and "born in; the United States" in t
               and "attrib=Some people say" in t for t in texts), texts


def test_literal_set_vs_regex_fallback():
    """Pure-alternation semantic-class matchers take the frozenset
    path (fullmatch == membership); real metacharacters fall back to
    re. Every matcher in the shipped model is a pure alternation."""
    from ollie_spark.graph import Node
    from ollie_spark.model.loader import load_extractors
    from ollie_spark.model.patterns import NodeMatcher

    lit = NodeMatcher(alias=None, postag=None, regex="cat|dog|ice cream")
    assert lit._literal_set == {"cat", "dog", "ice cream"}
    assert lit.matches(Node("dog", "NN", 0, 1))
    assert lit.matches(Node("ice cream", "NN", 0, 2))
    assert not lit.matches(Node("catfish", "NN", 0, 1))

    rex = NodeMatcher(alias=None, postag=None, regex="cat.*|dog")
    assert rex._literal_set is None
    assert rex.matches(Node("catfish", "NN", 0, 1))
    assert not rex.matches(Node("fish", "NN", 0, 1))

    n_fallback = sum(
        1 for e in load_extractors()
        for nm in e.pattern.node_matchers
        if nm.regex is not None and nm._literal_set is None)
    assert n_fallback == 0
