"""Feature-battery golden (OllieFeatureSetSpec.scala:20-26) plus
spot-checks of individual features."""

from ollie_spark.extract.ollie import Ollie
from ollie_spark.graph import DependencyGraph

WHITECHAPEL = (
    "poss(father_NN_2_12, his_PRP$_1_8); punct(father_NN_2_12, ,_,_3_19); "
    "appos(father_NN_2_12, Whitechapel_NNP_4_21); "
    "punct(father_NN_2_12, ,_,_5_33); "
    "advmod(betrays_VBZ_6_35, However_RB_0_0); "
    "nsubj(betrays_VBZ_6_35, father_NN_2_12); "
    "dobj(betrays_VBZ_6_35, whereabouts_NN_8_47); "
    "punct(betrays_VBZ_6_35, ,_,_9_59); "
    "xcomp(betrays_VBZ_6_35, fearing_VBG_10_61); "
    "punct(betrays_VBZ_6_35, ._._27_149); "
    "poss(whereabouts_NN_8_47, his_PRP$_7_43); "
    "ccomp(fearing_VBG_10_61, die_VB_15_87); "
    "poss(son_NN_13_78, his_PRP$_12_74); "
    "complm(die_VB_15_87, that_IN_11_69); nsubj(die_VB_15_87, son_NN_13_78); "
    "aux(die_VB_15_87, will_MD_14_82); "
    "advcl(die_VB_15_87, captured_VBN_20_104); "
    "mark(captured_VBN_20_104, if_IN_16_91); "
    "nsubjpass(captured_VBN_20_104, he_PRP_17_94); "
    "auxpass(captured_VBN_20_104, is_VBZ_18_97); "
    "neg(captured_VBN_20_104, not_RB_19_100); "
    "cc(captured_VBN_20_104, and_CC_21_113); "
    "conj(captured_VBN_20_104, returned_VBN_22_117); "
    "dobj(captured_VBN_20_104, home_NN_23_126); "
    "prep(captured_VBN_20_104, to_TO_24_131); "
    "pobj(to_TO_24_131, plantation_NN_26_138); "
    "det(plantation_NN_26_138, the_DT_25_134)")


def test_if_right_before_arg1():
    """The reference asserts the 'if right before arg1' feature fires
    on the Whitechapel sentence's 'he ... captured' extraction
    (OllieFeatureSetSpec.scala:20-26)."""
    ollie = Ollie()
    idx = ollie.feature_order.index("if right before arg1")
    results = ollie.extract(DependencyGraph.deserialize(WHITECHAPEL))
    assert len(results) >= 3
    by_arg1 = {}
    for r in results:
        by_arg1.setdefault(r.arg1_text, []).append(r.features[idx])
    # arg1 'he' directly follows 'if' (token 16) -> feature fires
    assert all(v == 1.0 for v in by_arg1["he"])
    # arg1 'his father' is not preceded by 'if'
    assert all(v == 0.0 for v in by_arg1["his father"])


def test_feature_values_sane():
    ollie = Ollie()
    results = ollie.extract(DependencyGraph.deserialize(WHITECHAPEL))
    for r in results:
        assert all(v in (0.0, 1.0) or 0.0 <= v <= 1.0
                   for v in r.features)
        assert 0.0 < r.conf < 1.0


def test_reference_training_data_parses_and_scores():
    """All 956 labelled instances from the reference's training data
    parse through our codecs, and the shipped classifier scored with
    OUR feature battery beats the majority-class base rate — the
    published weights only work if the features line up."""
    import pytest
    from pathlib import Path
    from ollie_spark.bootstrap.reference_data import (
        feature_rows, load_training_instances)
    from ollie_spark.extract.features import (feature_names,
                                              ollie_confidence)
    from ollie_spark.model.loader import load_classifier

    if not Path("/root/reference/data/training.tsv").exists():
        pytest.skip("reference training data not available")
    insts, errors = load_training_instances()
    assert len(insts) == 956 and errors == 0
    intercept, weights = load_classifier()
    order = feature_names(weights)
    rows = feature_rows(insts, order)
    ordered = [weights[n] for n in order]
    correct = sum(
        int((ollie_confidence(f, intercept, ordered) >= 0.5) == bool(l))
        for f, l in rows)
    base = max(sum(l for _, l in rows),
               len(rows) - sum(l for _, l in rows))
    assert correct > base  # beats majority class
    assert correct / len(rows) > 0.73
