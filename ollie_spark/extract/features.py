"""The confidence feature battery (38 features) and logistic scoring.

Faithful re-expression of confidence/OllieFeatureSet.scala:21-415 —
including its literal quirks (e.g. ``args start and end with noun``
tests full-postag membership in {"PR","NN","DT","CD","JJ"}, and
``rel starts with be`` checks the head *node text* for a "be " prefix),
because the learned weights were trained against exactly these
behaviors.

Feature values are computed per extraction inside the Arrow-batched
extraction UDF; the dot-product + sigmoid runs as a native Spark SQL
expression over the emitted feature array (no UDF on the scoring path).
"""

from __future__ import annotations

import math
import re

from ..graph import (DependencyGraph, borders, interval_distance,
                     interval_lt, intersects, span_of)
from ..model.wordlists import SIMPLE_PREPOSITIONS, PREPOSITIONS
from .build import DetailedExtraction, Extractor

_PREP_TAG = re.compile(r"IN|TO|WP")
_TRAILING_PREP = re.compile(
    " (?:" + "|".join(re.escape(p) for p in sorted(PREPOSITIONS)) + ")$")
_LEADING_BE = re.compile(r"^be ")
_HYP_WORDS = frozenset({"can", "would", "could", "might"})
_VACUOI = (("this", "way"), ("went", "public"), ("for", "example"),
           ("with", "eye"), ("in", "fact"), ("for", "use"), ("for", "us"),
           ("were", "able"), ("in", "part"), ("be", "part"), ("is", "part"))
_OK_STARTS = frozenset({"PR", "NN", "DT", "CD", "JJ"})
_OK_ENDS = frozenset({"NN", "CD", "JJ"})


def _b(x) -> float:
    return 1.0 if x else 0.0


from functools import lru_cache  # noqa: E402


@lru_cache(maxsize=8192)
def _bad_characters(text: str) -> float:
    # memoized: arg/rel texts repeat heavily within a worker, and the
    # per-character python loops are the battery's costliest scans
    caps = sum(1 for c in text if "A" <= c <= "Z")
    if caps > 5:
        return 1.0
    good = sum(1 for c in text if c in "AEIOUYaeiouy0123456789")
    return 1.0 if good < 2 else 0.0


def _sentence_cache(graph: DependencyGraph) -> dict:
    """Per-sentence feature constants, computed once per graph and
    stashed in the graph's __dict__ (several extractions share one
    sentence; these scans don't depend on the extraction)."""
    sent_nodes = graph.nodes
    imperative = False
    prev_tag = None
    for n in sent_nodes:
        if (prev_tag is None or prev_tag == ",") \
                and n.postag.startswith("VB"):
            imperative = True
            break
        prev_tag = n.postag
    cache = {
        "imperative": imperative,
        "sent_join": " ".join(n.text for n in sent_nodes),
        "hyp_lowers": [t for n in sent_nodes
                       if (t := n.text.lower()) in _HYP_WORDS],
    }
    graph.__dict__["_feat_cache"] = cache
    return cache


def _noun_verb_noun(nodes) -> float:
    toks = list(nodes)
    first_nn = next((i for i, n in enumerate(toks) if n.is_noun), -1)
    if first_nn == -1:
        return 0.0
    rest = toks[first_nn:]
    first_vb = next((i for i, n in enumerate(rest) if n.is_verb), -1)
    if first_vb == -1:
        return 0.0
    rest2 = toks[first_nn + first_vb:]
    second_nn = next((i for i, n in enumerate(rest2) if n.is_noun), -1)
    if second_nn == -1:
        return 0.0
    return _b(first_vb > 0 and second_nn > 0)


def _borders_appos(graph: DependencyGraph, nodes) -> float:
    if not nodes:
        return 0.0
    probe = [nodes[0], nodes[-1]]
    return _b(any(e.label == "appos"
                  for n in probe for e in graph.incident(n)))


def feature_vector(graph: DependencyGraph, extr: DetailedExtraction,
                   extractor: Extractor, openparse_conf: float) -> dict:
    """All 38 named features for one extraction instance."""
    arg1, rel, arg2 = extr.arg1, extr.rel, extr.arg2
    sent_nodes = graph.nodes
    extr_text = f"{arg1.text} {rel.text} {arg2.text}"
    arg1_span, rel_span, arg2_span = arg1.span, rel.span, arg2.span
    extr_span = extr.span
    sent_interval = graph.interval

    cache = graph.__dict__.get("_feat_cache") or _sentence_cache(graph)

    f = {}

    f["sentence has question mark"] = _b("?" in extr_text)

    # verb at sentence start or right after a comma (per-sentence)
    f["sentence is imperative"] = _b(cache["imperative"])

    tags2 = [n.postag for n in arg2.nodes]
    f["arg2 contains infinitive"] = _b(any(
        tags2[i - 1] == "TO" and tags2[i].startswith("VB")
        for i in range(1, len(tags2))))

    f["rel is contiguous"] = _b(rel.text in cache["sent_join"])

    before1 = next((n for n in sent_nodes
                    if interval_lt(n.indices, arg1_span)
                    and borders(n.indices, arg1_span)), None)
    f["prep right before arg1"] = _b(
        before1 is not None and _PREP_TAG.fullmatch(before1.postag))

    f["rel starts with be"] = _b(
        bool(rel.nodes) and rel.nodes[0].text.startswith("be "))

    after2 = next((n for n in sent_nodes
                   if interval_lt(arg2_span, n.indices)
                   and borders(n.indices, arg2_span)), None)
    f["prep right after arg2"] = _b(
        after2 is not None and _PREP_TAG.fullmatch(after2.postag))

    f["arg1 is proper"] = _b(all(n.is_proper_noun for n in arg1.nodes))
    f["arg2 is proper"] = _b(all(n.is_proper_noun for n in arg2.nodes))

    f["sentence starts with extraction"] = _b(extr_span[0] == 0)
    f["sentence begins with arg1"] = _b(arg1_span[0] == 0)
    f["sentence ends with arg2"] = _b(all(
        n.postag in (".", "?") for n in sent_nodes[arg2_span[1]:]))

    f["openparse confidence"] = min(1.0, openparse_conf)

    f["arg2 before arg1"] = _b(
        interval_lt(arg2_span, arg1_span)
        and not intersects(arg1_span, arg2_span))
    f["arg2 before rel"] = _b(
        interval_lt(arg2_span, rel_span)
        and not intersects(rel_span, arg2_span))

    ok = (bool(arg1.nodes) and bool(arg2.nodes)
          and arg1.nodes[0].postag in _OK_STARTS
          and arg2.nodes[0].postag in _OK_STARTS
          and arg1.nodes[-1].postag in _OK_ENDS
          and arg2.nodes[-1].postag in _OK_ENDS)
    f["args start and end with noun"] = _b(ok)

    lead = sent_nodes[:arg1_span[0]]
    f["if right before arg1"] = _b(
        bool(lead) and lead[-1].text.lower() == "if")

    f["arg1 contains pronoun"] = _b(any(n.is_pronoun for n in arg1.nodes))
    f["arg2 contains pronoun"] = _b(any(n.is_pronoun for n in arg2.nodes))

    f["rel ends with of"] = _b(
        rel.text.rsplit(" ", 1)[-1] == "of")
    f["rel contains verb"] = _b(any(n.is_verb for n in rel.nodes))
    f["rel contains gerund"] = _b(any(n.is_verb_gerund for n in rel.nodes))

    f["arg1 bad characters"] = _bad_characters(arg1.text)
    f["rel bad characters"] = _bad_characters(rel.text)
    f["arg2 bad characters"] = _bad_characters(arg2.text)

    f["long relation"] = _b(len(rel.text.split(" ")) > 10)

    rel_words = set(rel.text.split(" "))
    f["hyp words in rel"] = _b(any(
        t not in rel_words for t in cache["hyp_lowers"]))

    rel_end = rel.text.rsplit(" ", 1)[-1]
    arg2_words = [w.lower() for w in arg2.text.split(" ")]
    vacuous = (len(arg2_words) <= 2 and any(
        rel_end.startswith(a) and b in arg2_words for a, b in _VACUOI))
    f["vacuous extraction"] = _b(vacuous)

    f["prep in arg2"] = _b(any(
        _PREP_TAG.fullmatch(n.postag) for n in arg2.nodes))

    f["noun-verb-noun in arg1"] = _noun_verb_noun(arg1.nodes)
    f["noun-verb-noun in arg2"] = _noun_verb_noun(arg2.nodes)

    f["arg1 borders appositive"] = _borders_appos(graph, arg1.nodes)
    f["arg2 borders appositive"] = _borders_appos(graph, arg2.nodes)

    ex_nodes = extr.nodes
    f["gap of 10 in rel"] = _b(any(
        interval_distance(ex_nodes[i].indices, ex_nodes[i + 1].indices) > 10
        for i in range(len(ex_nodes) - 1)))

    trimmed = _LEADING_BE.sub("", _TRAILING_PREP.sub("", rel.text))
    f["non-contiguous rel"] = _b(trimmed not in graph.text)

    f["nn edges in pattern"] = _b(extractor.pattern.has_nn_edge)
    f["semantic constraints in pattern"] = _b(extractor.pattern.semantic)
    f["prep mismatch in pattern"] = _b(extractor.prep_mismatch)

    return f


def ollie_confidence(features, intercept: float, weights) -> float:
    """sigmoid(intercept + w·f) — nlptools LogisticRegression — over
    the feature values and weights, both in ``feature_names`` order."""
    z = intercept + sum(w * f for w, f in zip(weights, features))
    return 1.0 / (1.0 + math.exp(-z))


# canonical feature order for the Spark-side array column
def feature_names(weights: dict) -> list[str]:
    return sorted(weights)
