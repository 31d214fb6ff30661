"""Ollie-level extraction: OpenParse triples decorated with context
(enabling condition, attribution) and the trained logistic confidence
(ollie/Ollie.scala:19-68, OllieCli.scala:277-288).

``Ollie.extract`` is the single-sentence entry the Spark UDF calls per
row of an Arrow batch.
"""

from __future__ import annotations

from dataclasses import dataclass

from ..graph import DependencyGraph
from ..model.loader import load_classifier, load_extractors
from .build import (Attribution, EnablingCondition, OpenParse, attribution,
                    enabling_condition, simplify_graph)
from .features import feature_names, feature_vector, ollie_confidence

# the reference's OpenParse confidence threshold (Ollie.scala:23)
CONFIDENCE_THRESHOLD = 0.005


@dataclass(frozen=True)
class OllieExtractionResult:
    arg1_text: str
    rel_text: str
    arg2_text: str
    arg1_span: tuple
    rel_span: tuple
    arg2_span: tuple
    openparse_conf: float
    conf: float
    enabler: EnablingCondition | None
    attribution: Attribution | None
    pattern: str
    features: tuple  # ordered by feature_names

    def __str__(self):
        ext = []
        if self.enabler:
            ext.append("enabler=" + self.enabler.text)
        if self.attribution:
            ext.append("attrib=" + self.attribution.text)
        suffix = ("[" + ";".join(ext) + "]") if ext else ""
        return (f"({self.arg1_text}; {self.rel_text}; {self.arg2_text})"
                + suffix)


class Ollie:
    """Per-sentence extractor with the default learned model."""

    def __init__(self):
        self.openparse = OpenParse(load_extractors(), CONFIDENCE_THRESHOLD)
        self.intercept, self.weights = load_classifier()
        self.feature_order = feature_names(self.weights)
        # weights in feature_order: scoring is a plain dot product over
        # the ordered tuple (no per-feature dict lookups in the UDF)
        self._weights_ordered = [self.weights[n] for n in self.feature_order]

    def extract(self, graph: DependencyGraph) -> list[OllieExtractionResult]:
        # OpenParse.extract simplifies again, a fixpoint on this graph;
        # features must see the simplified graph the match ran on
        sgraph = simplify_graph(graph)
        out = []
        for op_conf, extr, extractor in self.openparse.extract(sgraph):
            feats = feature_vector(sgraph, extr, extractor, op_conf)
            ordered = tuple(feats[n] for n in self.feature_order)
            out.append(OllieExtractionResult(
                arg1_text=extr.arg1.text,
                rel_text=extr.rel.text,
                arg2_text=extr.arg2.text,
                arg1_span=extr.arg1.span,
                rel_span=extr.rel.span,
                arg2_span=extr.arg2.span,
                openparse_conf=op_conf,
                conf=ollie_confidence(ordered, self.intercept,
                                      self._weights_ordered),
                enabler=enabling_condition(extr),
                attribution=attribution(extr),
                pattern=extractor.pattern.source or
                extractor.pattern.serialize(),
                features=ordered,
            ))
        out.sort(key=lambda r: (-r.conf, str(r)))
        return out
