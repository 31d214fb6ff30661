"""Reader for the reference's labelled training data
(data/training.tsv: 956 ScoredOllieExtractionInstance rows, the format
of OllieExtractionInstance.tabSerialize — label, graph pickle,
extractor type/template/pattern/conf, three parts with node
provenance, openparse conf, enabler, attribution).

Used to train/evaluate our confidence function on the reference's own
human labels (B15/B16 on real data) and to stress the feature battery
on real-world parses.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

from ..extract.build import DetailedExtraction, Extractor, Part, Template
from ..extract.serialize import deserialize_part
from ..graph import DependencyGraph
from ..model.patterns import Pattern

DEFAULT_PATH = "/root/reference/data/training.tsv"


@dataclass(frozen=True)
class LabelledInstance:
    label: int
    graph: DependencyGraph
    extractor: Extractor
    extraction: DetailedExtraction
    openparse_conf: float


def _part(serialized: str) -> Part:
    text, nodes = deserialize_part(serialized)
    return Part(tuple(nodes), text)


def load_training_instances(path: str | None = None):
    """-> list[LabelledInstance]; malformed rows are skipped (counted
    in the second return value)."""
    p = Path(path or DEFAULT_PATH)
    instances, errors = [], 0
    for line in p.read_text().splitlines():
        cols = line.split("\t")
        if len(cols) != 13:
            errors += 1
            continue
        try:
            (label, _empty, pickled, typ, template, pattern, conf,
             arg1_s, rel_s, arg2_s, op_conf, _enabler, _attr) = cols
            assert typ.lower() == "template"
            graph = DependencyGraph.deserialize(pickled)
            pat = Pattern.deserialize(pattern)
            ex = Extractor(pat, float(conf),
                           template=Template.deserialize(template))
            extr = DetailedExtraction(
                _part(arg1_s), _part(rel_s), _part(arg2_s),
                match=None, pattern=pat)
            instances.append(LabelledInstance(
                int(label), graph, ex, extr, float(op_conf)))
        except Exception:  # noqa: BLE001 — malformed training rows
            errors += 1
    return instances, errors


def feature_rows(instances, feature_order):
    """-> [(features list, label)] ready for spark.createDataFrame.

    Features are computed on the *original* (unsimplified) graph, as
    the reference does for OllieExtractionInstances."""
    from ..extract.features import feature_vector
    rows = []
    for inst in instances:
        f = feature_vector(inst.graph, inst.extraction, inst.extractor,
                           inst.openparse_conf)
        rows.append(([float(f[n]) for n in feature_order],
                     int(inst.label)))
    return rows
