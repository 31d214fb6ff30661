"""Match -> extraction building, templates, extractors, and the
per-sentence OpenParse orchestration.

Faithful re-expression of the reference pipeline stages R8-R18
(openparse/extract/Extraction.scala:146-212, TemplateExtractor.scala,
OpenParse.scala:59-127).  Everything here is per-sentence pure Python —
in the Spark pipeline it runs row-by-row inside one Arrow batch.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace
from functools import cached_property

from ..graph import DependencyGraph, intersects, span_of
from ..model.lemmatizer import lemmatize
from ..model.patterns import Match, Pattern, match_pattern
from ..model.wordlists import (COGNITIVE_WORDS, COMMUNICATION_WORDS,
                               LEMMA_BLACKLIST, VALID_ARG_POSTAG)
from .expansion import (expand_argument, expand_relation, nodes_text,
                        _sorted_nodes)


# ------------------------------------------------------------------ parts

@dataclass(frozen=True)
class Part:
    """An extraction part: an index-sorted node tuple plus its text
    (Extraction.scala:113-123)."""

    nodes: tuple          # tuple[Node], sorted by index
    text: str

    @classmethod
    def of(cls, nodes):
        ns = tuple(_sorted_nodes(nodes))
        return cls(ns, nodes_text(ns))

    @property
    def span(self):
        return span_of(n.indices for n in self.nodes)


@dataclass(frozen=True)
class ClausalComponent:
    rel: Part
    arg: Part


@dataclass(frozen=True)
class AdverbialModifier:
    contents: Part


@dataclass(frozen=True)
class DetailedExtraction:
    """(arg1; rel; arg2) with provenance (Extraction.scala:69-97)."""

    arg1: Part
    rel: Part
    arg2: Part
    match: Match = field(compare=False)
    pattern: Pattern = field(compare=False)
    clausal: ClausalComponent | None = field(default=None, compare=False)
    modifier: AdverbialModifier | None = field(default=None, compare=False)

    # equality mirrors the reference: on the three texts only
    def __eq__(self, other):
        return (isinstance(other, DetailedExtraction)
                and self.arg1.text == other.arg1.text
                and self.rel.text == other.rel.text
                and self.arg2.text == other.arg2.text)

    def __hash__(self):
        return hash((self.arg1.text, self.rel.text, self.arg2.text))

    def __str__(self):
        return f"({self.arg1.text}; {self.rel.text}; {self.arg2.text})"

    @property
    def nodes(self):
        return _sorted_nodes(set(self.arg1.nodes) | set(self.rel.nodes)
                             | set(self.arg2.nodes))

    @property
    def span(self):
        return span_of(n.indices for n in self.nodes)

    def rel_lemmas(self) -> frozenset:
        return frozenset(lemmatize(w) for w in self.rel.text.split(" ")
                         ) - frozenset(lemmatize(w) for w in LEMMA_BLACKLIST
                                       ) - LEMMA_BLACKLIST

    def replace_relation(self, relation: str) -> "DetailedExtraction":
        return replace(self, rel=Part(self.rel.nodes, relation))


ATTRIBUTION_PATTERN = Pattern.deserialize("{old} <ccomp< {rel} >nsubj> {arg}")


def valid_match(m: Match) -> bool:
    """R9 (OpenParse.scala:188-190)."""
    return (m.node_groups["arg1"].postag in VALID_ARG_POSTAG
            and m.node_groups["arg2"].postag in VALID_ARG_POSTAG)


def from_match(graph: DependencyGraph, m: Match,
               pattern: Pattern) -> list[DetailedExtraction]:
    """R10-R12 (Extraction.scala:146-212)."""
    groups = m.node_groups
    rels = [groups[k] for k in sorted(groups) if k.startswith("rel")]
    if not rels or "arg1" not in groups or "arg2" not in groups:
        raise ValueError("pattern must capture arg1, rel*, arg2")
    arg1, arg2 = groups["arg1"], groups["arg2"]

    rel_set = set(rels)
    e_arg1 = expand_argument(graph, arg1, rel_set)
    e_arg2 = expand_argument(graph, arg2, rel_set)

    # exclude rel-rel extractions whose secondary rel has its own nsubj
    if any(e.label == "nsubj" for rel in rels[1:]
           for e in graph.out_edges(rel)):
        return []
    until = set(e_arg1) | set(e_arg2)
    per_rel = [expand_relation(graph, rel, until) for rel in rels]
    # cartesian product across rels (scalaz `sequence`)
    combos = [[]]
    for options in per_rel:
        combos = [c + [o] for c in combos for o in options]
    rel_parts = []
    for combo in combos:
        pool = {}
        for ns, _ in combo:
            pool.update({n.sort_key: n for n in ns})
        text = " ".join(t for _, t in combo)
        rel_parts.append(Part(tuple(_sorted_nodes(pool.values())), text))
    # de-dup identical parts (Set semantics in the reference)
    rel_parts = list(dict.fromkeys(rel_parts))

    # loop-invariant hoists: the arg spans (and so the overlap veto)
    # and the advcl modifier don't depend on the rel_part combo — the
    # old per-combo recompute changed nothing but wasted the clausal/
    # modifier searches on extractions the overlap check then dropped
    arg1_span = span_of(n.indices for n in e_arg1)
    arg2_span = span_of(n.indices for n in e_arg2)
    if intersects(arg1_span, arg2_span):
        return []
    modifier = next((c for c in (
        _adverbial_modifier(graph, rel) for rel in rels)
        if c is not None), None)
    arg_nodes = set(e_arg1) | set(e_arg2)
    a1, a2 = Part.of(e_arg1), Part.of(e_arg2)
    out = []
    for rel_part in rel_parts:
        all_nodes = arg_nodes | set(rel_part.nodes)
        clausal = next((c for c in (
            _clausal_component(graph, rel, all_nodes) for rel in rels)
            if c is not None), None)
        out.append(DetailedExtraction(
            a1, rel_part, a2,
            match=m, pattern=pattern, clausal=clausal, modifier=modifier))
    return out


def _clausal_component(graph, node, until) -> ClausalComponent | None:
    """Attribution shape around the rel node (Extraction.scala:147-162)."""
    ms = match_pattern(ATTRIBUTION_PATTERN, graph, start=node)
    if len(ms) != 1:
        return None
    m = ms[0]
    rel, arg = m.node_groups["rel"], m.node_groups["arg"]
    rel_parts = expand_relation(graph, rel, set(until) | {arg})
    if not rel_parts:
        return None
    rel_nodes, rel_text = rel_parts[0]
    arg_nodes = expand_argument(graph, arg, set(until) | {rel})
    return ClausalComponent(Part(tuple(rel_nodes), rel_text),
                            Part.of(arg_nodes))


def _adverbial_modifier(graph, node) -> AdverbialModifier | None:
    """advcl subtree under the rel node (Extraction.scala:164-173)."""
    starts = [e.dst for e in graph.out_edges(node) if e.label == "advcl"]
    pool = {}
    for s in starts:
        for n in graph.inferiors(s):
            pool[n.sort_key] = n
    if not pool:
        return None
    lo, hi = span_of(n.indices for n in pool.values())
    clause = [n for n in graph.nodes if lo <= n.start and n.end <= hi]
    return AdverbialModifier(Part.of(clause))


# -------------------------------------------------------------- templates

_GROUP_RE = re.compile(r"\{(.*?)}")


@dataclass(frozen=True)
class Template:
    """Relation-text rewrite template (TemplateExtractor.scala:95-155)."""

    template: str
    be: bool

    @classmethod
    def deserialize(cls, s: str) -> "Template":
        if s.startswith("be "):
            return cls(s[3:], True)
        return cls(s, False)

    def serialize(self) -> str:
        return ("be " if self.be else "") + self.template

    def apply(self, extr: DetailedExtraction, graph: DependencyGraph,
              m: Match) -> DetailedExtraction:
        def match_group(name: str) -> str:
            if name == "rel":
                return extr.rel.text
            if name == "arg1":
                return extr.arg1.text
            if name == "arg2":
                return extr.arg2.text
            return m.group_text(name)

        rel_node = m.node_groups.get("rel") or m.node_groups["rel1"]
        # don't add "be" when a VB* aux/cop neighbor is already in rel
        rel_keys = {n.sort_key for n in extr.rel.nodes}
        has_vb_aux = any(
            far.postag.startswith("VB") and far.sort_key in rel_keys
            for far, lab in _neighbors_with_labels(graph, rel_node)
            if lab.startswith("aux") or lab == "cop")
        prefix = "be" if (self.be and not has_vb_aux) else ""

        modals = [n for n in extr.rel.nodes
                  if n.postag.startswith("MD") or n.postag == "TO"]

        rel = _GROUP_RE.sub(
            lambda gm: match_group(gm.group(1)).replace("_", " "),
            self.template)

        if prefix:
            if not modals:
                rel = prefix + " " + rel
            else:
                alt = "|".join(re.escape(n.text) for n in modals)
                rel = re.sub(r"(^.*\b(?:" + alt + r"))\b",
                             r"\1 " + prefix, rel, count=1)
        return extr.replace_relation(rel)


def _neighbors_with_labels(graph, node):
    for e in graph.out_edges(node):
        yield e.dst, e.label
    for e in graph.in_edges(node):
        yield e.src, e.label


# -------------------------------------------------------------- extractors

def _trailing_prep_re():
    from ..model.wordlists import PREPOSITIONS
    alts = sorted(PREPOSITIONS, key=len, reverse=True)
    return re.compile(r"\s(?:" + "|".join(re.escape(p) for p in alts)
                      + r"|\{prep\})$")


_TRAILING_TEMPLATE_PREP_RE = _trailing_prep_re()


@dataclass(frozen=True)
class Extractor:
    """A pattern extractor: general, template, or specific
    (extract/PatternExtractor.scala:58-64)."""

    pattern: Pattern
    conf: float
    template: Template | None = None          # template extractor
    relation: str | None = None               # specific extractor
    relation_lemmas: tuple = ()                # specific extractor

    @cached_property
    def prep_mismatch(self) -> bool:
        """TemplateExtractor.scala:43-52, replicated literally: the
        trailing-preposition regex match *includes* its leading
        whitespace, so the equality against the pattern's last prep
        (which has none) only holds when both sides are absent.
        Pattern-level constant — cached at first use."""
        if self.template is None:
            return False
        mre = _TRAILING_TEMPLATE_PREP_RE.search(self.template.serialize())
        trailing = mre.group(0) if mre else None
        return trailing == self.pattern.last_prep

    def extract(self, graph: DependencyGraph) -> list[DetailedExtraction]:
        out = []
        for m in match_pattern(self.pattern, graph):
            if not valid_match(m):
                continue
            for extr in from_match(graph, m, self.pattern):
                if self.template is not None:
                    extr = self.template.apply(extr, graph, m)
                out.append(extr)
        if self.relation is not None:
            kept = []
            for extr in out:
                lemmas = [lemmatize(w) for w in extr.rel.text.split(" ")]
                if all(l in lemmas for l in self.relation_lemmas):
                    kept.append(extr.replace_relation(self.relation))
            out = kept
        return out


# ------------------------------------------------------ per-sentence engine

def simplify_graph(graph: DependencyGraph) -> DependencyGraph:
    """R5 at OpenParse's defaults (OpenParse.scala:38-54, 289-296):
    collapse, then simplify postags.  The reference's default-off
    ``simplifyVBPostags`` is not carried."""
    return graph.collapse().simplify_postags()


class OpenParse:
    """The per-sentence extractor over a loaded pattern model
    (OpenParse.scala:59-127).  Every other OpenParse.Configuration
    switch runs at its default: matches are expanded, arguments
    restricted to VALID_ARG_POSTAG, and duplicates removed."""

    def __init__(self, extractors, confidence_threshold: float = 0.0):
        # R6: drop extractors that can never clear the threshold
        self.extractors = [e for e in extractors
                           if e.conf >= confidence_threshold]

    def extract(self, graph: DependencyGraph):
        """-> list[(conf, DetailedExtraction, Extractor)], best first."""
        graph = simplify_graph(graph)
        labels = graph.edge_labels
        has_prep = any(l.startswith("prep") for l in labels)
        postags = frozenset(n.postag for n in graph.nodes)

        results = []
        for ex in self.extractors:
            # R7 feasibility: every exact edge label must occur; regex
            # edges are prep_* captures, checked against any prep label;
            # every exact node postag must occur in the sentence
            if not ex.pattern.required_labels <= labels:
                continue
            if ex.pattern.has_regex_edge and not has_prep:
                continue
            if not ex.pattern.required_postags <= postags:
                continue
            for extr in ex.extract(graph):
                results.append((ex.conf, extr, ex))

        # exact-duplicate removal on (conf, texts)
        seen, uniq = set(), []
        for conf, extr, ex in results:
            key = (conf, extr.arg1.text, extr.rel.text, extr.arg2.text)
            if key not in seen:
                seen.add(key)
                uniq.append((conf, extr, ex))
        # subsumption: drop when a same-rel, higher-conf extraction
        # contains this one's arg1 or arg2 (OpenParse.scala:110-121)
        reduced = []
        for conf, extr, ex in uniq:
            dominated = any(
                o_extr.rel == extr.rel and conf < o_conf
                and (extr.arg1.text in o_extr.arg1.text
                     or extr.arg2.text in o_extr.arg2.text)
                for o_conf, o_extr, _ in uniq)
            if not dominated:
                reduced.append((conf, extr, ex))
        reduced.sort(key=lambda t: (-t[0], str(t[1])))
        return reduced


# ------------------------------------------------------------ ollie context

@dataclass(frozen=True)
class EnablingCondition:
    """'If it rains, ...' (ollie/OllieExtraction.scala:20-40)."""

    prefix: str
    phrase: str
    span: tuple

    @property
    def text(self):
        return f"{self.prefix} {self.phrase}"


@dataclass(frozen=True)
class Attribution:
    """'He said ...' (ollie/OllieExtraction.scala:44-73)."""

    arg: str
    arg_span: tuple
    rel: str
    rel_span: tuple

    @property
    def text(self):
        return f"{self.arg} {self.rel}"


def enabling_condition(extr: DetailedExtraction) -> EnablingCondition | None:
    """Ollie.scala:43-50."""
    if extr.modifier is None:
        return None
    nodes = extr.modifier.contents.nodes
    if not nodes:
        return None
    return EnablingCondition(
        nodes[0].text, " ".join(n.text for n in nodes[1:]),
        extr.modifier.contents.span)


def attribution(extr: DetailedExtraction) -> Attribution | None:
    """Ollie.scala:53-68."""
    if extr.clausal is None:
        return None
    clausal = extr.clausal
    vb = next((n for n in clausal.rel.nodes if n.postag.startswith("VB")),
              None)
    if vb is None:
        return None
    stem = lemmatize(vb.text.lower())
    if stem not in COMMUNICATION_WORDS and stem not in COGNITIVE_WORDS:
        return None
    return Attribution(clausal.arg.text, clausal.arg.span,
                       clausal.rel.text, clausal.rel.span)
