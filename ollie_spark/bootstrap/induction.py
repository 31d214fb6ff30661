"""Pattern induction: learn a dependency-path pattern from a seed
triple and its sentence graph (openparse/BuildPatterns.scala:54-293).

Per seed (rel, arg1, arg2, lemmas, graph):
1. lemmatize tokens, collapse noun groups + NNP-of, simplify postags
2. find the graph nodes matching each lemma (exact text, else one
   partial match); enumerate simple paths connecting them, restricted
   to up-then-down shape and a maximum edge length
3. reject paths with punct/dep/non-word edges
4. substitute the arg1/arg2 nodes with ArgumentMatchers (postag must be
   a valid argument postag), the rel lemma nodes with rel captures
   (postag-constrained), remaining content nodes with slot captures
5. validate the pattern (ExtractorPattern.valid:
   ExtractorPattern.scala:53-146)

Pure per-sentence Python — in Spark this runs inside the B4
``mapInPandas`` stage of the training pipeline.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from ..graph import DependencyGraph, Node
from ..model.lemmatizer import lemmatize
from ..model.patterns import EdgeMatcher, NodeMatcher, Pattern
from ..model.wordlists import VALID_ARG_POSTAG

_WORD_RE = re.compile(r"\w+")


@dataclass(frozen=True)
class _PathStep:
    """One edge traversal in a bipath."""

    label: str
    direction: str   # 'up' (dependent->governor) or 'down'
    far: Node


def _neighbors(graph: DependencyGraph, node: Node):
    for e in graph.out_edges(node):
        yield _PathStep(e.label, "down", e.dst)
    for e in graph.in_edges(node):
        yield _PathStep(e.label, "up", e.src)


def _simple_paths(graph, start, end, max_len):
    """All simple paths start->end with <= max_len edges."""
    out = []

    def dfs(cur, steps, seen):
        if len(steps) > max_len:
            return
        if cur.sort_key == end.sort_key and steps:
            out.append(list(steps))
            return
        for st in _neighbors(graph, cur):
            if st.far.sort_key in seen:
                continue
            seen.add(st.far.sort_key)
            steps.append(st)
            dfs(st.far, steps, seen)
            steps.pop()
            seen.discard(st.far.sort_key)

    dfs(start, [], {start.sort_key})
    return out


def find_bipaths(lemmas: set, graph: DependencyGraph,
                 max_length: int | None):
    """Paths connecting all lemma-matched nodes, up-then-down only
    (BuildPatterns.scala:115-149).  -> list of (start, steps)."""
    all_nodes = []
    for lemma in lemmas:
        exacts = [n for n in graph.nodes if n.text == lemma]
        if exacts:
            all_nodes.extend(exacts)
        else:
            partial = next((n for n in graph.nodes if lemma in n.text),
                           None)
            if partial is not None:
                all_nodes.append(partial)

    # combinations: one node per distinct text
    by_text = {}
    for n in all_nodes:
        by_text.setdefault(n.text, set()).add(n.sort_key)
    texts = sorted(by_text)
    combos = [[]]
    node_by_key = {n.sort_key: n for n in all_nodes}
    for t in texts:
        combos = [c + [node_by_key[k]] for c in combos
                  for k in sorted(by_text[t])]

    max_len = max_length if max_length is not None else 10
    results = []
    seen_paths = set()
    for nodes in combos:
        keys = {n.sort_key for n in nodes}
        if len(keys) < 2:
            continue
        for i, a in enumerate(nodes):
            for b in nodes[i + 1:]:
                if a.sort_key == b.sort_key:
                    continue
                for orient in ((a, b), (b, a)):
                    for steps in _simple_paths(graph, orient[0],
                                               orient[1], max_len):
                        path_nodes = ({orient[0].sort_key}
                                      | {s.far.sort_key for s in steps})
                        if not keys <= path_nodes:
                            continue
                        # up-then-down shape
                        dirs = [s.direction for s in steps]
                        k = 0
                        while k < len(dirs) and dirs[k] == "up":
                            k += 1
                        while k < len(dirs) and dirs[k] == "down":
                            k += 1
                        if k != len(dirs):
                            continue
                        sig = (orient[0].sort_key,
                               tuple((s.label, s.direction,
                                      s.far.sort_key) for s in steps))
                        if sig not in seen_paths:
                            seen_paths.add(sig)
                            results.append((orient[0], steps))
    return results


def _path_valid(steps) -> bool:
    """BuildPatterns.findPattern's bipath validity (scala:157-172)."""
    for s in steps:
        if s.label == "punct" or s.label == "dep":
            return False
        if not _WORD_RE.fullmatch(s.label):
            return False
    return True


def pattern_is_valid(p: Pattern) -> bool:
    """ExtractorPattern.valid (ExtractorPattern.scala:53-146)."""
    labels = [e.label for e in p.edge_matchers if e.label is not None]
    if "dep" in labels:
        return False
    if len(p.edge_matchers) == 2 and \
            sum(1 for l in labels if "prep" in l) > 1:
        return False
    if any(l.startswith("conj") for l in labels):
        return False

    def is_slot(m):
        return isinstance(m, NodeMatcher) and (m.alias or "").startswith(
            "slot")

    nm = p.node_matchers
    if nm and (is_slot(nm[0]) or is_slot(nm[-1])):
        return False
    # slot bordering an nn edge
    for i, m in enumerate(p.matchers):
        if is_slot(m):
            for j in (i - 1, i + 1):
                if 0 <= j < len(p.matchers):
                    adj = p.matchers[j]
                    if isinstance(adj, EdgeMatcher) and adj.label == "nn":
                        return False
    return True


@dataclass
class _Raw:
    """An un-substituted path element: literal node or final matcher."""

    node: Node | None = None
    matcher: NodeMatcher | None = None


def find_relation_patterns(graph: DependencyGraph, rel: str, arg1: str,
                           arg2: str, lemmas: set,
                           max_length: int | None = None):
    """-> list[(Pattern, slot_texts)] (BuildPatterns.scala:223-293).

    ``graph`` must already be lemmatized+normalized (the caller mirrors
    the reference's preprocessing; see induce_from_seed)."""
    replacements = [(arg1, "arg1"), (arg2, "arg2")]
    bipaths = [bp for bp in find_bipaths(lemmas, graph, max_length)
               if _path_valid(bp[1])]

    candidates = []
    for start, steps in bipaths:
        # raw elements: nodes and edges along the path
        elems: list = [_Raw(node=start)]
        edges = []
        for s in steps:
            edges.append(EdgeMatcher(s.direction, s.label))
            elems.append(_Raw(node=s.far))

        # substitute arguments (exact then partial text match)
        ok = True
        for target, alias in replacements:
            idx = next((i for i, el in enumerate(elems)
                        if el.matcher is None and el.node.text == target),
                       None)
            if idx is None:
                idx = next((i for i, el in enumerate(elems)
                            if el.matcher is None
                            and target in el.node.text), None)
            if idx is None:
                ok = False
                break
            if elems[idx].node.postag not in VALID_ARG_POSTAG:
                ok = False
                break
            elems[idx] = _Raw(matcher=NodeMatcher(alias))
        if ok:
            candidates.append((elems, edges))

    # arg1 must be the first capture
    def arg1_first(elems):
        for el in elems:
            if el.matcher is not None:
                return el.matcher.alias == "arg1"
        return False

    candidates = [(e, ed) for e, ed in candidates if arg1_first(e)]

    rel_lemmas = [w for w in rel.split(" ") if w in lemmas]

    out = []
    for elems, edges in candidates:
        elems = list(elems)
        # substitute rel captures
        try:
            for i, rl in enumerate(rel_lemmas):
                idx = next((k for k, el in enumerate(elems)
                            if el.matcher is None
                            and rl in el.node.text.split()), None)
                if idx is None:
                    raise LookupError(rl)
                alias = "rel" if (i == 0 and len(rel_lemmas) == 1) \
                    else f"rel{i}"
                elems[idx] = _Raw(matcher=NodeMatcher(
                    alias, postag=elems[idx].node.postag))
        except LookupError:
            continue

        # remaining literal nodes -> slots
        slot_texts = []
        slot_i = 0
        for k, el in enumerate(elems):
            if el.matcher is None:
                slot_texts.append(el.node.text)
                elems[k] = _Raw(matcher=NodeMatcher(
                    f"slot{slot_i}", postag=el.node.postag))
                slot_i += 1

        matchers = []
        for k, el in enumerate(elems):
            matchers.append(el.matcher)
            if k < len(edges):
                matchers.append(edges[k])
        out.append((Pattern(matchers), slot_texts))
    return out


def induce_from_seed(rel: str, arg1: str, arg2: str, lemmas: set,
                     pickled: str, max_length: int | None = None):
    """Full B4 per-seed step: deserialize, lemmatize, normalize, induce,
    validate."""
    graph = DependencyGraph.deserialize(pickled).normalize(
        lemmatize=lemmatize)
    if not any(n.postag.upper().startswith("VB") for n in graph.nodes):
        return []
    patterns = find_relation_patterns(graph, rel, arg1, arg2, lemmas,
                                      max_length)
    return [(p, s) for p, s in patterns if pattern_is_valid(p)]
