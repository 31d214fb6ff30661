"""Dependency-path pattern grammar and matcher.

Pattern text form (the reference model's serialization, e.g.
openparse.model:7 and PatternExtractorSpec):

    {arg1} <nsubj< {rel:postag=VBD} >dobj> {arg2}
    {arg1} >appos> {rel:postag=NN} >{prep:regex=prep_(.*)}> {arg2}

A pattern is an alternating sequence of node matchers and edge matchers
describing a path through the dependency graph:

- ``{alias}``                 capture any node under ``alias``
- ``{alias:postag=X}``        postag must equal X
- ``{alias:postag=X:regex=R}``  and the token's lemma must fullmatch R
- ``>label>``                 traverse governor -> dependent
- ``<label<``                 traverse dependent -> governor
- ``>{alias:regex=R}>``       captured edge whose label matches R; the
                              captured text is R's first group (e.g.
                              ``prep_(.*)`` captures ``of``)

Capture aliases are classified by prefix exactly like the reference
(ExtractorPattern.scala:32-37): ``arg*`` arguments, ``rel*`` relations,
``slo*`` slots.

Matching enumerates simple paths (distinct nodes, distinct edges) and
yields one Match per binding; `match_pattern(graph, start=node)` anchors
the first node matcher on ``node``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import cached_property
from itertools import islice

from ..graph import DependencyGraph, Edge, Node
from .lemmatizer import lemmatize


@dataclass(frozen=True)
class NodeMatcher:
    alias: str | None = None          # None = anonymous/trivial
    postag: str | None = None
    regex: str | None = None          # lemma regex (fullmatch)

    @cached_property
    def _compiled(self):
        # lazy: the model's semantic-class regexes are huge alternations
        # whose compilation dominates model load; most patterns are
        # pruned by the feasibility prefilter before ever matching
        return re.compile(self.regex) if self.regex is not None else None

    @cached_property
    def _literal_set(self):
        # every semantic-class regex in the shipped model is a PURE
        # literal alternation (only word chars / space / hyphen /
        # apostrophe between '|'s), so fullmatch(s) == membership in
        # the alternative set.  frozenset construction is ~1000x
        # cheaper than re.compile of a 64 KB alternation — which
        # otherwise costs every fresh python worker ~2s at import
        # storm — and lookup beats fullmatch.  Anything with a real
        # metacharacter falls back to re (_compiled stays lazy and is
        # then never built for literal matchers).
        if self.regex is not None \
                and re.fullmatch(r"[\w|' \-]+", self.regex):
            return frozenset(self.regex.split("|"))
        return None

    @property
    def kind(self) -> str | None:
        if self.alias is None:
            return None
        p = self.alias[:3]
        return {"arg": "argument", "rel": "relation", "slo": "slot"}.get(p)

    @cached_property
    def trivial(self) -> bool:
        return self.postag is None and self.regex is None

    @cached_property
    def _regex_memo(self) -> dict:
        # per-matcher token-text -> bool memo: the semantic-class
        # regexes are huge alternations whose fullmatch dominates
        # non-trivial node matching, and worker vocab repeats heavily.
        # Bounded (halved at 64k entries) so a web-scale worker can't
        # grow it without limit.  Keyed by RAW token text while the
        # result depends on lemmatize(text) — sound because lemmatize
        # is a pure function of its argument (suffix rules + frozen
        # exception table, no state).
        return {}

    def matches(self, node: Node) -> bool:
        if self.postag is not None and node.postag != self.postag:
            return False
        if self.regex is not None:
            memo = self._regex_memo
            t = node.text
            r = memo.get(t)
            if r is None:
                if len(memo) >= 65536:
                    # evict the oldest half (dict preserves insertion
                    # order) instead of clearing: no periodic full
                    # recompute spike on high-vocabulary corpora
                    for k in list(islice(iter(memo), len(memo) // 2)):
                        del memo[k]
                lem = lemmatize(t)
                lit = self._literal_set
                r = (lem in lit) if lit is not None \
                    else self._compiled.fullmatch(lem) is not None
                memo[t] = r
            return r
        return True

    def serialize(self) -> str:
        parts = [self.alias or ""]
        if self.postag is not None:
            parts.append(f"postag={self.postag}")
        if self.regex is not None:
            parts.append(f"regex={self.regex}")
        return "{" + ":".join(parts) + "}"


@dataclass(frozen=True)
class EdgeMatcher:
    direction: str                    # 'down' (>..>) or 'up' (<..<)
    label: str | None = None          # exact label
    alias: str | None = None          # captured edge alias
    regex: str | None = None          # label regex

    @cached_property
    def _compiled(self):
        return re.compile(self.regex) if self.regex is not None else None

    def matches_label(self, label: str) -> bool:
        if self.label is not None:
            return label == self.label
        m = self._compiled.fullmatch(label)
        return m is not None

    def captured_text(self, label: str) -> str | None:
        if self.alias is None:
            return None
        m = self._compiled.fullmatch(label)
        if m is None:
            return None
        return m.group(1) if m.groups() else m.group(0)

    def serialize(self) -> str:
        if self.label is not None:
            inner = self.label
        else:
            inner = "{" + f"{self.alias or ''}:regex={self.regex}" + "}"
        return f">{inner}>" if self.direction == "down" else f"<{inner}<"


_NODE_RE = re.compile(r"^\{([^}]*)\}$")


def _parse_node_matcher(tok: str) -> NodeMatcher:
    m = _NODE_RE.match(tok)
    if not m:
        raise ValueError(f"bad node matcher: {tok!r}")
    inner = m.group(1)
    alias, postag, regex = None, None, None
    # alias[:postag=X][:regex=R] — regex may itself contain ':'
    head, _, rest = inner.partition(":")
    alias = head or None
    while rest:
        if rest.startswith("postag="):
            val, _, rest = rest[len("postag="):].partition(":")
            # regex may follow; a postag never contains ':'
            if rest and not rest.startswith("regex="):
                val2, _, rest2 = rest.partition(":")
                val, rest = val + ":" + val2, rest2
            postag = val
        elif rest.startswith("regex="):
            regex = rest[len("regex="):]
            rest = ""
        else:
            raise ValueError(f"bad node constraint in {tok!r}")
    return NodeMatcher(alias, postag, regex)


def _parse_edge_matcher(tok: str) -> EdgeMatcher:
    if tok.startswith(">") and tok.endswith(">"):
        direction = "down"
    elif tok.startswith("<") and tok.endswith("<"):
        direction = "up"
    else:
        raise ValueError(f"bad edge matcher: {tok!r}")
    inner = tok[1:-1]
    if inner.startswith("{") and inner.endswith("}"):
        body = inner[1:-1]
        alias, _, rest = body.partition(":")
        if not rest.startswith("regex="):
            raise ValueError(f"bad captured edge matcher: {tok!r}")
        regex = rest[len("regex="):]
        return EdgeMatcher(direction, None, alias or None, regex)
    return EdgeMatcher(direction, inner)


class Pattern:
    """A compiled dependency-path pattern."""

    __slots__ = ("matchers", "node_matchers", "edge_matchers", "source",
                 "required_labels", "has_regex_edge", "required_postags",
                 "_steps")

    def __init__(self, matchers, source=None):
        self.matchers = list(matchers)
        self.node_matchers = self.matchers[0::2]
        self.edge_matchers = self.matchers[1::2]
        self.source = source
        # R7 feasibility index: exact labels every match needs
        self.required_labels = frozenset(
            e.label for e in self.edge_matchers if e.label is not None)
        self.has_regex_edge = any(
            e.regex is not None for e in self.edge_matchers)
        # exact postags every match needs (a {x:postag=VBD} matcher can
        # only bind a VBD token) — checked against the sentence's
        # postag set before any path enumeration
        self.required_postags = frozenset(
            m.postag for m in self.node_matchers if m.postag is not None)
        # precomputed matcher-step tuples for the dfs hot loop: exact
        # labels and trivial node matchers are the overwhelmingly common
        # case in the learned model, and checking them inline avoids
        # two method calls per candidate edge (the extraction core's
        # hottest path; allocation/call volume bounds multi-core
        # scaling)
        self._steps = [
            (em.direction == "down", em.label, em, nm,
             nm.trivial, nm.alias, em.alias)
            for em, nm in zip(self.edge_matchers, self.node_matchers[1:])]

    @classmethod
    def deserialize(cls, s: str) -> "Pattern":
        toks = s.split()
        matchers = []
        for i, tok in enumerate(toks):
            if i % 2 == 0:
                matchers.append(_parse_node_matcher(tok))
            else:
                matchers.append(_parse_edge_matcher(tok))
        if len(matchers) % 2 == 0:
            raise ValueError(f"pattern must end on a node matcher: {s!r}")
        return cls(matchers, source=s)

    def serialize(self) -> str:
        return " ".join(m.serialize() for m in self.matchers)

    def __repr__(self):
        return f"Pattern({self.serialize()!r})"

    # -- pattern-level properties used by features / validity ---------------

    @property
    def has_nn_edge(self) -> bool:
        return "nn" in self.required_labels

    @property
    def semantic(self) -> bool:
        """Any relation matcher carries a lemma-regex constraint
        (ExtractorPattern.scala:48-51)."""
        return any(m.kind == "relation" and m.regex is not None
                   for m in self.node_matchers)

    @property
    def last_prep(self) -> str | None:
        """The final prep edge's preposition: '{prep}' for a captured
        regex edge, the literal preposition for prep_X labels
        (TemplateExtractor.scala:44-49)."""
        last = None
        for e in self.edge_matchers:
            if e.label is not None and e.label.startswith("prep_"):
                last = e.label[5:]
            elif e.regex is not None and e.regex == "prep_(.*)":
                last = "{prep}"
        return last


class Match:
    """A binding of pattern captures onto graph nodes/edges."""

    __slots__ = ("node_groups", "edge_groups", "edges", "path")

    def __init__(self, node_groups, edge_groups, edges, path):
        self.node_groups = node_groups      # alias -> Node
        self.edge_groups = edge_groups      # alias -> captured text
        self.edges = edges                  # matched Edge list, path order
        self.path = path                    # Node list, path order

    def group_text(self, name: str) -> str:
        if name in self.node_groups:
            return self.node_groups[name].text
        return self.edge_groups[name]


def match_pattern(pattern: Pattern, graph: DependencyGraph,
                  start: Node | None = None) -> list[Match]:
    """Enumerate all matches of ``pattern`` in ``graph``.

    With ``start``, the first node matcher is anchored on that node
    (the reference's ``pattern.apply(graph, node)``).
    """
    matchers = pattern.matchers
    steps = pattern._steps
    nsteps = len(steps)
    first = matchers[0]
    results: list[Match] = []
    out_map = graph._out
    in_map = graph._in
    _empty = ()

    def dfs(pos, node, node_groups, edge_groups, edges, path, used):
        if pos == nsteps:
            results.append(Match(dict(node_groups), dict(edge_groups),
                                 list(edges), list(path)))
            return
        down, label, em, nm, trivial, nm_alias, em_alias = steps[pos]
        for e in (out_map.get(node.sort_key, _empty) if down
                  else in_map.get(node.sort_key, _empty)):
            if id(e) in used:
                continue
            if label is not None:
                if e.label != label:
                    continue
            elif not em.matches_label(e.label):
                continue
            far = e.dst if down else e.src
            if far.sort_key in path or not (trivial or nm.matches(far)):
                continue
            if nm_alias:
                node_groups[nm_alias] = far
            if em_alias:
                edge_groups[em_alias] = em.captured_text(e.label)
            used.add(id(e))
            path[far.sort_key] = far
            edges.append(e)
            dfs(pos + 1, far, node_groups, edge_groups, edges, path, used)
            edges.pop()
            del path[far.sort_key]
            used.discard(id(e))
            if em_alias:
                edge_groups.pop(em_alias, None)
            if nm_alias:
                node_groups.pop(nm_alias, None)

    if start is not None:
        starts = [start]
    elif len(matchers) > 1 and matchers[1].label is not None:
        # anchor on the first edge matcher's label: candidate starts are
        # the near endpoints of edges carrying that label
        em = matchers[1]
        cand = graph.edges_by_label.get(em.label, ())
        seen, starts = set(), []
        for e in cand:
            n = e.src if em.direction == "down" else e.dst
            if n.sort_key not in seen:
                seen.add(n.sort_key)
                starts.append(n)
    else:
        starts = graph.nodes
    first_trivial = first.trivial
    for n in starts:
        if not (first_trivial or first.matches(n)):
            continue
        ng = {first.alias: n} if first.alias else {}
        dfs(0, n, ng, {}, [], {n.sort_key: n}, set())
    return results
