"""Dependency-graph data model and pickle codec.

The sentence representation the whole engine works over: a list of
tokens (with POS tag, token-index interval, char offset) plus labeled
directed edges governor -> dependent.  The serialized ("pickled") text
format is the reference's graph interchange format
(/root/reference/core test specs, e.g. OllieSpec.scala:21):

    (standalone ", ")* edge ("; " edge)*
    standalone := "(" node ")"
    edge       := label "(" node ", " node ")"
    node       := text "_" POSTAG "_" tokenIndex "_" charOffset

Token intervals are half-open [start, end); a single token i covers
[i, i+1).  Graph simplifications mirror the reference's runtime path
(OpenParse.scala:38-54): Stanford-style collapsing (prep/pobj ->
prep_X, conj/cc -> conj_X) and postag simplification (NNS->NN, ...).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property
from operator import attrgetter

_SORT_KEY = attrgetter("sort_key")  # C-level key fn for the hot sorts


# ---------------------------------------------------------------- intervals

def span_of(intervals):
    """Smallest half-open interval covering all (start, end) pairs."""
    # single pass, no genexpr allocation: this runs ~25x per sentence
    # inside the extraction UDF
    lo = hi = None
    for s, e in intervals:
        if lo is None:
            lo, hi = s, e
        else:
            if s < lo:
                lo = s
            if e > hi:
                hi = e
    return (0, 0) if lo is None else (lo, hi)


def intersects(a, b):
    return a[0] < b[1] and b[0] < a[1]


def borders(a, b):
    """Adjacent but not overlapping: [x, b) borders [b, y)."""
    return a[1] == b[0] or b[1] == a[0]


def superset(a, b):
    return a[0] <= b[0] and a[1] >= b[1]


def interval_distance(a, b):
    """max(a.min - b.max, b.min - a.max) with inclusive max = end - 1.

    Adjacent tokens have distance 1; overlapping intervals < 1.
    """
    return max(a[0] - (b[1] - 1), b[0] - (a[1] - 1))


def interval_lt(a, b):
    """Lexicographic (start, end) ordering used for 'before' checks."""
    return a < b


# ------------------------------------------------------------------- nodes

PRONOUN_TAGS = frozenset({"PRP", "PRP$", "WP", "WP$"})


class Node:
    """A token: text, POS tag, covered token interval, char offset.

    Hand-rolled slots class (not a dataclass): Node is the hot
    allocation of the extraction core — every traversal touches sort
    keys and every graph transform re-creates tokens.  A per-instance
    __dict__ measurably lowers multi-worker scaling (the pipeline is
    memory-bandwidth bound at high core counts), and the dataclass
    __init__/__post_init__ chain costs ~20% of single-core throughput.
    Treat instances as immutable."""

    __slots__ = ("text", "postag", "start", "end", "offset", "sort_key",
                 "indices", "_hash")

    def __init__(self, text, postag, start, end, offset=0):
        self.text = text
        self.postag = postag
        self.start = start      # first token index covered
        self.end = end          # one past the last token index covered
        self.offset = offset    # char offset in the source sentence
        self.sort_key = (start, end, text)
        # precomputed: `indices` was a property allocating a fresh tuple
        # per access (~100x per sentence in the extraction core) and
        # Node hashing re-hashed the sort_key tuple per set/dict op
        self.indices = (start, end)
        self._hash = hash(self.sort_key)

    def __eq__(self, other):
        return (isinstance(other, Node)
                and self.sort_key == other.sort_key
                and self.postag == other.postag
                and self.offset == other.offset)

    def __hash__(self):
        return self._hash

    def __repr__(self):
        return (f"Node({self.text!r}, {self.postag!r}, {self.start}, "
                f"{self.end}, {self.offset})")

    @property
    def is_proper_noun(self):
        return self.postag == "NNP" or self.postag == "NNPS"

    @property
    def is_pronoun(self):
        return self.postag in PRONOUN_TAGS

    @property
    def is_noun(self):
        return self.postag.startswith("NN")

    @property
    def is_verb(self):
        return self.postag.startswith("VB") or self.postag == "MD"

    @property
    def is_verb_gerund(self):
        return self.postag == "VBG"

    def with_postag(self, postag):
        return Node(self.text, postag, self.start, self.end, self.offset)

    def serialize(self):
        return f"{self.text}_{self.postag}_{self.start}_{self.offset}"


class Edge:
    """A labeled dependency edge from governor (src) to dependent
    (dst).  Hand-rolled slots class — see Node."""

    __slots__ = ("label", "src", "dst")

    def __init__(self, label, src, dst):
        self.label = label
        self.src = src
        self.dst = dst

    def __eq__(self, other):
        return (isinstance(other, Edge) and self.label == other.label
                and self.src == other.src and self.dst == other.dst)

    def __hash__(self):
        return hash((self.label, self.src.sort_key, self.dst.sort_key))

    def __repr__(self):
        return f"Edge({self.label!r}, {self.src!r}, {self.dst!r})"

    def nodes(self):
        return (self.src, self.dst)


def parse_node(s: str) -> Node:
    """Parse ``text_POSTAG_index_offset``; text itself may contain '_'."""
    parts = s.rsplit("_", 3)
    if len(parts) != 4:
        raise ValueError(f"bad node pickle: {s!r}")
    text, postag, idx, off = parts
    i = int(idx)
    return Node(text, postag, i, i + 1, int(off))


# ------------------------------------------------------------------- graph

# postag simplification of the reference runtime (plural -> singular).
_SIMPLIFY_POSTAG = {"NNS": "NN", "NNPS": "NNP", "JJS": "JJ"}


class DependencyGraph:
    """A sentence's dependency graph.

    ``nodes`` contains every token (including standalone tokens that the
    collapsed tree dropped, e.g. collapsed prepositions); ``edges`` the
    labeled tree/graph edges.
    """

    __slots__ = ("nodes", "edges", "_text", "__dict__")

    def __init__(self, nodes, edges, text=None):
        seen = {}
        for n in list(nodes) + [n for e in edges for n in (e.src, e.dst)]:
            seen.setdefault(n.sort_key, n)
        self.nodes = sorted(seen.values(), key=_SORT_KEY)
        self.edges = list(edges)
        self._text = text

    # -- codec ------------------------------------------------------------

    @classmethod
    def deserialize(cls, pickled: str, text: str | None = None) -> "DependencyGraph":
        nodes, edges = [], []
        for chunk in _split_pickle(pickled):
            chunk = chunk.strip()
            if not chunk:
                continue
            if chunk.startswith("(") and chunk.endswith(")") and "(" not in chunk[1:]:
                nodes.append(parse_node(chunk[1:-1]))
            else:
                lparen = chunk.index("(")
                label = chunk[:lparen]
                inner = chunk[lparen + 1:chunk.rindex(")")]
                src_s, dst_s = inner.split(", ", 1)
                edges.append(Edge(label, parse_node(src_s), parse_node(dst_s)))
        return cls(nodes, edges, text=text)

    def serialize(self) -> str:
        attached = {n.sort_key for e in self.edges for n in (e.src, e.dst)}
        standalone = [f"({n.serialize()})" for n in self.nodes
                      if n.sort_key not in attached]
        edges = [f"{e.label}({e.src.serialize()}, {e.dst.serialize()})"
                 for e in self.edges]
        return ", ".join(standalone + [("; ".join(edges))]) if standalone \
            else "; ".join(edges)

    @property
    def text(self) -> str:
        if self._text is not None:
            return self._text
        return " ".join(n.text for n in self.nodes)

    @property
    def interval(self):
        return span_of(n.indices for n in self.nodes)

    # -- adjacency ---------------------------------------------------------

    @cached_property
    def _out(self):
        # one pass builds both directions (the first adjacency access
        # plants the other side's cache too)
        out, inc = {}, {}
        for e in self.edges:
            out.setdefault(e.src.sort_key, []).append(e)
            inc.setdefault(e.dst.sort_key, []).append(e)
        self.__dict__["_in"] = inc
        return out

    @cached_property
    def _in(self):
        self._out  # builds and caches both sides
        return self.__dict__["_in"]

    @cached_property
    def edge_labels(self):
        return frozenset(e.label for e in self.edges)

    @cached_property
    def edges_by_label(self):
        idx = {}
        for e in self.edges:
            idx.setdefault(e.label, []).append(e)
        return idx

    def out_edges(self, node):
        return self._out.get(node.sort_key, ())

    def in_edges(self, node):
        return self._in.get(node.sort_key, ())

    def incident(self, node):
        """All edges touching node (both directions)."""
        return list(self.out_edges(node)) + list(self.in_edges(node))

    def predecessors(self, node, pred=None):
        """Governors of node via in-edges satisfying pred(edge)."""
        return [e.src for e in self.in_edges(node) if pred is None or pred(e)]

    def inferiors(self, node, pred=None):
        """node plus all descendants reachable via edges satisfying pred."""
        seen = {node.sort_key: node}
        stack = [node]
        while stack:
            cur = stack.pop()
            for e in self.out_edges(cur):
                if (pred is None or pred(e)) and e.dst.sort_key not in seen:
                    seen[e.dst.sort_key] = e.dst
                    stack.append(e.dst)
        return list(seen.values())

    def connected(self, node, dpred):
        """node plus everything reachable over edges in either direction.

        ``dpred(edge, down)`` sees the traversal direction: down=True when
        following governor->dependent, with ``end`` = the far node.
        """
        seen = {node.sort_key: node}
        stack = [node]
        while stack:
            cur = stack.pop()
            for e in self.out_edges(cur):
                if e.dst.sort_key not in seen and dpred(e, True):
                    seen[e.dst.sort_key] = e.dst
                    stack.append(e.dst)
            for e in self.in_edges(cur):
                if e.src.sort_key not in seen and dpred(e, False):
                    seen[e.src.sort_key] = e.src
                    stack.append(e.src)
        return list(seen.values())

    # -- simplifications ----------------------------------------------------

    def simplify_postags(self) -> "DependencyGraph":
        if not any(n.postag in _SIMPLIFY_POSTAG for n in self.nodes):
            return self
        def fix(n):
            t = _SIMPLIFY_POSTAG.get(n.postag)
            return n if t is None else n.with_postag(t)
        return self._map_nodes(fix)

    def _map_nodes(self, fix):
        mapping = {n.sort_key: fix(n) for n in self.nodes}
        if all(v is self.nodes[i] for i, v in enumerate(mapping.values())):
            return self  # fixpoint: nothing to rebuild
        # reuse untouched Edge objects — most transforms change few nodes
        edges = [e if (mapping.get(e.src.sort_key, e.src) is e.src
                       and mapping.get(e.dst.sort_key, e.dst) is e.dst)
                 else Edge(e.label,
                           mapping.get(e.src.sort_key, e.src),
                           mapping.get(e.dst.sort_key, e.dst))
                 for e in self.edges]
        return DependencyGraph(mapping.values(), edges, text=self._text)

    def lemmatized(self, lemmatize) -> "DependencyGraph":
        """Replace every token's text with its lemma (the reference's
        ``map(_.lemmatize(MorphaStemmer))``, BuildPatterns.scala:79)."""
        return self._map_nodes(
            lambda n: Node(lemmatize(n.text), n.postag, n.start, n.end,
                           n.offset))

    def collapse_noun_groups(self) -> "DependencyGraph":
        """Merge contiguous nn-connected token groups into one node
        (nlptools collapseNounGroups, used at BuildPatterns.scala:81).
        Only merges when the group covers a contiguous index range."""
        # connected components over nn edges
        parent = {}

        def find(k):
            while parent[k] != k:
                parent[k] = parent[parent[k]]
                k = parent[k]
            return k

        for n in self.nodes:
            parent[n.sort_key] = n.sort_key
        for e in self.edges:
            if e.label == "nn":
                a, b = find(e.src.sort_key), find(e.dst.sort_key)
                if a != b:
                    parent[a] = b
        groups = {}
        for n in self.nodes:
            groups.setdefault(find(n.sort_key), []).append(n)

        mapping = {}
        for members in groups.values():
            if len(members) < 2:
                continue
            members.sort(key=_SORT_KEY)
            lo = min(n.start for n in members)
            hi = max(n.end for n in members)
            if hi - lo != sum(n.end - n.start for n in members):
                continue  # not contiguous — leave unmerged
            # head = the governor of the internal nn edges
            dsts = {e.dst.sort_key for e in self.edges if e.label == "nn"}
            head = next((n for n in members if n.sort_key not in dsts),
                        members[-1])
            merged = Node(" ".join(n.text for n in members), head.postag,
                          lo, hi, min(n.offset for n in members))
            for n in members:
                mapping[n.sort_key] = merged
        return self._remap(mapping)

    def collapse_nnp_of(self) -> "DependencyGraph":
        """Merge ``X of Y`` proper-noun pairs joined by prep_of into one
        node (nlptools collapseNNPOf): X_NNP >prep_of> Y_NNP with
        exactly the 'of' token between them."""
        mapping = {}
        for e in self.edges:
            if (e.label == "prep_of" and e.src.postag.startswith("NNP")
                    and e.dst.postag.startswith("NNP")
                    and e.dst.start == e.src.end + 1):
                merged = Node(f"{e.src.text} of {e.dst.text}", e.src.postag,
                              e.src.start, e.dst.end, e.src.offset)
                mapping[e.src.sort_key] = merged
                mapping[e.dst.sort_key] = merged
                # the absorbed 'of' token disappears from the node list
                for n in self.nodes:
                    if n.start == e.src.end and n.end == e.dst.start:
                        mapping[n.sort_key] = merged
        return self._remap(mapping)

    def _remap(self, mapping) -> "DependencyGraph":
        if not mapping:
            return self
        def m(n):
            return mapping.get(n.sort_key, n)
        nodes = {m(n).sort_key: m(n) for n in self.nodes}
        edges = []
        seen = set()
        for e in self.edges:
            src, dst = m(e.src), m(e.dst)
            if src.sort_key == dst.sort_key:
                continue  # internal edge collapsed away
            key = (e.label, src.sort_key, dst.sort_key)
            if key not in seen:
                seen.add(key)
                edges.append(Edge(e.label, src, dst))
        return DependencyGraph(nodes.values(), edges, text=self._text)

    def normalize(self, lemmatize=None) -> "DependencyGraph":
        """nlptools ``normalize``: collapseNounGroups + collapseNNPOf +
        simplifyPostags (BuildPatternsSpec.scala:17)."""
        g = self
        if lemmatize is not None:
            g = g.lemmatized(lemmatize)
        return (g.collapse_noun_groups().collapse_nnp_of()
                .simplify_postags())

    def collapse(self) -> "DependencyGraph":
        """Stanford-style collapsing: prep+pobj -> prep_X(gov, obj),
        prep+pcomp -> prepc_X, conj+cc -> conj_X.  Absorbed tokens stay
        in ``nodes`` as standalone tokens (needed for span expansion).
        Already-collapsed graphs pass through unchanged.
        """
        if not any(e.label in ("prep", "cc", "pobj", "pcomp")
                   or e.label.startswith("conj") for e in self.edges):
            return self
        out = self._out
        drop = set()
        new_edges = []
        # conjunction labels: find cc children per governor
        cc_word = {}
        for e in self.edges:
            if e.label == "cc":
                cc_word[e.src.sort_key] = e.dst.text.lower()
        for e in self.edges:
            if e.label == "prep":
                prep = e.dst
                objs = [x for x in out.get(prep.sort_key, ()) if x.label == "pobj"]
                comps = [x for x in out.get(prep.sort_key, ()) if x.label == "pcomp"]
                if objs:
                    for o in objs:
                        new_edges.append(Edge("prep_" + prep.text.lower(), e.src, o.dst))
                    drop.add(("edge", id(e)))
                    continue
                if comps:
                    for o in comps:
                        new_edges.append(Edge("prepc_" + prep.text.lower(), e.src, o.dst))
                    drop.add(("edge", id(e)))
                    continue
                new_edges.append(e)
            elif e.label in ("pobj", "pcomp") and any(
                    pe.label == "prep" and pe.dst.sort_key == e.src.sort_key
                    for pe in self.in_edges(e.src)):
                continue  # absorbed into prep_X above
            elif e.label == "cc" and e.src.sort_key in cc_word:
                continue  # absorbed into conj_X
            elif e.label == "conj" and e.src.sort_key in cc_word:
                new_edges.append(Edge("conj_" + cc_word[e.src.sort_key], e.src, e.dst))
            else:
                new_edges.append(e)
        new_edges = _propagate_conjuncts(new_edges)
        return DependencyGraph(self.nodes, new_edges, text=self._text)


# CC-processed propagation (Stanford collapsed-CC semantics, evidenced
# by the reference's emitted triples on its own training sentences):
# - conjoined predicates SHARE SUBJECTS ('was called back ... and
#   registered' -> nsubjpass on both verbs): outgoing subject edges copy
#   across the conj edge;
# - conjoined arguments share their governor's relation ('left Death
#   Row Records and the music industry' -> dobj to both): incoming core
#   edges copy across the conj edge.
# Object/prep edges do NOT copy onto conjoined verbs — the reference's
# rel expansion emits plain 'wrote' for 'X wrote a report ... and Y
# wrote a report ...', which a propagated dobj would break.
_CONJ_SHARE_SUBJECT = frozenset({"nsubj", "nsubjpass", "csubj",
                                 "csubjpass"})
_CONJ_SHARE_GOVERNOR = frozenset({"nsubj", "nsubjpass", "dobj", "iobj",
                                  "pobj", "agent"})


def _propagate_conjuncts(edges):
    for _ in range(3):
        present = {(e.label, e.src.sort_key, e.dst.sort_key)
                   for e in edges}
        subj_by_src, in_by_dst = {}, {}
        for e in edges:
            if e.label in _CONJ_SHARE_SUBJECT:
                subj_by_src.setdefault(e.src.sort_key, []).append(e)
            if e.label in _CONJ_SHARE_GOVERNOR \
                    or e.label.startswith("prep"):
                in_by_dst.setdefault(e.dst.sort_key, []).append(e)
        added = []

        def copy(label, src, dst):
            key = (label, src.sort_key, dst.sort_key)
            if key not in present and src.sort_key != dst.sort_key:
                present.add(key)
                added.append(Edge(label, src, dst))

        for c in [e for e in edges if e.label.startswith("conj")]:
            for a, b in ((c.src, c.dst), (c.dst, c.src)):
                # conjoined verbs share their subjects
                for e in subj_by_src.get(a.sort_key, ()):
                    copy(e.label, b, e.dst)
                # conjoined dependents share their governor's relation
                for e in in_by_dst.get(a.sort_key, ()):
                    if e.src.sort_key != b.sort_key:
                        copy(e.label, e.src, b)
        if not added:
            break
        edges = list(edges) + added
    return edges


def _split_pickle(pickled: str):
    """Split the pickle on top-level ', ' / '; ' separators.

    Node text may contain commas (e.g. ',_,_24_0'), so track parens:
    a separator only counts at depth 0.
    """
    chunks, depth, start, i = [], 0, 0, 0
    n = len(pickled)
    while i < n:
        c = pickled[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif depth == 0 and (c == "," or c == ";") and i + 1 < n and pickled[i + 1] == " ":
            chunks.append(pickled[start:i])
            i += 2
            start = i
            continue
        i += 1
    chunks.append(pickled[start:])
    return chunks
