"""Sink serialization formats (R24: OllieCli.scala:46-96,
OllieExtraction.scala:118-191, OllieExtractionInstance.scala:51-80).

The reference's four output formats over our extraction results:
- interactive: human-readable block per sentence
- tabbed: conf \\t (triple) \\t enabler \\t attribution \\t text
- tabbedsingle: one escaped column for the whole extraction
- serialized: round-trippable TSV (parts as "text ;;; node; node...",
  '_' escaped as _UNSC_, tabs as _TAB_ — OllieExtraction.scala:29,129)
"""

from __future__ import annotations

from ..graph import Node, parse_node
from .build import Attribution, EnablingCondition
from .ollie import OllieExtractionResult


def _esc(s: str) -> str:
    return s.replace("_", "_UNSC_")


def _unesc(s: str) -> str:
    return s.replace("_UNSC_", "_")


def serialize_enabler(e: EnablingCondition | None) -> str:
    if e is None:
        return "None"
    return "_".join(_esc(x) for x in
                    (e.prefix, e.phrase, str(e.span[0]),
                     str(e.span[1] - 1)))


def deserialize_enabler(s: str) -> EnablingCondition | None:
    if s == "None":
        return None
    prefix, phrase, start, last = s.split("_")
    return EnablingCondition(_unesc(prefix), _unesc(phrase),
                             (int(start), int(last) + 1))


def serialize_attribution(a: Attribution | None) -> str:
    if a is None:
        return "None"
    return "_".join(_esc(x) for x in
                    (a.arg, a.rel, str(a.arg_span[0]),
                     str(a.arg_span[1] - 1), str(a.rel_span[0]),
                     str(a.rel_span[1] - 1)))


def deserialize_attribution(s: str) -> Attribution | None:
    if s == "None":
        return None
    arg, rel, a0, a1, r0, r1 = s.split("_")
    return Attribution(_unesc(arg), (int(a0), int(a1) + 1),
                       _unesc(rel), (int(r0), int(r1) + 1))


def serialize_part(text: str, span: tuple) -> str:
    """Part as ``text ;;; node`` (OllieExtraction.scala:173-175): a
    result carries no node provenance, so one synthetic node covers
    the span."""
    return text + " ;;; " + Node(text, "UNK", span[0], span[1], 0).serialize()


def deserialize_part(s: str) -> tuple[str, list[Node]]:
    text, nodes_s = s.split(" ;;; ")
    return text, [parse_node(x) for x in nodes_s.split("; ")]


def tab_serialize(r: OllieExtractionResult) -> str:
    """Round-trippable TSV row (OllieExtraction.tabSerialize)."""
    fields = [
        serialize_part(r.arg1_text, r.arg1_span),
        serialize_part(r.rel_text, r.rel_span),
        serialize_part(r.arg2_text, r.arg2_span),
        "%.5f" % r.openparse_conf,
        serialize_enabler(r.enabler),
        serialize_attribution(r.attribution),
    ]
    return "\t".join(f.replace("\t", "_TAB_") for f in fields)


def tab_deserialize(line: str) -> dict:
    """-> dict with the extraction payload (inverse of tab_serialize)."""
    cols = [c.replace("_TAB_", "\t") for c in line.split("\t")]
    a1t, a1n = deserialize_part(cols[0])
    rlt, rln = deserialize_part(cols[1])
    a2t, a2n = deserialize_part(cols[2])
    return {
        "arg1_text": a1t, "arg1_span": (a1n[0].start, a1n[-1].end),
        "rel_text": rlt, "rel_span": (rln[0].start, rln[-1].end),
        "arg2_text": a2t, "arg2_span": (a2n[0].start, a2n[-1].end),
        "openparse_conf": float(cols[3]),
        "enabler": deserialize_enabler(cols[4]),
        "attribution": deserialize_attribution(cols[5]),
    }


def format_tabbed(r: OllieExtractionResult, text: str = "") -> str:
    """The 'tabbed' CLI format (OllieCli.scala:63-74)."""
    return "\t".join([
        "%.3f" % r.conf,
        str(r),
        r.enabler.text if r.enabler else "",
        r.attribution.text if r.attribution else "",
        text,
    ])


def _whitespace_char_spans(text: str):
    tokens = text.split(" ")
    starts, pos = [], 0
    for t in tokens:
        starts.append(pos)
        pos += len(t) + 1

    def char_span(span):
        s, e = span
        if s >= len(tokens):
            return 0, 0
        e = min(e, len(tokens))
        return starts[s], starts[e - 1] + len(tokens[e - 1])

    return char_span


def brat_output(sentence, results, sentence_offset: int = 0) -> str:
    """R25 (ollie/output/BratOutput.scala:26-31,36-57): standoff
    annotations with REAL character offsets.

    ``sentence`` is the source DependencyGraph: each part's char
    interval is [first node's char offset, last node's offset + token
    length] and the annotation text is the substring of the original
    sentence over it — exact even when tokenization split punctuation
    the whitespace join can't reproduce ("Oslo." -> token "Oslo" + ".").
    ``sentence_offset`` shifts into document coordinates (the
    reference's Segment offset).

    Fallback: a plain string (or a graph whose node offsets don't
    locate their tokens in the text — synthetic graphs with zeroed
    offsets) reconstructs offsets from whitespace tokens.

    Entity/relation lines follow the reference: per extraction the
    Relation entity first, then Arg1/Arg2 entities (labels T<n>,
    0-based, document-scoped), then ``R<n> Arg1-of/Arg2-of`` relations
    binding each argument to the relation."""
    if isinstance(sentence, str):
        text, nodes = sentence, None
    else:
        text, nodes = sentence.text, sentence.nodes
        ok = all(0 <= n.offset and n.offset + len(n.text) <= len(text)
                 and text[n.offset:n.offset + len(n.text)] == n.text
                 for n in nodes)
        if not ok:
            nodes = None

    if nodes is not None:
        def char_span(span):
            toks = nodes[span[0]:span[1]]
            return toks[0].offset, toks[-1].offset + len(toks[-1].text)
    else:
        char_span = _whitespace_char_spans(text)

    lines = []
    t_i, r_i = 0, 0
    for r in results:
        def entity(kind, span):
            nonlocal t_i
            c0, c1 = char_span(span)
            label = f"T{t_i}"
            t_i += 1
            return label, (f"{label}\t{kind} {sentence_offset + c0} "
                           f"{sentence_offset + c1}\t{text[c0:c1]}")

        # labels assign args-first (T0=arg1, T1=arg2, T2=rel) but the
        # relation entity prints first — BratOutput.scala:37-50
        arg1, arg1_line = entity("Argument", r.arg1_span)
        arg2, arg2_line = entity("Argument", r.arg2_span)
        rel, rel_line = entity("Relation", r.rel_span)
        lines += [rel_line, arg1_line, arg2_line]
        for arg_label, edge in ((arg1, "Arg1"), (arg2, "Arg2")):
            lines.append(f"R{r_i}\t{edge}-of Arg1:{rel} "
                         f"Arg2:{arg_label}")
            r_i += 1
    return "\n".join(lines)


def format_interactive(results, text: str = "") -> str:
    """The default human-readable format (OllieCli.scala:49-60)."""
    lines = [text]
    for r in results:
        lines.append("%.3f: %s" % (r.conf, str(r)))
    if len(lines) == 1:
        lines.append("No extractions found.")
    return "\n".join(lines)
