"""SAX-style event stream over a parsed document.

Parity target: the reference's callback API (html-parser.ts:85-213, event
kinds at :185-187) and its reconstitution contract (html-parser.spec.ts:
57-120: concatenating the source text of every fired event rebuilds the
document byte-identically). This is the reference's primary extensibility
surface — per-token processing without touching the DOM.

Spark-first design: events are a lazy *iterator view over the parse*
(an explicit-stack walk of the node arrays, same order/branches as
``DocBuilder.serialize``), not parser-interleaved callbacks — the kernel
already owns the parse loop, and a view keeps the hot path untouched. The
event *sequence and payloads* match the reference's callbacks; memory is
O(document) because the node arrays exist either way in this engine.
``request-data`` has no batch equivalent — in the streaming pipeline the
micro-batch boundary plays that role (streaming.py docstring).

The 15 reference event kinds map as:

=================  ========================================================
reference event    here
=================  ========================================================
attribute          ``Event('attribute', (spacing, name, equals, value,
                   quote))``
cdata / comment /  ``Event(kind, (content, terminated))``
declaration /
processing
doctype            ``Event('doctype', (dt_type, variety, version, content,
                   terminated))``
encoding           ``Event('encoding', (charset, explicit))`` — fired once
                   before ``completion`` when a charset was declared (the
                   reference fires it mid-parse; position is irrelevant to
                   reconstitution since its source text is empty)
end-tag            ``Event('end-tag', (tag, trailing))``
error              ``Event('error', (message, line, column, source))`` —
                   unmatched closing tags; source reconstitutes
start-tag-start    ``Event('start-tag-start', (tag,))``
start-tag-end      ``Event('start-tag-end', (inner_ws, end, terminated))``
                   — ``end`` is the literal terminator ('>', '/>', or the
                   malformed/EOF-truncated text), so reconstitution never
                   needs the error channel the reference uses for bad ends
text               ``Event('text', (content, possible_entities))``
completion         ``Event('completion', ())`` — always last
generic            :func:`to_generic` maps any event to (depth, text)
request-data       n/a in batch; micro-batches play this role in streaming
=================  ========================================================
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

from . import dom as D
from .dom import (
    N_ATTR_EQUALS, N_ATTR_NAMES, N_ATTR_QUOTES, N_ATTR_SPACING, N_ATTR_VALUES,
    N_BAD_TERM, N_CHILDREN, N_CLOSURE, N_CONTENT, N_END_TAG, N_INNER_WS, N_KIND,
    N_POSS_ENT, N_SRC_END, N_SRC_START, N_SYNTHETIC, N_TAG, N_TERMINATED,
    DocBuilder, cq, oq,
)
from .parser import ParseResult

__all__ = ["Event", "parse_events", "iter_events", "to_generic",
           "reconstitute", "GENERIC_EVENTS"]


class Event(NamedTuple):
    kind: str
    depth: int
    args: tuple
    src: str        # the exact reconstitution text this event accounts for
    # source span: the region of the parsed text this event covers
    # (start-tag-start = the '<tag' run; end-tag = the end-tag run, exact
    # even for the reference-lossy '</ p>' shape when the source text is
    # supplied; leaves = the whole node). -1 when no source region exists
    # (attributes / start-tag-end share the element's tag region;
    # synthesized nodes).
    start: int
    end: int


#: events the reference folds into the 'generic' callback
#: (html-parser.ts:189-190 CAN_BE_HANDLED_GENERICALLY)
GENERIC_EVENTS = frozenset({
    "attribute", "cdata", "comment", "declaration", "end-tag", "error",
    "processing", "start-tag-end", "start-tag-start", "text",
})


def iter_events(b: DocBuilder, node: int = 0, *,
                charset: str | None = None,
                source: str | None = None) -> Iterator[Event]:
    """Yield events for ``node``'s subtree in document order.

    Walk order and branch structure mirror ``DocBuilder._serialize``
    exactly, so ``''.join(e.src for e in events)`` == ``b.serialize(node,
    include_self=False)`` for the root — the reconstitution contract.

    ``source`` (the parsed text) makes end-tag spans exact even for the
    reference-lossy shapes ('</ p>' reconstitutes as '</p>'): the span
    start is located by searching back for the '</' run ('</' can never
    occur inside a tag name — '/' is excluded from name runs).
    """
    # stack entries: (node, phase, depth); phase 0 = emit, -1 = end-tag
    nodes = b.nodes
    stack: list[tuple[int, int, int]] = [
        (c, 0, 0) for c in reversed(nodes[node][N_CHILDREN] or [])]
    while stack:
        n, phase, depth = stack.pop()
        nd = nodes[n]
        if phase == -1:
            end_tag = nd[N_END_TAG]
            # split '</tag<trailing>'; trailing keeps whatever follows the
            # name (inner whitespace + '>' — or nothing at EOF)
            body = end_tag[2:]
            i = 0
            while i < len(body) and body[i] not in ">\t\n\f\r ":
                i += 1
            # span = the end-tag region only (the element's src_end is the
            # char after the closing '>'); with the source available the
            # start is exact even when the reconstitution text is shorter
            # than the source run (ws-after-'</' lossy shape)
            src_end = nd[N_SRC_END]
            if src_end >= 0 and source is not None:
                # exact run first: when the stored end-tag text matches the
                # source bytes, the span is src_end - len (a malformed
                # trailing may itself contain '</', which would mislead the
                # rfind — e.g. '<p>x</p </q>' stores '</p </q>'); rfind is
                # only the fallback for the lossy '</ p>' shapes where the
                # stored text is SHORTER than the source run
                s = src_end - len(end_tag)
                if not (s >= 0 and source[s:src_end] == end_tag):
                    s = source.rfind("</", 0, src_end)
            elif src_end >= 0:
                s = src_end - len(end_tag)
            else:
                s = -1
            yield Event("end-tag", depth, (body[:i], body[i:]), end_tag,
                        s, src_end)
            continue

        kind = nd[N_KIND]
        if kind == D.ELEMENT:
            emit_self = not nd[N_SYNTHETIC]
            if emit_self:
                tag = nd[N_TAG]
                s = nd[N_SRC_START]
                # span = exactly the '<tag' run this event accounts for
                yield Event("start-tag-start", depth, (tag,), "<" + tag,
                            s, s + 1 + len(tag) if s >= 0 else -1)
                names = nd[N_ATTR_NAMES]
                if names:
                    values = nd[N_ATTR_VALUES]
                    spacing = nd[N_ATTR_SPACING]
                    equals = nd[N_ATTR_EQUALS]
                    quotes = nd[N_ATTR_QUOTES]
                    for i in range(len(names)):
                        q = quotes[i]
                        src = (spacing[i] + names[i] + equals[i]
                               + oq(q) + values[i] + cq(q))
                        yield Event("attribute", depth,
                                    (spacing[i], names[i], equals[i],
                                     values[i], q), src, -1, -1)
                inner_ws = nd[N_INNER_WS] or ""
                bad = nd[N_BAD_TERM]
                if bad is not None:
                    end, terminated = bad, False
                elif nd[N_CLOSURE] == D.SELF_CLOSED:
                    end, terminated = "/>", True
                else:
                    end, terminated = ">", True
                yield Event("start-tag-end", depth, (inner_ws, end, terminated),
                            inner_ws + end, -1, -1)
                if nd[N_CLOSURE] == D.EXPLICITLY_CLOSED and nd[N_END_TAG]:
                    stack.append((n, -1, depth))
            child_depth = depth + 1 if emit_self else depth
            for child in reversed(nd[N_CHILDREN] or []):
                stack.append((child, 0, child_depth))
            continue

        content = nd[N_CONTENT]
        terminated = nd[N_TERMINATED]
        s, e = nd[N_SRC_START], nd[N_SRC_END]
        if kind == D.TEXT:
            yield Event("text", depth, (content, nd[N_POSS_ENT]), content, s, e)
        elif kind == D.COMMENT:
            yield Event("comment", depth, (content, terminated),
                        "<!--" + content + ("-->" if terminated else ""), s, e)
        elif kind == D.CDATA:
            yield Event("cdata", depth, (content, terminated),
                        "<![CDATA[" + content + ("]]>" if terminated else ""), s, e)
        elif kind == D.DOCTYPE:
            dt_type, variety, version = DocBuilder.doctype_info(content)
            yield Event("doctype", depth,
                        (dt_type, variety, version, content, terminated),
                        "<!" + content + (">" if terminated else ""), s, e)
        elif kind == D.DECLARATION:
            yield Event("declaration", depth, (content, terminated),
                        "<!" + content + (">" if terminated else ""), s, e)
        elif kind == D.PROCESSING:
            yield Event("processing", depth, (content, terminated),
                        "<?" + content + (">" if terminated else ""), s, e)
        elif kind == D.UNMATCHED_CLOSE:
            yield Event("error", depth,
                        ("unmatched closing tag", -1, -1, content), content, s, e)

    if charset:
        yield Event("encoding", 0, (charset, True), "", -1, -1)
    yield Event("completion", 0, (), "", -1, -1)


def parse_events(result: ParseResult) -> Iterator[Event]:
    """Event stream for a :class:`ParseResult` (root subtree + encoding +
    completion; exact end-tag spans via the parsed text)."""
    return iter_events(result.dom, 0, charset=result.charset,
                       source=result.text)


def to_generic(event: Event) -> tuple[int, str] | None:
    """The reference's 'generic' fold: (depth, source text), or None for
    events the generic callback never receives (html-parser.ts:189-190).

    Doctypes ARE folded: with no specific doctype handler the reference
    re-fires them as 'declaration' (html-parser.ts:796-799), which is
    generically handleable."""
    if event.kind not in GENERIC_EVENTS and event.kind != "doctype":
        return None
    return (event.depth, event.src)


def reconstitute(events) -> str:
    """Rebuild the document from an event stream (must equal the parsed
    source byte-for-byte — html-parser.spec.ts:57-120 contract)."""
    return "".join(e.src for e in events)
