"""Main-content extraction over node arrays.

Three strip modes (BASELINE.json north_star: "text-density and tag-class
boilerplate-strip heuristics"):

* ``none``    — full-DOM textContent (dom.ts:419-434 semantics). This is the
  byte-identical contract mode: output equals the reference's
  ``domRoot.textContent`` for the same document.
* ``basic``   — tag-class strip only: drops DROP_TAGS subtrees, then
  textContent of what remains.
* ``density`` — tag-class strip + text-block segmentation (nearest block
  ancestor, inline set mirrored from the reference formatter's block/inline
  split, formatter.ts:87-89) scored by trimmed length and link density
  (jusText/Boilerpipe-family heuristic, deterministic).  A block is kept
  when its link share is at most ``_MAX_LINK_DENSITY`` (1/3) and it has at
  least ``_MIN_BLOCK_CHARS`` (25) characters or a BOOST_TAGS owner (two
  module constants).

Every mode also returns source spans: the start and end char offsets into
the parsed text of each emitted text/CDATA node, as two parallel lists
(``starts``, ``ends``), so downstream consumers can trace extracted content
back into the raw page bytes.

``density`` runs in the native core (``density()`` in ``_native.c``) when
it built: the same walk, blocks and scores over the same nodes, read
from the node structs of a store that Python has not read (no record is
built) and from the records otherwise, with entity decoding called back
into ``chars.unescape_entities``.  The
Python loop below is the reference and the path on hosts without a
compiler; ``extract()`` reads ``_NATIVE_DENSITY`` from the module globals
on every call, so ``tests/test_extract_native.py`` sets it to None and
checks that every ``ExtractResult`` field stays the same.  ``none`` and
``basic`` are Python only.
"""

from __future__ import annotations

from .chars import trim, unescape_entities
from .dom import (
    CDATA, ELEMENT, N_CHILDREN, N_CONTENT, N_KIND, N_POSS_ENT, N_SRC_END,
    N_SRC_START, N_TAG_LC, TEXT, DocBuilder,
)
from .parser import _native

__all__ = ["DROP_TAGS", "INLINE_TAGS", "BOOST_TAGS", "ExtractResult",
           "extract", "validate_spans"]

# subtrees that never contribute main content
DROP_TAGS = frozenset([
    "script", "style", "noscript", "template", "iframe", "nav", "header",
    "footer", "aside", "form", "button", "select", "option", "optgroup",
    "datalist", "object", "applet", "embed", "svg", "math", "head", "menu",
])

# the reference formatter's inline set (formatter.ts:87-89); everything else
# is treated as a block boundary
INLINE_TAGS = frozenset([
    "a", "abbr", "acronym", "b", "basefont", "bdo", "big", "br", "cite",
    "code", "dfn", "em", "font", "i", "img", "input", "kbd", "label", "q",
    "s", "samp", "select", "small", "span", "strike", "strong", "sub", "sup",
    "text", "tt", "u", "var",
])

# content-bearing tags that keep even short blocks
BOOST_TAGS = frozenset([
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "blockquote", "pre",
    "td", "th", "article", "main", "caption", "figcaption", "dd", "dt",
    "title",
])

_MIN_BLOCK_CHARS = 25
_MAX_LINK_DENSITY = 1.0 / 3.0

# the native density walker (None: the Python loop below extracts)
_NATIVE_DENSITY = _native.density if _native is not None else None


class ExtractResult:
    __slots__ = ("text", "starts", "ends", "kept_blocks", "total_blocks",
                 "node_count", "text_node_count")

    def __init__(self, text, starts, ends, kept_blocks, total_blocks,
                 node_count, text_node_count):
        self.text = text
        self.starts = starts
        self.ends = ends
        self.kept_blocks = kept_blocks
        self.total_blocks = total_blocks
        self.node_count = node_count
        self.text_node_count = text_node_count


def _decoded(b: DocBuilder, node: int) -> str:
    nd = b.nodes[node]
    c = nd[N_CONTENT]
    if nd[N_KIND] == TEXT and nd[N_POSS_ENT] and "&" in c:
        return unescape_entities(c)
    return c


def validate_spans(b: DocBuilder, source: str) -> tuple[int, bool]:
    """Span-integrity check for the extraction contract: every TEXT span
    must slice ``source`` to exactly the bytes whose entity-decode is the
    node's text contribution; CDATA spans cover the full markup (``<![
    CDATA[...]]>`` wrapper included) and must contain the content; spans
    are in-bounds and start-monotone in document order.

    Returns (n_spans_checked, all_ok).
    """
    nodes = b.nodes
    n_src = len(source)
    count = 0
    last_start = -1
    stack = list(reversed(nodes[0][N_CHILDREN] or []))
    while stack:
        child = stack.pop()
        nd = nodes[child]
        k = nd[N_KIND]
        if k == TEXT or k == CDATA:
            s, e = nd[N_SRC_START], nd[N_SRC_END]
            if s < 0:
                continue  # synthesized node (no source region)
            count += 1
            if not (0 <= s <= e <= n_src) or s < last_start:
                return count, False
            last_start = s
            piece = source[s:e]
            if k == TEXT:
                if piece != nd[N_CONTENT]:
                    return count, False
            elif nd[N_CONTENT] not in piece:
                return count, False
        elif k == ELEMENT and nd[N_CHILDREN]:
            stack.extend(reversed(nd[N_CHILDREN]))
    return count, True


def _text_content_skipping(b: DocBuilder, node: int, out: list, starts: list,
                           ends: list, drop: frozenset) -> None:
    """textContent of ``node`` without the subtrees of ``drop`` elements,
    plus the source span of every emitted text/CDATA node."""
    nodes = b.nodes
    stack = list(reversed(nodes[node][N_CHILDREN] or []))
    while stack:
        child = stack.pop()
        nd = nodes[child]
        k = nd[N_KIND]
        if k == TEXT or k == CDATA:
            out.append(_decoded(b, child))
            if nd[N_SRC_START] >= 0:
                starts.append(nd[N_SRC_START])
                ends.append(nd[N_SRC_END])
        elif k == ELEMENT and nd[N_TAG_LC] not in drop and nd[N_CHILDREN]:
            stack.extend(reversed(nd[N_CHILDREN]))


def extract(b: DocBuilder, strip: str = "density") -> ExtractResult:
    native = _NATIVE_DENSITY
    if strip == "density" and native is not None:
        return ExtractResult(*native(
            b.nodes, DROP_TAGS, INLINE_TAGS, BOOST_TAGS, _MIN_BLOCK_CHARS,
            _MAX_LINK_DENSITY, unescape_entities))
    node_count = len(b.nodes) - 1
    # C-level count: one list comp + two list.count passes beats a Python
    # genexpr over the node lists (N_KIND == 0)
    kinds = [nd[0] for nd in b.nodes]
    text_node_count = kinds.count(TEXT) + kinds.count(CDATA)

    if strip == "none" or strip == "basic":
        out: list = []
        starts: list = []
        ends: list = []
        _text_content_skipping(b, 0, out, starts, ends,
                               DROP_TAGS if strip == "basic" else frozenset())
        return ExtractResult("".join(out), starts, ends, 0, 0, node_count,
                             text_node_count)

    if strip != "density":
        raise ValueError(f"unknown strip mode {strip!r}")

    # --- density mode: group text nodes into blocks by nearest block ancestor
    nodes = b.nodes
    # blocks are [tag, parts, starts, ends, link_chars] lists (cheaper than
    # dicts)
    blocks: list[list] = []
    # iterative DFS carrying (node, block_key, in_link); a new block starts
    # whenever we enter a non-inline element
    stack = [(0, -1, False)]
    current_block_of: dict[int, list] = {}
    get_block = current_block_of.get
    drop_tags = DROP_TAGS
    inline_tags = INLINE_TAGS

    while stack:
        node, block_owner, in_link = stack.pop()
        nd = nodes[node]
        k = nd[N_KIND]
        if k == TEXT or k == CDATA:
            piece = nd[N_CONTENT]
            if k == TEXT and nd[N_POSS_ENT] and "&" in piece:
                piece = unescape_entities(piece)
            blk = get_block(block_owner)
            if blk is None:
                owner_tag = nodes[block_owner][N_TAG_LC] if block_owner >= 0 else ""
                blk = [owner_tag, [], [], [], 0]
                current_block_of[block_owner] = blk
                blocks.append(blk)
            blk[1].append(piece)
            if nd[N_SRC_START] >= 0:
                blk[2].append(nd[N_SRC_START])
                blk[3].append(nd[N_SRC_END])
            if in_link:
                blk[4] += len(trim(piece))
            continue
        if k != ELEMENT:
            continue
        tag = nd[N_TAG_LC]
        if node != 0 and tag in drop_tags:
            continue
        if node != 0 and tag in inline_tags:
            child_owner = block_owner
            child_link = in_link or tag == "a"
        else:
            # entering a block element (or the root) interrupts the enclosing
            # block's open text run
            current_block_of.pop(block_owner, None)
            child_owner = node
            child_link = in_link
        children = nd[N_CHILDREN]
        if children:
            for child in reversed(children):
                stack.append((child, child_owner, child_link))

    kept_parts: list[str] = []
    kept_starts: list = []
    kept_ends: list = []
    kept = 0
    total = 0
    for owner_tag, parts, starts, ends, link_chars in blocks:
        visible = trim("".join(parts))
        if not visible:
            continue
        total += 1
        chars = len(visible)
        link_density = link_chars / chars if chars else 1.0
        if link_density > _MAX_LINK_DENSITY:
            continue
        if chars >= _MIN_BLOCK_CHARS or owner_tag in BOOST_TAGS:
            kept += 1
            kept_parts.append(visible)
            kept_starts += starts
            kept_ends += ends

    text = "\n\n".join(kept_parts)
    return ExtractResult(text, kept_starts, kept_ends, kept, total, node_count,
                         text_node_count)
