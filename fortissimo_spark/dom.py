"""Flat node-array DOM model with HTML5-style error correction.

Behavioral parity target: ``/root/reference/projects/fortissimo-html/src/dom.ts``
and ``src/elements.ts`` — re-expressed as index arrays (no object tree).

Storage: a node is read as one Python list, its record (21 fixed slots,
``N_*`` indices).  Where the native core loads, ``DocBuilder.nodes`` is its
``NodeStore``, a sequence that holds the nodes the core parsed as C structs
and builds a node's record the first time Python reads it; elsewhere it is
a list of records (see ``DocBuilder``).

Positions: a record holds source offsets, not lines and columns.
``DocBuilder.line_col`` works them out when read, through the ``_Pos`` that
``parse(positions=True)`` leaves in ``DocBuilder.pos``; without one, or
without an offset, they read 0.

Replicated reference quirks (file:line cites are into the reference):

* elements.ts:2 — the formatting-element set contains the typo ``'u]'``, so
  ``u`` is NOT a formatting element. Kept verbatim-in-behavior.
* dom.ts:692 — unwinding pop requires the matching stack index ``> 0``
  ("No, I really don't want >= 0"): a tag matching only the root sentinel is
  treated as unmatched.
* dom.ts:733-738 — after every pop the reference re-parents the whole open
  stack (``node.parent = stack[i-1]``) and recounts math/svg. Here that pass
  is a no-op by invariant and is not run: every push sets a node's parent to
  the node below it on the stack, every pop removes the top, and table
  repair only moves children of a closing table, none of which is still on
  the stack — so each stack entry's parent is always the entry below it, and
  ``in_math_or_svg`` is kept equal to the number of math/svg entries by
  counting them on and off (``tests/test_tree_building.py`` checks both after
  every ``pop``).
* dom.ts:617/655 — table repair treats EXPLICITLY_CLOSED sections/rows as
  ended and wraps stray ``tr``/``td``/``th`` in *synthetic* nodes that
  serialize to zero bytes (dom.ts:504).
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right

from . import native as _native_build
from .chars import unescape_entities

# the container DocBuilder.nodes starts as: the native core's NodeStore
# when it loads, else a list
_native = _native_build.load()
_NodeStore = _native.NodeStore if _native is not None else list

# --- node kinds --------------------------------------------------------------
ELEMENT = 0
TEXT = 1
COMMENT = 2
DECLARATION = 3
DOCTYPE = 4
PROCESSING = 5
CDATA = 6
UNMATCHED_CLOSE = 7

KIND_NAMES = ["element", "text", "comment", "declaration", "doctype",
              "processing", "cdata", "unmatched_close"]

# --- closure states (dom.ts:12-18) -------------------------------------------
UNCLOSED = 0
SELF_CLOSED = 1
VOID_CLOSED = 2
EXPLICITLY_CLOSED = 3
IMPLICITLY_CLOSED = 4

CLOSURE_NAMES = ["unclosed", "self_closed", "void_closed",
                 "explicitly_closed", "implicitly_closed"]

# --- node record slots --------------------------------------------------------
N_KIND = 0
N_TAG = 1
N_TAG_LC = 2
N_PARENT = 3
N_CHILDREN = 4
N_CLOSURE = 5
N_CONTENT = 6
N_TERMINATED = 7
N_POSS_ENT = 8
N_END_TAG = 9
N_ATTR_NAMES = 10
N_ATTR_VALUES = 11
N_ATTR_SPACING = 12
N_ATTR_EQUALS = 13
N_ATTR_QUOTES = 14
N_INNER_WS = 15
N_BAD_TERM = 16
N_SYNTHETIC = 17
N_SRC_START = 18
N_SRC_END = 19
# an element's end-tag offset; the offset an unmatched end tag's position
# is read at; -1 for none
N_END_AT = 20

# an element's five parallel attribute slots; an element without
# attributes holds the one empty tuple in each, and the mutators below make
# them lists on the first write (``_attr_lists``)
_ATTR_SLOTS = (N_ATTR_NAMES, N_ATTR_VALUES, N_ATTR_SPACING, N_ATTR_EQUALS,
               N_ATTR_QUOTES)

# --- element sets (elements.ts) ----------------------------------------------
# 'u]' typo kept on purpose: 'u' is NOT treated as a formatting element.
FORMATTING_ELEMENTS = frozenset([
    "a", "b", "big", "code", "em", "font", "i", "nobr", "s", "small",
    "strike", "strong", "tt", "u]",
])

MARKER_ELEMENTS = frozenset(["applet", "object", "marquee", "template", "td", "th", "caption"])

VOID_ELEMENTS = frozenset([
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link", "meta",
    "param", "source", "track", "wbr", "command", "keygen", "menuitem",
])

NO_ENTITIES_ELEMENTS = frozenset(["script", "style"])

_FORM_TAGS = frozenset(["input", "option", "optgroup", "select", "button", "datalist", "textarea"])
_P_TAG = frozenset(["p"])
_TABLE_SECTION_CLOSERS = frozenset(["thead", "tbody", "caption", "tr", "td", "th"])

OPEN_IMPLIES_CLOSE: dict[str, frozenset[str]] = {
    "tr": frozenset(["tr", "th", "td", "caption"]),
    "th": frozenset(["th", "caption"]),
    "td": frozenset(["thead", "th", "td", "caption"]),
    "body": frozenset(["head", "link", "script"]),
    "li": frozenset(["li"]),
    "p": _P_TAG,
    "h1": _P_TAG, "h2": _P_TAG, "h3": _P_TAG, "h4": _P_TAG, "h5": _P_TAG, "h6": _P_TAG,
    "select": _FORM_TAGS, "input": _FORM_TAGS, "output": _FORM_TAGS,
    "button": _FORM_TAGS, "datalist": _FORM_TAGS, "textarea": _FORM_TAGS,
    "option": frozenset(["option"]),
    "optgroup": frozenset(["optgroup", "option"]),
    "dd": frozenset(["dt", "dd"]), "dt": frozenset(["dt", "dd"]),
    "address": _P_TAG, "article": _P_TAG, "aside": _P_TAG, "blockquote": _P_TAG,
    "details": _P_TAG, "div": _P_TAG, "dl": _P_TAG, "fieldset": _P_TAG,
    "figcaption": _P_TAG, "figure": _P_TAG, "footer": _P_TAG, "form": _P_TAG,
    "header": _P_TAG, "hr": _P_TAG, "main": _P_TAG, "nav": _P_TAG, "ol": _P_TAG,
    "pre": _P_TAG, "section": _P_TAG, "table": _P_TAG, "ul": _P_TAG,
    "rt": frozenset(["rt", "rp"]), "rp": frozenset(["rt", "rp"]),
    "tbody": _TABLE_SECTION_CLOSERS, "tfoot": _TABLE_SECTION_CLOSERS,
}

_RE_SELECTOR = re.compile(r"(.*)\.(.+)")
_RE_CLASS_SPLIT = re.compile(r"\s+")

_RE_DOCTYPE = re.compile(r"^doctype\b", re.I | re.A)
_RE_XHTML = re.compile(r"\bxhtml\b", re.I | re.A)
_RE_VARIETY = re.compile(r"\b(frameset|strict|transitional)\b")
_RE_VERSION = re.compile(r"\bx?html[ \n\r\t\f]*([.\d]+)\b", re.I | re.A)
_RE_HTML5 = re.compile(r"^doctype[ \n\r\t\f]+html[ \n\r\t\f]*$", re.I | re.A)
_RE_EOL = re.compile(r"\r\n|\r|\n")
_RE_TAB = re.compile("\t")


def count_eols(s: str) -> int:
    """The number of ``_RE_EOL`` matches in ``s``: every \\n or \\r counts
    once, a \\r\\n pair once."""
    return s.count("\n") + s.count("\r") - s.count("\r\n")


class _Pos:
    """1-based line and tab-aware column of an offset in a parsed text.

    The column is 1 plus the widths of the characters before the offset on
    its line; a tab reaches the next tab stop (1, 1 + tab_size, ...), every
    other character is 1 wide.  Line starts and the column after each tab
    are indexed on the first lookup, so a parse that reads no position pays
    nothing and a lookup in any order is two bisections."""

    __slots__ = ("t", "tab_size", "starts", "tabs", "tab_cols")

    def __init__(self, t: str, tab_size: int):
        self.t = t
        self.tab_size = tab_size
        self.starts = None

    def line_col(self, pos: int) -> tuple[int, int]:
        if self.starts is None:
            self._index()
        ln = bisect_right(self.starts, pos)
        start = self.starts[ln - 1]
        j = bisect_left(self.tabs, pos) - 1
        if j >= 0 and self.tabs[j] >= start:
            return ln, self.tab_cols[j] + pos - self.tabs[j] - 1
        return ln, pos - start + 1

    def _index(self) -> None:
        starts = self.starts = [0]
        starts += [m.end() for m in _RE_EOL.finditer(self.t)]
        self.tabs = [m.start() for m in _RE_TAB.finditer(self.t)]
        self.tab_cols = cols = []  # the column after each tab
        prev = -1
        for p in self.tabs:
            start = starts[bisect_right(starts, p) - 1]
            c = cols[-1] + p - prev - 1 if prev >= start else p - start + 1
            cols.append(c + self.tab_size - (c - 1) % self.tab_size)
            prev = p


def _attr_lists(nd: list) -> list:
    """``nd`` with its attribute slots made lists, ready to be written: an
    element without attributes shares the empty tuple until then."""
    if nd[N_ATTR_NAMES].__class__ is tuple:
        for f in _ATTR_SLOTS:
            nd[f] = list(nd[f])
    return nd


def oq(quote: str) -> str:
    """Opening quotation mark ('_\"' marks an unterminated quote)."""
    return quote if len(quote) < 2 else quote[1:]


def cq(quote: str) -> str:
    """Closing quotation mark (suppressed for unterminated quotes)."""
    return quote if len(quote) < 2 else ""


class DocBuilder:
    """Per-document DOM; node ids index ``self.nodes``.

    Node 0 is the synthetic root (tag ``/``), matching the reference's root
    sentinel (dom.ts:536).

    ``nodes`` is a sequence of records: ``nodes[i][N_KIND]`` (negative
    ``i`` too), ``len``, iteration and ``append(record)``, and nothing
    more; a caller that slices, compares or copies it reads
    ``list(nodes)``.  Where the native core loads
    it is a ``_native.NodeStore``: the core's scan fills node structs and
    builds no record, ``nodes[i]`` builds node i's record on the first read
    and returns that same list from then on, and that record is the node's
    authority (an edit to it is what the core and every reader see).
    ``nodes.append`` stores a Python record as it is, as the general
    machine and ``new_element`` do.  ``nodes.materialized`` counts the
    records built on a read: ``decode_parse`` + density extraction read
    every node from C and build none on a page without hand-offs.
    Without the core, ``nodes`` is a plain list of records.
    """

    __slots__ = ("nodes", "open_stack", "in_math_or_svg", "xml_mode", "pos")

    def __init__(self) -> None:
        self.nodes: list[list] = _NodeStore()
        self.open_stack: list[int] = []
        self.in_math_or_svg = 0
        self.xml_mode = False
        self.pos: _Pos | None = None  # set by parse(positions=True)

        root = self.new_element("/", synthetic=True)
        self.open_stack.append(root)

    def line_col(self, node: int, end: bool = False) -> tuple[int, int]:
        """(line, column) of ``node`` (an unmatched end tag's at its
        ``N_END_AT``), or with ``end`` of its end tag; (0, 0) if unknown."""
        nd = self.nodes[node]
        if end:
            at = nd[N_END_AT] if nd[N_KIND] == ELEMENT else -1
        elif nd[N_KIND] == UNMATCHED_CLOSE:
            at = nd[N_END_AT]
        else:
            at = nd[N_SRC_START]
        return (0, 0) if at < 0 or self.pos is None else self.pos.line_col(at)

    # --- node construction ----------------------------------------------

    def new_element(self, tag: str, *, synthetic: bool = False,
                    src_start: int = -1) -> int:
        nodes = self.nodes
        idx = len(nodes)
        nodes.append([
            ELEMENT, tag, tag.lower(), -1, [], UNCLOSED, None, True, False,
            "", (), (), (), (), (), "", None, synthetic, src_start, -1, -1,
        ])
        return idx

    def new_leaf(self, kind: int, content: str, *, terminated: bool = True,
                 poss_ent: bool = False, src_start: int = -1,
                 src_end: int = -1) -> int:
        nodes = self.nodes
        idx = len(nodes)
        nodes.append([
            kind, "", "", -1, None, UNCLOSED, content, terminated, poss_ent,
            "", None, None, None, None, None, "", None, False, src_start,
            src_end, -1,
        ])
        return idx

    def add_leaf(self, kind: int, content: str, terminated: bool = True,
                 poss_ent: bool = False, src_start: int = -1,
                 src_end: int = -1, end_at: int = -1) -> int:
        nodes = self.nodes
        idx = len(nodes)
        cur = self.open_stack[-1]
        nodes.append([
            kind, "", "", cur, None, UNCLOSED, content, terminated, poss_ent,
            "", None, None, None, None, None, "", None, False, src_start,
            src_end, end_at,
        ])
        nodes[cur][N_CHILDREN].append(idx)
        return idx

    def count_unclosed_flat(self):
        """Parse-end census over the flat node list: (unclosed,
        implicitly closed) non-synthetic elements. Every node is in the
        tree at the end of a parse, so this equals a walk from the root."""
        unclosed = implicitly = 0
        for nd in self.nodes:
            if nd[N_KIND] == ELEMENT and not nd[N_SYNTHETIC]:
                c = nd[N_CLOSURE]
                if c == UNCLOSED:
                    unclosed += 1
                elif c == IMPLICITLY_CLOSED:
                    implicitly += 1
        return unclosed, implicitly

    # --- DomModel equivalents ---------------------------------------------

    def add_attribute(self, name: str, value: str = "", leading_space: str = "",
                      equals: str = "=", quote: str = '"') -> None:
        nd = _attr_lists(self.nodes[self.open_stack[-1]])
        nd[N_ATTR_NAMES].append(name)
        nd[N_ATTR_VALUES].append(value)
        nd[N_ATTR_SPACING].append(leading_space)
        nd[N_ATTR_EQUALS].append(equals)
        nd[N_ATTR_QUOTES].append(quote)

    def pop(self, tag_lc: str, end_tag_text: str, at: int = -1,
            end_pos: int = -1) -> bool:
        """Mirror of dom.ts:668-741 for an end tag at offset ``at`` that
        ends at ``end_pos`` (the parser and the native core close void and
        self-closing tags themselves).  This is the general machine's tree
        repair and the reference for the native core's, which runs the
        same steps in C (``repair`` in ``_native.c``), table repair
        included (``examine_table``).

        Returns False when the closing tag was unmatched (parse error).
        """
        nodes = self.nodes
        stack = self.open_stack
        popped = False
        cur = stack[-1]
        nd = nodes[cur]
        if nd[N_TAG_LC] == tag_lc:
            popped = True
            stack.pop()
            nd[N_CLOSURE] = EXPLICITLY_CLOSED
            nd[N_END_TAG] = end_tag_text
            nd[N_END_AT] = at
            if end_pos >= 0:
                nd[N_SRC_END] = end_pos
            if tag_lc == "table":
                self._examine_table(cur)
            elif tag_lc == "math" or tag_lc == "svg":
                self.in_math_or_svg -= 1
            elif not stack:  # '<//>' closed the root: it stays open
                stack.append(0)

        if not popped and not self.xml_mode:
            node_index = -1
            for i in range(len(stack) - 1, -1, -1):
                if nodes[stack[i]][N_TAG_LC] == tag_lc:
                    node_index = i
                    break

            if node_index > 0:  # matching only the root sentinel = unmatched
                if tag_lc in FORMATTING_ELEMENTS:
                    for i in range(node_index + 1, len(stack)):
                        if nodes[stack[i]][N_TAG_LC] in MARKER_ELEMENTS:
                            node_index = -1
                            break

            # Deliberate divergence from the reference: dom.ts:702 runs its
            # unwind while-loop even after the marker scan resets nodeIndex
            # to -1, which infinite-loops on inputs like '<b><td></b>'
            # (verified against dom.ts:668-741 by hand; fuzzing found it).
            # The intended semantics — a formatting end tag blocked by a
            # marker element is unmatched — is what the guard below applies.
            if node_index > 0:
                while len(stack) > node_index:
                    cur = stack[-1]
                    nd = nodes[cur]
                    if not nd[N_CLOSURE]:
                        if len(stack) - 1 == node_index:
                            popped = True
                            nd[N_CLOSURE] = EXPLICITLY_CLOSED
                            nd[N_END_TAG] = end_tag_text
                            nd[N_END_AT] = at
                            if end_pos >= 0:
                                nd[N_SRC_END] = end_pos
                        else:
                            nd[N_CLOSURE] = IMPLICITLY_CLOSED
                        if nd[N_TAG_LC] == "table":
                            self._examine_table(cur)
                    if nd[N_TAG_LC] == "math" or nd[N_TAG_LC] == "svg":
                        self.in_math_or_svg -= 1
                    stack.pop()

        if not popped:
            self.add_leaf(UNMATCHED_CLOSE, end_tag_text, src_start=at,
                          src_end=end_pos, end_at=at)
        # no re-parent pass after the pop (dom.ts:733-738): see the module
        # docstring for the stack invariant that makes it a no-op
        return popped

    def should_parse_cdata(self) -> bool:
        return self.xml_mode or self.in_math_or_svg > 0

    # --- table repair (dom.ts:588-658) -------------------------------------
    # the general machine's and the reference for the native core's
    # examine_table(), which runs the same steps in C when the scan closes
    # a table

    def _examine_table(self, table: int) -> None:
        nodes = self.nodes
        children = nodes[table][N_CHILDREN]
        if not children or self.xml_mode:
            return

        self._insert_rows_where_needed(table)

        sections = set()
        for elem in children:
            nd = nodes[elem]
            if nd[N_KIND] == ELEMENT and nd[N_TAG_LC] in ("thead", "tbody", "tfoot"):
                sections.add(nd[N_TAG_LC])
                self._insert_rows_where_needed(elem)

        if not sections:
            return

        kept: list[int] = []
        between: list[int] = []  # non-elements since the open section's last row
        section = None
        for elem in children:
            nd = nodes[elem]
            if nd[N_KIND] != ELEMENT:
                (kept if section is None else between).append(elem)
                continue
            tag_lc = nd[N_TAG_LC]
            if tag_lc == "tr":
                has_th = self.query_selector(elem, "th") is not None
                if section is None or (has_th and nodes[section][N_TAG_LC] != "thead"):
                    kept += between
                    between.clear()
                    section = self.new_element("thead" if has_th else "tbody",
                                               synthetic=True)
                    nodes[section][N_PARENT] = table
                    kept.append(section)
                self._adopt(section, between, elem)
                continue
            kept += between
            between.clear()
            kept.append(elem)
            section = (elem if tag_lc in ("thead", "tbody", "tfoot")
                       and nd[N_CLOSURE] != EXPLICITLY_CLOSED else None)
        children[:] = kept + between

    def _insert_rows_where_needed(self, node: int) -> None:
        nodes = self.nodes
        children = nodes[node][N_CHILDREN]
        if not children:
            return
        kept: list[int] = []
        between: list[int] = []  # non-elements since the open row's last cell
        row = None
        for elem in children:
            nd = nodes[elem]
            if nd[N_KIND] != ELEMENT:
                (kept if row is None else between).append(elem)
                continue
            tag_lc = nd[N_TAG_LC]
            if tag_lc in ("th", "td"):
                if row is None:
                    row = self.new_element("tr", synthetic=True)
                    nodes[row][N_PARENT] = node
                    kept.append(row)
                self._adopt(row, between, elem)
                continue
            kept += between
            between.clear()
            kept.append(elem)
            row = (elem if tag_lc == "tr" and nd[N_CLOSURE] != EXPLICITLY_CLOSED
                   else None)
        # rebuilt in place: _examine_table holds a reference to this list
        children[:] = kept + between

    def _adopt(self, box: int, between: list[int], elem: int) -> None:
        """Move ``between`` and then ``elem`` to the end of ``box``'s
        children, keeping document order; empties ``between``."""
        nodes = self.nodes
        between.append(elem)
        for child in between:
            nodes[child][N_PARENT] = box
        nodes[box][N_CHILDREN] += between
        between.clear()

    # --- queries (dom.ts:383-417) -------------------------------------------

    def get_attr(self, node: int, name: str) -> str | None:
        """Last-write-wins lookup, mirroring valuesLookup (dom.ts:226,351)."""
        nd = self.nodes[node]
        names = nd[N_ATTR_NAMES]
        if not names:
            return None
        value = None
        for i, n in enumerate(names):
            if n == name:
                value = nd[N_ATTR_VALUES][i]
        return value

    @staticmethod
    def parse_selector(s: str):
        qlass = None
        m = _RE_SELECTOR.match(s)
        if m:
            s = m.group(1)
            qlass = m.group(2)
        element = id_ = None
        if s:
            if s.startswith("#"):
                id_ = s[1:]
            elif s == "*":
                element = ""
            else:
                element = s.lower()
        else:
            element = ""
        return element, id_, qlass

    def _selector_matches(self, node: int, element, id_, qlass) -> bool:
        if element and self.nodes[node][N_TAG_LC] != element:
            return False
        if qlass is not None:
            cls = self.get_attr(node, "class") or ""
            if qlass not in _RE_CLASS_SPLIT.split(cls):
                return False
        if id_ is not None and self.get_attr(node, "id") != id_:
            return False
        return True

    def _query_impl(self, node: int, sel, results: list[int], limit: int) -> None:
        # explicit stack: adversarially deep pages must not hit the Python
        # recursion limit inside a long-running kernel
        element, id_, qlass = sel
        nodes = self.nodes
        stack = [node]
        while stack and len(results) < limit:
            cur = stack.pop()
            if self._selector_matches(cur, element, id_, qlass):
                results.append(cur)
                if len(results) >= limit:
                    break
            children = nodes[cur][N_CHILDREN]
            if children:
                for child in reversed(children):
                    if nodes[child][N_KIND] == ELEMENT:
                        stack.append(child)

    def query_selector(self, node: int, selector: str) -> int | None:
        results: list[int] = []
        self._query_impl(node, self.parse_selector(selector), results, 1)
        return results[0] if results else None

    def query_selector_all(self, node: int, selector: str) -> list[int]:
        results: list[int] = []
        self._query_impl(node, self.parse_selector(selector), results, 1 << 60)
        return results

    def depth(self, node: int) -> int:
        nodes = self.nodes
        d = -1
        p = nodes[node][N_PARENT]
        while p >= 0:
            d += 0 if (nodes[p][N_SYNTHETIC] and nodes[p][N_PARENT] >= 0) else 1
            p = nodes[p][N_PARENT]
        return d

    def synthetic_depth(self, node: int) -> int:
        nodes = self.nodes
        d = -1
        p = nodes[node][N_PARENT]
        while p >= 0:
            d += 1
            p = nodes[p][N_PARENT]
        return d

    # --- extraction (dom.ts:419-434) ------------------------------------------

    def text_content(self, node: int) -> str:
        out: list[str] = []
        self._text_content(node, out)
        return "".join(out)

    def _text_content(self, node: int, out: list[str]) -> None:
        nodes = self.nodes
        children = nodes[node][N_CHILDREN]
        if not children:
            return
        stack = list(reversed(children))
        while stack:
            nd = nodes[stack.pop()]
            k = nd[N_KIND]
            if k == CDATA:
                out.append(nd[N_CONTENT])
            elif k == TEXT:
                c = nd[N_CONTENT]
                if nd[N_POSS_ENT] and "&" in c:
                    c = unescape_entities(c)
                out.append(c)
            elif k == ELEMENT:
                kids = nd[N_CHILDREN]
                if kids:
                    stack.extend(reversed(kids))

    # --- serialization (dom.ts:501-532) ---------------------------------------

    def serialize(self, node: int, include_self: bool = True) -> str:
        parts: list[str] = []
        self._serialize(node, include_self, parts)
        return "".join(parts)

    def _serialize(self, node: int, include_self: bool, parts: list[str]) -> None:
        # explicit stack with end-tag phase tokens (deep pages must not hit
        # the recursion limit); -1 in the second slot marks an end-tag emit
        nodes = self.nodes
        stack: list = [(node, include_self)]
        while stack:
            node, inc = stack.pop()
            if inc == -1:
                parts.append(nodes[node][N_END_TAG])
                continue
            nd = nodes[node]
            if nd[N_KIND] != ELEMENT:
                parts.append(self._leaf_str(node))
                continue

            emit_self = inc and not nd[N_SYNTHETIC]
            if emit_self:
                parts.append("<")
                parts.append(nd[N_TAG])
                names = nd[N_ATTR_NAMES]
                if names:
                    values = nd[N_ATTR_VALUES]
                    spacing = nd[N_ATTR_SPACING]
                    equals = nd[N_ATTR_EQUALS]
                    quotes = nd[N_ATTR_QUOTES]
                    for i in range(len(names)):
                        q = quotes[i]
                        parts.append(spacing[i])
                        parts.append(names[i])
                        parts.append(equals[i])
                        parts.append(oq(q))
                        parts.append(values[i])
                        parts.append(cq(q))
                if nd[N_INNER_WS]:
                    parts.append(nd[N_INNER_WS])
                if nd[N_BAD_TERM] is not None:
                    parts.append(nd[N_BAD_TERM])
                elif nd[N_CLOSURE] == SELF_CLOSED:
                    parts.append("/>")
                else:
                    parts.append(">")
                if nd[N_CLOSURE] == EXPLICITLY_CLOSED and nd[N_END_TAG]:
                    stack.append((node, -1))

            children = nd[N_CHILDREN]
            if children:
                for child in reversed(children):
                    stack.append((child, True))

    def _leaf_str(self, node: int) -> str:
        nd = self.nodes[node]
        k = nd[N_KIND]
        c = nd[N_CONTENT]
        t = nd[N_TERMINATED]
        if k == TEXT or k == UNMATCHED_CLOSE:
            return c
        if k == COMMENT:
            return "<!--" + c + ("-->" if t else "")
        if k == CDATA:
            return "<![CDATA[" + c + ("]]>" if t else "")
        if k == DECLARATION or k == DOCTYPE:
            return "<!" + c + (">" if t else "")
        if k == PROCESSING:
            return "<?" + c + (">" if t else "")
        raise AssertionError("unknown node kind %r" % k)

    # --- attribute mutation API (dom.ts:274-352; formatter-facing) -------------

    def _element(self, node: int) -> list:
        """``node``'s record; a TypeError if it is not an element (only an
        element has attribute slots)."""
        nd = self.nodes[node]
        if nd[N_KIND] != ELEMENT:
            raise TypeError(f"node {node} is a {KIND_NAMES[nd[N_KIND]]} "
                            "node, not an element: it has no attributes")
        return nd

    def set_attribute(self, node: int, name: str, value: str = "",
                      leading_space: str | None = None, equals: str | None = None,
                      quote: str | None = None) -> None:
        nd = self._element(node)
        names = nd[N_ATTR_NAMES]
        try:
            index = names.index(name)
        except ValueError:
            self.add_attribute_to(node, name, value, leading_space or " ",
                                  equals, quote)
            return
        if value is None:
            self.delete_attribute(node, index)
            return
        nd[N_ATTR_VALUES][index] = value
        if leading_space is not None:
            nd[N_ATTR_SPACING][index] = leading_space
        if equals is not None:
            nd[N_ATTR_EQUALS][index] = equals
        if quote is not None:
            nd[N_ATTR_QUOTES][index] = quote
        if value:
            if not nd[N_ATTR_EQUALS][index]:
                nd[N_ATTR_EQUALS][index] = "="
            if not nd[N_ATTR_QUOTES][index]:
                nd[N_ATTR_QUOTES][index] = '"'

    def add_attribute_to(self, node: int, name: str, value: str = "",
                         leading_space: str = " ", equals: str | None = None,
                         quote: str | None = None) -> None:
        nd = self._element(node)
        if value is None:
            return
        if value == "":
            equals = equals if equals is not None else ""
            quote = quote if quote is not None else ""
        else:
            equals = equals if equals is not None else "="
            quote = quote if quote is not None else '"'
        _attr_lists(nd)
        nd[N_ATTR_NAMES].append(name)
        nd[N_ATTR_VALUES].append(value)
        nd[N_ATTR_SPACING].append(leading_space)
        nd[N_ATTR_EQUALS].append(equals)
        nd[N_ATTR_QUOTES].append(quote)

    def delete_attribute(self, node: int, name_or_index) -> bool:
        nd = self._element(node)
        names = nd[N_ATTR_NAMES]
        if isinstance(name_or_index, str):
            try:
                name_or_index = names.index(name_or_index)
            except ValueError:
                return False
        if not (0 <= name_or_index < len(names)):
            return False
        for f in _ATTR_SLOTS:
            del nd[f][name_or_index]
        return True

    def clear_attributes(self, node: int) -> None:
        nd = self._element(node)
        for f in _ATTR_SLOTS:
            nd[f] = ()

    def remove_child_at(self, node: int, index: int) -> None:
        """dom.ts:360-362: splice the index-th child out of ``node``."""
        children = self.nodes[node][N_CHILDREN]
        if children and 0 <= index < len(children):
            del children[index]

    def detach(self, node: int) -> None:
        """dom.ts:369-374: remove ``node`` from its parent's children."""
        p = self.nodes[node][N_PARENT]
        if p >= 0:
            children = self.nodes[p][N_CHILDREN]
            if node in children:
                children.remove(node)

    def create_closed_element(self, tag: str) -> int:
        """dom.ts:228-235 createNode: a detached, explicitly-closed element."""
        node = self.new_element(tag)
        nd = self.nodes[node]
        nd[N_END_TAG] = f"</{tag}>"
        nd[N_CLOSURE] = EXPLICITLY_CLOSED
        return node

    # --- JSON debug sink (dom.ts:464-499, 128-133) ------------------------------

    def to_json(self, node: int = 0):
        """Debug-oriented nested dict mirroring the reference's toJSON."""
        nd = self.nodes[node]
        line, col = self.line_col(node)
        if nd[N_KIND] != ELEMENT:
            return (self._leaf_str(node)
                    + " (" + str(self.depth(node))
                    + (f"; {line}, {col}" if line else "")
                    + (f"; {self.nodes[nd[N_PARENT]][N_TAG]}" if nd[N_PARENT] >= 0 else "")
                    + ")" + ("" if nd[N_TERMINATED] else "!"))
        json: dict = {"tag": nd[N_TAG]}
        if line:
            json["line"] = line
        if col:
            json["column"] = col
        if nd[N_SYNTHETIC]:
            json["synthetic"] = True
        if nd[N_BAD_TERM] is not None:
            json["badTerminator"] = nd[N_BAD_TERM]
        json["depth"] = self.depth(node)
        sd = self.synthetic_depth(node)
        if json["depth"] != sd:
            json["syntheticDepth"] = sd
        json["closureState"] = nd[N_CLOSURE]
        if nd[N_ATTR_NAMES]:
            json["values"] = {name: nd[N_ATTR_VALUES][i]
                              for i, name in enumerate(nd[N_ATTR_NAMES])}
        if nd[N_PARENT] >= 0:
            json["parentTag"] = self.nodes[nd[N_PARENT]][N_TAG]
        if nd[N_CHILDREN]:
            json["children"] = [self.to_json(c) for c in nd[N_CHILDREN]]
        if nd[N_CLOSURE] == EXPLICITLY_CLOSED and nd[N_END_TAG]:
            end_line, end_col = self.line_col(node, end=True)
            json["endTagText"] = f"{nd[N_END_TAG]} ({end_line}, {end_col})"
        return json

    # --- line map (dom.ts:116-126, 251-268) --------------------------------------

    def line_map(self, node: int = 0) -> list[tuple[int, int, int]]:
        """(display_line, node_id, source_line) tuples for a (re)formatted
        document: maps display lines of the serialized output back to the
        source lines of the parsed text."""
        out: list[tuple[int, int, int]] = []
        current = [1]
        self._line_map(node, out, current)
        out.sort(key=lambda e: e[0])
        return out

    @staticmethod
    def _count_lines(*groups) -> int:
        count = 0
        for item in groups:
            if isinstance(item, (list, tuple)):
                for s in item:
                    count += count_eols(s or "")
            else:
                count += count_eols(item or "")
        return count

    def _line_map(self, node: int, out: list, current: list[int]) -> None:
        nd = self.nodes[node]
        if nd[N_PARENT] >= 0:
            out.append((current[0], node, self.line_col(node)[0]))
        if nd[N_KIND] != ELEMENT:
            current[0] += self._count_lines(nd[N_CONTENT])
            return
        current[0] += self._count_lines(nd[N_INNER_WS], nd[N_ATTR_EQUALS] or [],
                                        nd[N_ATTR_SPACING] or [],
                                        nd[N_ATTR_VALUES] or [])
        for child in nd[N_CHILDREN] or []:
            self._line_map(child, out, current)
        current[0] += self._count_lines(nd[N_END_TAG])

    # --- doctype helpers (dom.ts:154-174) --------------------------------------

    @staticmethod
    def doctype_info(content: str):
        dt_type = "xhtml" if _RE_XHTML.search(content) else "html"
        m = _RE_VARIETY.search(content.lower())
        variety = m.group(1) if m else None
        m = _RE_VERSION.search(content)
        version = m.group(1) if m else None
        if not version and _RE_HTML5.match(content):
            version = "5"
        return dt_type, variety, version

    # --- flat export ------------------------------------------------------------

    def doc_order(self) -> list[int]:
        """Node indices in document (DFS) order, root excluded."""
        nodes = self.nodes
        order: list[int] = []
        stack = list(reversed(nodes[0][N_CHILDREN] or []))
        while stack:
            node = stack.pop()
            order.append(node)
            children = nodes[node][N_CHILDREN]
            if children:
                stack.extend(reversed(children))
        return order
