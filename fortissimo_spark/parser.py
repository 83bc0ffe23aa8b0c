"""Forgiving HTML tokenizer + DOM builder (std-mode semantics).

Behavioral parity target: ``/root/reference/projects/fortissimo-html/src/html-parser.ts``.
This is NOT a port of its per-character cursor: the scan walks *markup
boundaries* found with C-level ``str.find``/regex over the whole document,
so Python-level work is O(#tags), not O(#chars) — the reference's "fast
mode" speed with its "std mode" semantics.

Replicated reference quirks (cites into the reference source):

* html-parser.ts:1040-1045 — ``<`` not followed by ``[a-z:/!?]`` is literal
  text and the following char is consumed with it (``<<p>`` stays text).
* html-parser.ts:1010-1017 — the whitespace gatherer treats any 2-UTF-16-unit
  read (i.e. an astral-plane char) as whitespace, so astral chars between
  markup tokens land in spacing/innerWhitespace runs.
* html-parser.ts:1108-1130 — comments close only when the ``>`` follows a
  dash-run whose length m satisfies m % 3 == 2 (the 3-stage matcher resets
  stage to 0 on the third consecutive dash), so ``<!-- x --->`` does NOT
  close the comment.
* html-parser.ts:1155-1182 — the raw-text end-tag matcher is a naive stage
  matcher: after a partial ``</ta...`` mismatch it resumes at the char after
  the mismatch, so ``<</script>`` inside a script does not terminate it.
* html-parser.ts:513-523 + 467-493 — a document ending in non-whitespace
  text leaves the parser in AT_MARKUP_START, which counts one
  "unexpected end of file" error at wrap-up.
* html-parser.ts:827 + dom.ts:560-564 — ``canDoXmlMode`` is evaluated after
  the ``<?xml`` node is already a child of the root, so it can never be
  true: processing instructions never flip xmlMode (only an xhtml doctype
  does, html-parser.ts:801). The check is therefore not made at all.
* html-parser.ts:1140-1147 — CDATA is recognized only when ``[CDATA[`` is
  complete *and* at least one more char follows before EOF.

Native hand-off contract.  In HTML mode ``parse()`` hands the document to
the native core, ``_native.c``, with or without positions: a record holds
source offsets only, and line and column are worked out from them when
read (``dom._Pos``).  The core reads every token it owns (text runs,
``<!--`` comments, end tags closed by ``>``, start tags with any number of
attributes, void elements, implied closes and the raw-text scan), adds
the same nodes to ``DocBuilder.nodes`` (a ``_native.NodeStore``: node
structs whose 21-slot records are built when Python reads them) and
returns the offset of the first token it does not own.  The general state
machine below reads that one token, appending its records as Python
lists, and calls back in.  Both give the same lean
records: an element without attributes holds the one empty tuple ``()``
in its five ``N_ATTR_*`` slots (``DocBuilder``'s attribute mutators make
them lists on the first write), and the core takes repeated tag and
attribute names from a small intern cache.  At the end, ``census`` in the
core counts the unclosed and implicitly closed elements
(``DocBuilder.count_unclosed_flat`` is its reference).  The core repairs
the tree itself: for an end tag that is not on top of the stack it runs
``DocBuilder.pop``'s steps in C, and for a closing table
``DocBuilder._examine_table``'s (both stay the general machine's and the
reference), so it calls no Python for the tree.  While no charset is
known it sniffs each ``meta`` tag: it reads ``charset=`` attributes
itself and hands a tag with an ``http-equiv`` or ``content`` attribute
to ``_meta_charset``.  The first meta tag that leaves a charset ends the
sniff and calls ``on_charset``, which may stop the scan after that tag
(see ``parse``); the core returns the charset and whether it stopped.
Everything else (``<?``, CDATA, an xhtml doctype, EOF inside a tag or an
end tag) goes to the general machine.  Xml mode
never enters the core.  The general machine is the reference: for any
input the native parse must build exactly what it builds.  ``parse()``
reads ``_NATIVE_SCAN`` and ``_NATIVE_CENSUS`` from the module globals on
every call, so ``tests/test_parser_fastpaths.py`` sets them to None and
checks that the parse does not change.  ``NATIVE`` says whether the core
loaded (see ``native.py``); without a compiler the general machine reads
everything.
"""

from __future__ import annotations

import re

from . import dom as D
from . import native as _native_build
from .dom import (
    ELEMENT, FORMATTING_ELEMENTS, IMPLICITLY_CLOSED, MARKER_ELEMENTS,
    OPEN_IMPLIES_CLOSE, SELF_CLOSED, TEXT, UNCLOSED, VOID_CLOSED,
    DocBuilder, N_BAD_TERM, N_CHILDREN, N_CLOSURE,
    N_INNER_WS, N_PARENT, N_SRC_END, N_TAG_LC, VOID_ELEMENTS, _Pos,
    count_eols,
)

__all__ = ["ParseResult", "parse", "check_encoding", "normalize_encoding_name",
           "NATIVE"]

_WS = " \t\n\f\r"
_WS_SET = frozenset(_WS)

# markup-start dispatch class [a-zA-Z:/!?] as a set — the per-'<' check is
# the hottest test in the text gather loop and needs no regex machinery
# (whitespace runs are gathered by the ws_end scan inside parse(), which
# keeps the astral-chars-as-whitespace quirk — see module docstring)
_MARKUP_START_SET = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ:/!?")

# tag name runs: loose (HTML) / strict PCEN (xmlMode)
_RE_TAG_LOOSE = re.compile(r"[^ \n\r\t\f/>]*")
_RE_TAG_STRICT = re.compile(
    r"[-._0-9a-zA-Z\xb7\xc0-\xd6\xd8-\xf6\xf8-\u037d\u037f-\u1fff"
    r"\u200c-\u200d\u203f-\u2040\u2070-\u218f\u2c00-\u2fef\u3001-\ud7ff"
    r"\uf900-\ufdcf\ufdf0-\ufffd\U00010000-\U000effff]*"
)
# attribute name runs: loose (HTML) / strict (ch > ' ' and not " ` > / =)
_RE_ATTR_LOOSE = re.compile(r"[^ \n\r\t\f>/=]*")
_RE_ATTR_STRICT = re.compile(r'[^\x00-\x20"`>/=]*')
# unquoted attribute value: until HTML whitespace or '>'
_RE_UNQUOTED = re.compile(r"[^ \t\n\f\r>]*")

_RE_CHARSET_IN_CONTENT = re.compile(r"\bcharset[ \n\r\t\f]*=[ \n\r\t\f]*([\w-]+)\b", re.I | re.A)

_RAW_TEXT_TAGS = ("script", "style", "textarea")


def _meta_charset(names, values, charset):
    """The charset a meta tag leaves, from its valued attributes in order
    and the ``charset`` before it: the meta-charset sniff
    (html-parser.ts:729-758), whose content-type two-step restarts at
    every tag.  The native core calls it for a meta tag with an
    ``http-equiv`` or ``content`` attribute and reads ``charset=`` alone
    itself."""
    content_type = False
    pending = None
    for name, value in zip(names, values):
        al = name.lower()
        if al == "charset":
            charset = value.strip()
        elif al == "http-equiv" and value.lower() == "content-type":
            content_type = True
            charset = pending
        elif al == "content":
            cm = _RE_CHARSET_IN_CONTENT.search(value)
            cs = cm.group(1) if cm else None
            if content_type:
                charset = cs
            else:
                pending = cs
    return charset


_native = _native_build.load()
if _native is not None:
    _native.setup(OPEN_IMPLIES_CLOSE, VOID_ELEMENTS, _RAW_TEXT_TAGS,
                  FORMATTING_ELEMENTS, MARKER_ELEMENTS, _meta_charset)
# the native core's entry points (None: the general machine reads all,
# and DocBuilder.count_unclosed_flat counts)
_NATIVE_SCAN = _native.scan if _native is not None else None
_NATIVE_CENSUS = _native.census if _native is not None else None
NATIVE = _NATIVE_SCAN is not None

# a char that is neither HTML whitespace nor astral (the wrap-up
# trailing-text check: C-level search instead of a per-char Python loop)
_RE_NON_WS_BMP = re.compile(r"[^ \t\n\f\r\U00010000-\U0010ffff]")

# encoding-pattern sniffing (html-parser.ts:306-324), applied to the
# (mis)decoded text's first chars
_RE_ENC_UTF32BE = re.compile("^(\x00\x00\xfe\xff|\x00\x00\x00[\x01-\xff]\x00\x00\x00[\x01-\xff])")
_RE_ENC_UTF32LE = re.compile("^(\xff\xfe\x00\x00|[\x01-\xff]\x00\x00\x00[\x01-\xff]\x00\x00\x00)")
_RE_ENC_UTF16BE = re.compile("^(\xfe\xff|\x00[\x01-\xff]\x00[\x01-\xff])")
_RE_ENC_UTF16LE = re.compile("^(\xff\xfe|[\x01-\xff]\x00[\x01-\xff]\x00)")


def check_encoding(first_chars: str) -> str | None:
    """Pattern-sniff UTF-16/32 BE/LE from the first chars of a (mis)decoded
    document. Returns the encoding name or None."""
    # every pattern requires a NUL or a BOM pair in the first chars; one
    # C-level containment test short-circuits all four regexes for the
    # overwhelmingly common plain-text prefix
    if "\x00" not in first_chars and not first_chars.startswith(
            ("\xfe\xff", "\xff\xfe")):
        return None
    if _RE_ENC_UTF32BE.match(first_chars):
        return "UTF-32BE"
    if _RE_ENC_UTF32LE.match(first_chars):
        return "UTF-32LE"
    if _RE_ENC_UTF16BE.match(first_chars):
        return "UTF-16BE"
    if _RE_ENC_UTF16LE.match(first_chars):
        return "UTF-16LE"
    return None


def normalize_encoding_name(name: str, explicit: bool = True) -> str:
    if explicit:
        return re.sub(r":\d{4}$|[^0-9a-z]", "", name.lower())
    return name.lower().replace("-", "")


def _normalize_eol_option(eol) -> str | None:
    if not eol:
        return None
    if eol in (True, "\n", "n", "lf"):
        return "\n"
    if eol in ("\r", "r", "cr"):
        return "\r"
    if eol in ("\r\n", "rn", "crlf"):
        return "\r\n"
    return None


def _normalize_eols(source: str, eol_n: str | None = "\n") -> str:
    """``source`` with every line break (``\\r\\n``, ``\\r`` or ``\\n``) made
    ``eol_n``, a normalized ``eol`` option; None leaves it as is."""
    if eol_n and (eol_n != "\n" or "\r" in source):
        return D._RE_EOL.sub(eol_n, source)
    return source


class ParseResult:
    """Mirror of the reference's ParseResults (html-parser.ts:18-31)."""

    __slots__ = ("dom", "characters", "errors", "implicitly_closed_tags",
                 "lines", "stopped", "unclosed_tags", "charset",
                 "pattern_encoding", "xml_mode", "text")

    def __init__(self, builder: DocBuilder, text: str):
        self.dom = builder
        self.text = text  # the (EOL-normalized) source the DOM indexes into
        self.characters = 0
        self.errors = 0
        self.implicitly_closed_tags = 0
        self.lines = 0
        self.stopped = False
        self.unclosed_tags = 0
        self.charset: str | None = None
        self.pattern_encoding: str | None = None
        self.xml_mode = False

    def to_string(self) -> str:
        return self.dom.serialize(0)


def parse(source: str, *, empty_end_tag: bool = True, eol="\n", tab_size: int = 8,
          xml_mode: bool = False, positions: bool = True,
          on_charset=None) -> ParseResult:
    """Parse ``source`` with the reference's std-mode semantics.

    Both ``positions`` modes build the same records.  With
    ``positions=True`` the builder keeps a ``dom._Pos`` over the parsed
    text, which works out a node's line and column (tab stops every
    ``tab_size`` columns) when they are read; with ``positions=False``
    they read 0.

    ``on_charset`` mirrors the reference's ``encoding`` callback: it is
    called once, with the charset, at the end of the first ``meta`` tag
    whose attributes leave a non-empty charset (at the end of the tag, not
    per attribute: one tag can set the charset and clear it again).  If it
    returns true the parse stops after that tag, and the result has
    ``stopped`` set and holds what was read up to there: its nodes, errors,
    element counts and lines.
    """
    characters = len(source)
    pattern_encoding = check_encoding(source[:8])

    eol_n = _normalize_eol_option(eol)
    t = _normalize_eols(source, eol_n)
    n = len(t)

    b = DocBuilder()
    b.xml_mode = xml_mode
    if positions:
        b.pos = _Pos(t, tab_size)
    xml = xml_mode

    result = ParseResult(b, t)
    result.characters = characters
    result.pattern_encoding = pattern_encoding

    ws_set = _WS_SET

    def ws_end(p: int) -> int:
        # whitespace-run gather (incl. the astral-char quirk) — runs are
        # almost always 0-2 chars, where a direct scan beats the regex
        # engine + match-object allocation
        while p < n:
            c0 = t[p]
            if c0 in ws_set or c0 > "￿":
                p += 1
            else:
                break
        return p

    find = t.find
    nodes = b.nodes
    stack = b.open_stack  # never rebound by DocBuilder (in-place ops only)
    add_leaf = b.add_leaf
    pop = b.pop
    add_attribute = b.add_attribute
    # read from the module globals on every call (see module docstring)
    native = _NATIVE_SCAN
    errors = 0
    stopped = False
    charset: str | None = None
    trailing_markup_error = False  # EOF with pending markup / trailing text

    def charset_stops() -> bool:
        # the end of a meta tag that left a charset: the on_charset hook
        nonlocal stopped
        stopped = on_charset is not None and bool(on_charset(charset))
        return stopped

    i = 0
    while i < n and not stopped:
        if native is not None and not xml:
            # the native core reads every token it owns and stops at the
            # first one it does not (or after the tag on_charset stopped
            # at); the general machine below reads that one token
            i, e, charset, stopped = native(t, i, nodes, stack, b,
                                            empty_end_tag, charset, on_charset)
            errors += e
            if i >= n or stopped:
                break
        # ---------------- OUTSIDE_MARKUP: gather text ----------------
        run_start = i
        j = i
        k = n
        c2 = ""
        while True:
            k = find("<", j)
            if k < 0:
                k = n
                break
            c2 = t[k + 1] if k + 1 < n else ""
            if c2 in _MARKUP_START_SET:
                if c2 == "/" and not empty_end_tag:
                    c3 = t[k + 2] if k + 2 < n else ""
                    if c3 != "/" and c3 in _MARKUP_START_SET:
                        break
                    j = k + 3 if c3 else k + 2
                    continue
                break
            # literal '<': it and the following char are consumed as text
            j = k + 2 if c2 else k + 1

        if k == n:
            text = t[run_start:n]
            if text:
                is_all_ws = _RE_NON_WS_BMP.search(text) is None
                cur = stack[-1]
                nodes.append([TEXT, "", "", cur, None, UNCLOSED, text, True,
                              True, "", None, None, None, None, None, "",
                              None, False, run_start, n, -1])
                nodes[cur][N_CHILDREN].append(len(nodes) - 1)
                if not is_all_ws:
                    # handleText left the parser in AT_MARKUP_START at EOF
                    trailing_markup_error = True
            i = n
            break

        if k > run_start:
            cur = stack[-1]
            nodes.append([TEXT, "", "", cur, None, UNCLOSED, t[run_start:k],
                          True, True, "", None, None, None, None, None, "",
                          None, False, run_start, k, -1])
            nodes[cur][N_CHILDREN].append(len(nodes) - 1)

        # ---------------- markup dispatch at k; c2 = t[k+1] ----------------
        if c2 == "/":
            # ---- end tag ----
            i = k + 2
            iw = ws_end(i)
            if iw >= n:
                errors += 1
                add_leaf(D.UNMATCHED_CLOSE, t[k:n], src_start=k, src_end=n,
                         end_at=n - 1)
                i = n
                break
            c = t[iw]
            if c == ">":
                errors += 1
                add_leaf(D.UNMATCHED_CLOSE, t[k:iw + 1], src_start=k,
                         src_end=iw + 1, end_at=iw)
                i = iw + 1
                continue
            m = (_RE_TAG_STRICT if xml else _RE_TAG_LOOSE).match(t, iw + 1)
            tag = c + m.group(0)
            tag_end = m.end()
            tag_lc = tag if xml else tag.lower()

            i2 = ws_end(tag_end)
            if i2 >= n:
                errors += 1
                add_leaf(D.UNMATCHED_CLOSE, t[k:n], src_start=k, src_end=n,
                         end_at=n - 1)
                i = n
                break
            ws2 = t[tag_end:i2]
            c3 = t[i2]
            if c3 == ">":
                # endTagText excludes whitespace after '</' (html-parser.ts:633)
                if not pop(tag_lc, "</" + tag + ws2 + ">", k, i2 + 1):
                    errors += 1
                i = i2 + 1
            elif xml:
                errors += 1
                if not pop(tag_lc, t[k:i2], k, i2):
                    errors += 1
                i = i2  # offending char re-parsed as text
            elif i2 == n - 1:
                # EOF right after the offending char (html-parser.ts:615-616)
                errors += 1
                add_leaf(D.UNMATCHED_CLOSE, t[k:n], src_start=k, src_end=n,
                         end_at=n - 1)
                i = n
                break
            else:
                errors += 1  # 'Syntax error in end tag'
                g = find(">", i2 + 1)
                if g < 0:
                    end_tag_text = "</" + tag + t[tag_end:n]
                    i = n
                else:
                    end_tag_text = "</" + tag + t[tag_end:g + 1]
                    i = g + 1
                if not pop(tag_lc, end_tag_text, k, i):
                    errors += 1
            continue

        if c2 == "!":
            # ---- declaration / comment / cdata / doctype ----
            i = k + 2
            iw = ws_end(i)
            w = t[i:iw]
            if not w and t[iw:iw + 2] == "--":
                # comment; body from iw+2, closes on '>' after m%3==2 dashes
                start = iw + 2
                e = -1
                scan = start
                while True:
                    g = find(">", scan)
                    if g < 0:
                        break
                    d = g - 1
                    while d >= start and t[d] == "-":
                        d -= 1
                    mlen = g - 1 - d
                    if mlen >= 2 and mlen % 3 == 2:
                        e = g
                        break
                    scan = g + 1
                if e < 0:
                    errors += 1
                    add_leaf(D.COMMENT, t[start:n], False, src_start=k,
                             src_end=n)
                    i = n
                else:
                    add_leaf(D.COMMENT, t[start:e - 2], src_start=k,
                             src_end=e + 1)
                    i = e + 1
                continue

            is_cdata = (b.should_parse_cdata() and t[k + 2:k + 9] == "[CDATA["
                        and k + 9 < n)
            if is_cdata:
                scan = k + 9
                e = -1
                while True:
                    g = find(">", scan)
                    if g < 0:
                        break
                    if g - 2 >= k + 2 and t[g - 2:g] == "]]":
                        e = g
                        break
                    scan = g + 1
                if e < 0:
                    errors += 1
                    add_leaf(D.CDATA, t[k + 9:n], False, src_start=k,
                             src_end=n)
                    i = n
                else:
                    add_leaf(D.CDATA, t[k + 9:e - 2], src_start=k,
                             src_end=e + 1)
                    i = e + 1
                continue

            if not w and iw < n and t[iw] == ">":
                content = ""
                terminated = True
                i = iw + 1
            elif iw >= n:
                content = t[k + 2:n]
                terminated = False
                i = n
            else:
                e = find(">", iw + 1)
                if e < 0:
                    content = t[k + 2:n]
                    terminated = False
                    i = n
                else:
                    content = t[k + 2:e]
                    terminated = True
                    i = e + 1

            if D._RE_DOCTYPE.match(content):
                add_leaf(D.DOCTYPE, content, terminated, src_start=k,
                         src_end=i)
                if not terminated:
                    errors += 1
                dt_type, _, _ = DocBuilder.doctype_info(content)
                xml = dt_type == "xhtml"
                b.xml_mode = xml
            else:
                add_leaf(D.DECLARATION, content, terminated, src_start=k,
                         src_end=i)
                if not terminated:
                    errors += 1
            continue

        if c2 == "?":
            # ---- processing instruction ----
            i = k + 2
            iw = ws_end(i)
            w = t[i:iw]
            if not w and iw < n and t[iw] == ">":
                content = ""
                terminated = True
                i = iw + 1
            elif iw >= n:
                content = t[k + 2:n]
                terminated = False
                i = n
            else:
                e = find(">", iw + 1)
                if e < 0:
                    content = t[k + 2:n]
                    terminated = False
                    i = n
                else:
                    content = t[k + 2:e]
                    terminated = True
                    i = e + 1
            add_leaf(D.PROCESSING, content, terminated, src_start=k,
                     src_end=i)
            if not terminated:
                errors += 1
            # no canDoXmlMode() check: it can never pass (module docstring)
            continue

        # ---- start tag ----
        m = (_RE_TAG_STRICT if xml else _RE_TAG_LOOSE).match(t, k + 2)
        tag = c2 + m.group(0)
        i = m.end()
        tag_lc = tag if xml else tag.lower()
        node = len(nodes)
        nd = [ELEMENT, tag, tag_lc, -1, [], UNCLOSED, None, True, False, "",
              (), (), (), (), (), "", None, False, k, -1, -1]
        nodes.append(nd)
        if not xml:
            closers = OPEN_IMPLIES_CLOSE.get(tag_lc)
            if closers:
                while nodes[stack[-1]][N_TAG_LC] in closers:
                    nodes[stack[-1]][N_CLOSURE] = IMPLICITLY_CLOSED
                    stack.pop()
        cur = stack[-1]
        nd[N_PARENT] = cur
        nodes[cur][N_CHILDREN].append(node)
        stack.append(node)
        if tag_lc == "math" or tag_lc == "svg":
            b.in_math_or_svg += 1

        # a meta tag while no charset is known: its valued attributes go
        # to the sniff at the end of the tag (a two-step per tag)
        sniffed = ([], []) if not charset and tag_lc == "meta" else None
        tag_end_kind = None  # '>', '/>', 'eof', 'bad'

        attr_re = _RE_ATTR_STRICT if xml else _RE_ATTR_LOOSE
        pend_ws: str | None = None

        while tag_end_kind is None:
            if pend_ws is None:
                if i < n and (t[i] in ws_set or t[i] > "\uffff"):
                    iw = ws_end(i + 1)
                    w = t[i:iw]
                    i = iw
                else:
                    w = ""
            else:
                w = pend_ws
                pend_ws = None
            if i >= n:
                # EOF in AT_ATTRIBUTE_START; pending collectedSpace becomes a
                # trailing text child at wrap-up (html-parser.ts:498-501)
                errors += 1
                nd[N_BAD_TERM] = ""
                if w:
                    add_leaf(D.TEXT, w, True, True, n - len(w), n)
                tag_end_kind = "eof"
                break
            c = t[i]
            if c == "/":
                if i + 1 < n and t[i + 1] == ">":
                    nd[N_INNER_WS] = w
                    i += 2
                    tag_end_kind = "/>"
                    break
                if not xml:
                    # stray slash becomes a valueless '/' attribute
                    add_attribute("/", "", w, "", "")
                    i += 1
                    continue
                nd[N_INNER_WS] = w
                nd[N_BAD_TERM] = "/"
                errors += 1
                i += 1
                tag_end_kind = "bad"
                break
            if c == ">":
                nd[N_INNER_WS] = w
                i += 1
                tag_end_kind = ">"
                break
            am = attr_re.match(t, i)
            if am.end() > i:
                name = am.group(0)
                i = am.end()
                # AT_ATTRIBUTE_ASSIGNMENT
                if i < n and (t[i] in ws_set or t[i] > "\uffff"):
                    iw2 = ws_end(i + 1)
                    w2 = t[i:iw2]
                    i = iw2
                else:
                    w2 = ""
                if i >= n:
                    errors += 1
                    add_attribute(name, "", w, "", "")
                    nd[N_BAD_TERM] = ""
                    if w2:
                        add_leaf(D.TEXT, w2, True, True, n - len(w2), n)
                    tag_end_kind = "eof"
                    break
                if t[i] != "=":
                    add_attribute(name, "", w, "", "")
                    pend_ws = w2
                    continue
                pre_eq = w2
                i += 1
                # AT_ATTRIBUTE_VALUE
                if i < n and (t[i] in ws_set or t[i] > "\uffff"):
                    iw3 = ws_end(i + 1)
                    w3 = t[i:iw3]
                    i = iw3
                else:
                    w3 = ""
                if i >= n:
                    errors += 1
                    add_attribute(name, "", w, pre_eq + "=", "")
                    nd[N_BAD_TERM] = ""
                    if w3:
                        add_leaf(D.TEXT, w3, True, True, n - len(w3), n)
                    tag_end_kind = "eof"
                    break
                c3 = t[i]
                if c3 == ">":
                    add_attribute(name, "", w, pre_eq + "=", "")
                    pend_ws = w3
                    continue
                if c3 == '"' or c3 == "'":
                    e = find(c3, i + 1)
                    if e < 0:
                        value = t[i + 1:n]
                        add_attribute(name, value, w, pre_eq + "=" + w3, "_" + c3)
                        # stepTwo still runs for the unterminated value
                        # (html-parser.ts:419,721-758)
                        if sniffed:
                            sniffed[0].append(name)
                            sniffed[1].append(value)
                        i = n
                        errors += 1
                        nd[N_BAD_TERM] = ""
                        tag_end_kind = "eof"
                        break
                    value = t[i + 1:e]
                    quote = c3
                    i = e + 1
                else:
                    vm = _RE_UNQUOTED.match(t, i)
                    value = vm.group(0)
                    i = vm.end()
                    if value.endswith("/"):
                        value = value[:-1]
                        i -= 1
                    quote = ""
                add_attribute(name, value, w, pre_eq + "=" + w3, quote)
                if sniffed:
                    sniffed[0].append(name)
                    sniffed[1].append(value)
                continue
            # not an attribute-name char: only '=' (HTML) or strict-mode
            # specials reach here -> bad terminator, back to text
            nd[N_INNER_WS] = w
            nd[N_BAD_TERM] = c
            errors += 1
            i += 1
            tag_end_kind = "bad"
            break

        # the tag is read: a meta tag that left a charset calls the hook,
        # and a stop takes effect once the tag is closed or pushed
        if sniffed:
            charset = _meta_charset(*sniffed, charset)
            if charset:
                charset_stops()
        if tag_end_kind == "eof":
            i = n
            break
        if tag_end_kind == "bad":
            continue  # state OUTSIDE_MARKUP; node remains open on the stack

        # tag ended with '>' or '/>'
        if tag_end_kind == "/>" or (not xml and tag_lc in VOID_ELEMENTS):
            # inline of DocBuilder.pop's sentinel case (top of stack == node)
            stack.pop()
            nd[N_CLOSURE] = SELF_CLOSED if tag_end_kind == "/>" else VOID_CLOSED
            nd[N_SRC_END] = i
            if tag_lc == "table":
                b._examine_table(node)
            if tag_lc == "math" or tag_lc == "svg":
                b.in_math_or_svg -= 1
            continue

        if tag_lc in _RAW_TEXT_TAGS:
            # ---- raw-text content: scan for '</tag' [ws]* '>' ----
            ender = "</" + tag_lc
            elen = len(ender)
            scan = i
            match_start = -1
            gt = -1
            while True:
                kk = find("<", scan)
                if kk < 0:
                    break
                mlen = 0
                while mlen < elen and kk + mlen < n and t[kk + mlen].lower() == ender[mlen]:
                    mlen += 1
                if mlen < elen:
                    if kk + mlen >= n:
                        break
                    scan = kk + mlen + 1  # naive matcher: resume after mismatch
                    continue
                p = kk + elen
                while p < n and t[p] in _WS_SET:
                    p += 1
                if p < n and t[p] == ">":
                    match_start = kk
                    gt = p
                    break
                if p >= n:
                    break
                scan = p + 1
                continue

            if match_start < 0:
                errors += 1
                nd[N_CLOSURE] = D.UNCLOSED
                content = t[i:n]
                if content:
                    add_leaf(D.TEXT, content, True, tag_lc == "textarea", i,
                             n)
                i = n
                # state OUTSIDE at EOF: no extra wrap-up error
                break
            content = t[i:match_start]
            if content:
                add_leaf(D.TEXT, content, True, tag_lc == "textarea", i,
                         match_start)
            if not pop(tag_lc, t[match_start:gt + 1], match_start, gt + 1):
                errors += 1
            i = gt + 1
        # else: plain OUTSIDE_MARKUP continues

    if trailing_markup_error:
        errors += 1
    if not stopped:
        i = n

    result.errors = errors
    result.charset = charset
    result.xml_mode = xml
    census = _NATIVE_CENSUS
    result.unclosed_tags, result.implicitly_closed_tags = (
        b.count_unclosed_flat() if census is None else census(nodes))
    result.stopped = stopped
    # after EOL normalization eol_n is the text's only line break
    result.lines = 1 + (t.count(eol_n, 0, i) if eol_n
                        else count_eols(t[:i]))
    return result
