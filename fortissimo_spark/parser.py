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
  does, html-parser.ts:801).
* html-parser.ts:1140-1147 — CDATA is recognized only when ``[CDATA[`` is
  complete *and* at least one more char follows before EOF.
"""

from __future__ import annotations

import re
from bisect import bisect_right

from . import dom as D
from .dom import (
    ELEMENT, EXPLICITLY_CLOSED, IMPLICITLY_CLOSED, OPEN_IMPLIES_CLOSE,
    SELF_CLOSED, TEXT, UNCLOSED, VOID_CLOSED,
    DocBuilder, N_BAD_TERM, N_CHILDREN, N_CLOSURE, N_END_COL, N_END_LINE,
    N_END_TAG, N_INNER_WS, N_PARENT, N_SRC_END, N_TAG_LC,
    POP_SELF, POP_VOID, VOID_ELEMENTS,
)

__all__ = ["ParseResult", "parse", "check_encoding", "normalize_encoding_name"]

_WS = " \t\n\f\r"
_WS_SET = frozenset(_WS)

# markup-start dispatch class [a-zA-Z:/!?] as a set — the per-'<' check is
# the hottest test in the text gather loop and needs no regex machinery
# (whitespace runs are gathered by the ws_end scan inside parse(), which
# keeps the astral-chars-as-whitespace quirk — see module docstring)
_MARKUP_START_SET = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ:/!?")
_RE_ANY_EOL = re.compile(r"\r\n|\r|\n")

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

# --- fused fast-path regexes (HTML mode only; any non-match falls back to
# the general state machine, so these can only ever agree with it) ---------
# tag whitespace incl. the astral-chars-as-whitespace quirk
_TAG_WS = r"[ \t\n\f\r\U00010000-\U0010ffff]"
# end of a start tag: optional PLAIN whitespace then '>' or '/>' (astral ws
# fails the match and takes the slow path, which applies the quirk)
_RE_TAG_CLOSE = re.compile(r"([ \t\n\f\r]*)(/?)>")
# simple end tag: '</' name [plain-ws]* '>' with no leading whitespace
# (first char can't be astral: the gatherer would treat it as whitespace)
_RE_END_FAST = re.compile(
    r"([^ \t\n\f\r>\U00010000-\U0010ffff][^ \n\r\t\f/>]*)([ \t\n\f\r]*)>")
# one whole attribute in a single match:
#   1 leading ws, 2 name, 3 ws-before-'=', 4 ws-after-'=', 5 raw value
# (groups 3-5 are None for a valueless attribute).  The quoted alternatives
# span '>' and newlines exactly like the find(quote) scan; an unterminated
# quote falls through to the unquoted class and is detected by its first
# char.  Name: first char can't be astral (same gatherer argument), the rest
# mirrors _RE_ATTR_LOOSE.
_RE_ATTR_FAST = re.compile(
    "(" + _TAG_WS + "*)"
    r"([^ \t\n\f\r>/=\U00010000-\U0010ffff][^ \t\n\f\r>/=]*)"
    "(?:(" + _TAG_WS + "*)=(" + _TAG_WS + "*)"
    "(\"[^\"]*\"|'[^']*'|[^ \t\n\f\r>]*))?")
# whole attribute-less start tag '<name [plain-ws] [/] >' in one match,
# applied at k+1 (the first char is already known to be in
# _MARKUP_START_SET and not '/', '!' or '?')
_RE_STAG_SIMPLE = re.compile(r"([^ \n\r\t\f/>]+)([ \t\n\f\r]*)(/?)>")
# whole SINGLE-attribute start tag in one match (97% of attribute-bearing
# tags in a web corpus have exactly one).  Groups: 1 tag name, 2 leading
# ws, 3 attr name, 4/5 ws around '=', 6 raw value, 7 close ws, 8 slash.
# Whitespace classes are PLAIN here — any astral-ws shape fails the match
# and takes the general machine.  Values starting with an unmatched quote
# and 'value ends with /' + more-tag shapes bail to the general machine
# (see the ok checks at the use site).
_RE_STAG_ONEATTR = re.compile(
    r"([^ \n\r\t\f/>]+)"
    r"([ \t\n\f\r]+)"
    r"([^ \t\n\f\r>/=\U00010000-\U0010ffff][^ \t\n\f\r>/=]*)"
    r"(?:([ \t\n\f\r]*)=([ \t\n\f\r]*)"
    r"(\"[^\"]*\"|'[^']*'|[^ \t\n\f\r>]*))?"
    r"([ \t\n\f\r]*)(/?)>")
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


class _Pos:
    """Lazy 1-based line / tab-aware column lookup over the parsed text."""

    __slots__ = ("t", "tab_size", "starts")

    def __init__(self, t: str, tab_size: int):
        self.t = t
        self.tab_size = tab_size
        starts = [0]
        for m in _RE_ANY_EOL.finditer(t):
            starts.append(m.end())
        self.starts = starts

    def line(self, pos: int) -> int:
        return bisect_right(self.starts, pos)

    def line_col(self, pos: int) -> tuple[int, int]:
        ln = bisect_right(self.starts, pos)
        ls = self.starts[ln - 1]
        seg = self.t[ls:pos + 1]
        if "\t" not in seg:
            return ln, len(seg)
        col = 0
        inc = 1
        tab = self.tab_size
        for c in seg:
            col += inc
            inc = tab - (col - 1) % tab if c == "\t" else 1
        return ln, col


_NO_POS = (0, 0)


def parse(source: str, *, empty_end_tag: bool = True, eol="\n", tab_size: int = 8,
          xml_mode: bool = False, positions: bool = True) -> ParseResult:
    """Parse ``source`` with the reference's std-mode semantics.

    ``positions=False`` skips line/column computation (hot path); node
    line/col are then 0.
    """
    characters = len(source)
    pattern_encoding = check_encoding(source[:8])

    eol_n = _normalize_eol_option(eol)
    if eol_n and (eol_n != "\n" or "\r" in source):
        t = _RE_ANY_EOL.sub(eol_n, source)
    else:
        t = source
    n = len(t)

    b = DocBuilder()
    b.xml_mode = xml_mode
    xml = xml_mode

    result = ParseResult(b, t)
    result.characters = characters
    result.pattern_encoding = pattern_encoding

    pos = _Pos(t, tab_size) if positions else None
    # lc is None on the hot path (positions=False): call sites branch on it
    # instead of paying a no-op function call per markup token
    lc = pos.line_col if positions else None

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
    open_element = b.open_element
    pop = b.pop
    add_attribute = b.add_attribute
    attr_fast = _RE_ATTR_FAST.match
    tag_close = _RE_TAG_CLOSE.match
    end_fast = _RE_END_FAST.match
    stag_simple = _RE_STAG_SIMPLE.match
    stag_oneattr = _RE_STAG_ONEATTR.match
    errors = 0
    charset: str | None = None
    checking_charset = False
    content_type = False
    pending_charset: str | None = None
    trailing_markup_error = False  # EOF with pending markup / trailing text

    def check_charset(name: str, value: str) -> None:
        # meta-charset sniff (html-parser.ts:729-758)
        nonlocal charset, content_type, pending_charset
        al = name.lower()
        if al == "charset":
            charset = value.strip()
        elif al == "http-equiv" and value.lower() == "content-type":
            content_type = True
            charset = pending_charset
        elif al == "content":
            cm = _RE_CHARSET_IN_CONTENT.search(value)
            cs = cm.group(1) if cm else None
            if content_type:
                charset = cs
            else:
                pending_charset = cs

    i = 0
    while i < n:
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
                ln, col = lc(run_start) if lc else _NO_POS
                cur = stack[-1]
                nodes.append([TEXT, "", "", cur, None, UNCLOSED, text, True,
                              True, ln, col, "", 0, 0, None, None, None, None,
                              None, "", None, False, run_start, n])
                nodes[cur][N_CHILDREN].append(len(nodes) - 1)
                if not is_all_ws:
                    # handleText left the parser in AT_MARKUP_START at EOF
                    trailing_markup_error = True
            i = n
            break

        if k > run_start:
            ln, col = lc(run_start) if lc else _NO_POS
            cur = stack[-1]
            nodes.append([TEXT, "", "", cur, None, UNCLOSED, t[run_start:k],
                          True, True, ln, col, "", 0, 0, None, None, None,
                          None, None, "", None, False, run_start, k])
            nodes[cur][N_CHILDREN].append(len(nodes) - 1)

        mk_ln, mk_col = lc(k) if lc else _NO_POS

        # ---------------- markup dispatch at k; c2 = t[k+1] ----------------
        if c2 == "/":
            # ---- end tag: fused fast path for the common '</name>' shape --
            if not xml:
                em = end_fast(t, k + 2)
                if em is not None:
                    tag, ws2 = em.group(1, 2)
                    g = em.end()
                    tag_lc = tag.lower()
                    cur = stack[-1]
                    nd2 = nodes[cur]
                    if nd2[N_TAG_LC] == tag_lc and len(stack) > 1:
                        # inline of DocBuilder.pop's matching-top case
                        stack.pop()
                        nd2[N_CLOSURE] = EXPLICITLY_CLOSED
                        nd2[N_END_TAG] = "</" + tag + ws2 + ">"
                        nd2[N_END_LINE] = mk_ln
                        nd2[N_END_COL] = mk_col
                        nd2[N_SRC_END] = g
                        if tag_lc == "table":
                            b._examine_table(cur)
                        if tag_lc == "math" or tag_lc == "svg":
                            b.in_math_or_svg -= 1
                    elif not pop(tag_lc, "</" + tag + ws2 + ">",
                                 mk_ln, mk_col, g):
                        errors += 1
                    i = g
                    continue
            # ---- end tag (general: xml mode, syntax errors, EOF) ----
            i = k + 2
            iw = ws_end(i)
            if iw >= n:
                errors += 1
                ln, col = lc(n - 1) if lc else _NO_POS
                add_leaf(D.UNMATCHED_CLOSE, t[k:n], ln, col,
                                       src_start=k, src_end=n)
                i = n
                break
            c = t[iw]
            if c == ">":
                errors += 1
                ln, col = lc(iw) if lc else _NO_POS
                add_leaf(D.UNMATCHED_CLOSE, t[k:iw + 1], ln, col,
                                       src_start=k, src_end=iw + 1)
                i = iw + 1
                continue
            m = (_RE_TAG_STRICT if xml else _RE_TAG_LOOSE).match(t, iw + 1)
            tag = c + m.group(0)
            tag_end = m.end()
            tag_lc = tag if xml else tag.lower()

            i2 = ws_end(tag_end)
            ws2 = t[tag_end:i2]
            if i2 >= n:
                errors += 1
                ln, col = lc(n - 1) if lc else _NO_POS
                add_leaf(D.UNMATCHED_CLOSE, t[k:n], ln, col,
                                       src_start=k, src_end=n)
                i = n
                break
            ws2 = t[tag_end:i2]
            c3 = t[i2]
            if c3 == ">":
                # endTagText excludes whitespace after '</' (html-parser.ts:633)
                if not pop(tag_lc, "</" + tag + ws2 + ">", mk_ln, mk_col, end_pos=i2 + 1):
                    errors += 1
                i = i2 + 1
            elif xml:
                errors += 1
                if not pop(tag_lc, t[k:i2], mk_ln, mk_col):
                    errors += 1
                i = i2  # offending char re-parsed as text
            elif i2 == n - 1:
                # EOF right after the offending char (html-parser.ts:615-616)
                errors += 1
                ln, col = lc(n - 1) if lc else _NO_POS
                add_leaf(D.UNMATCHED_CLOSE, t[k:n], ln, col,
                                       src_start=k, src_end=n)
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
                if not pop(tag_lc, end_tag_text, mk_ln, mk_col, end_pos=i):
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
                    node = add_leaf(D.COMMENT, t[start:n], mk_ln, mk_col,
                                      terminated=False, src_start=k, src_end=n)
                    i = n
                else:
                    node = add_leaf(D.COMMENT, t[start:e - 2], mk_ln, mk_col,
                                      src_start=k, src_end=e + 1)
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
                    node = add_leaf(D.CDATA, t[k + 9:n], mk_ln, mk_col,
                                      terminated=False, src_start=k, src_end=n)
                    i = n
                else:
                    node = add_leaf(D.CDATA, t[k + 9:e - 2], mk_ln, mk_col,
                                      src_start=k, src_end=e + 1)
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
                node = add_leaf(D.DOCTYPE, content, mk_ln, mk_col,
                                  terminated=terminated, src_start=k, src_end=i)
                if not terminated:
                    errors += 1
                dt_type, _, _ = DocBuilder.doctype_info(content)
                xml = dt_type == "xhtml"
                b.xml_mode = xml
            else:
                node = add_leaf(D.DECLARATION, content, mk_ln, mk_col,
                                  terminated=terminated, src_start=k, src_end=i)
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
            node = add_leaf(D.PROCESSING, content, mk_ln, mk_col,
                              terminated=terminated, src_start=k, src_end=i)
            if not terminated:
                errors += 1
            # dead by design in the reference: canDoXmlMode() is checked after
            # the PI is already a child (see module docstring)
            if content.startswith("xml ") and b.can_do_xml_mode():
                xml = True
                b.xml_mode = True
            continue

        # ---- start tag ----
        om = None
        sm = stag_simple(t, k + 1) if not xml else None
        if sm is None and not xml:
            om = stag_oneattr(t, k + 1)
            if om is not None:
                (tag, w1, aname, g4, g5, val, w7,
                 slash) = om.group(1, 2, 3, 4, 5, 6, 7, 8)
                equals = ""
                quote = ""
                inner_ws = w7
                value = val
                if g4 is None:
                    value = ""  # valueless attribute
                elif val:
                    q0 = val[0]
                    if q0 > "￿":
                        # astral char at value start: the general machine
                        # treats it as post-'=' whitespace
                        om = None
                    elif q0 == '"' or q0 == "'":
                        if (len(val) >= 2 and val[-1] == q0
                                and q0 not in val[1:-1]):
                            value = val[1:-1]
                            quote = q0
                            equals = g4 + "=" + g5
                        else:
                            # quote closes later/never, or the unquoted
                            # class re-matched '"x"c="y"' past the close
                            om = None
                    elif val[-1] == "/":
                        if not w7 and not slash:
                            # '<a b=1/>': trim one slash, self-close
                            value = val[:-1]
                            slash = "/"
                            equals = g4 + "=" + g5
                        else:
                            om = None  # '<a b=1/ >': stray-slash semantics
                    else:
                        equals = g4 + "=" + g5
                else:
                    # '=' then '>': valueless-with-equals, '='-ws is inner
                    equals = g4 + "="
                    inner_ws = g5
        if sm is not None:
            # fused fast path: attribute-less tag, name + inner ws + close
            # in one match (the general path below is byte-for-byte
            # equivalent for these shapes).  The charset-sniff state resets
            # MUST still happen: an intervening attr-less tag clears a
            # pending charset exactly like any other start tag.
            content_type = False
            pending_charset = None
            tag, inner_ws, slash = sm.group(1, 2, 3)
            tag_lc = tag.lower()
            tag_end_kind = "/>" if slash else ">"
            i = sm.end()
            node = len(nodes)
            nd = [ELEMENT, tag, tag_lc, -1, [], UNCLOSED, None, True, False,
                  mk_ln, mk_col, "", 0, 0, [], [], [], [], [], inner_ws,
                  None, False, k, -1]
            nodes.append(nd)
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
        elif om is not None:
            # fused single-attribute start tag (attr lists built in place)
            content_type = False
            pending_charset = None
            tag_lc = tag.lower()
            tag_end_kind = "/>" if slash else ">"
            i = om.end()
            node = len(nodes)
            nd = [ELEMENT, tag, tag_lc, -1, [], UNCLOSED, None, True, False,
                  mk_ln, mk_col, "", 0, 0, [aname], [value], [w1], [equals],
                  [quote], inner_ws, None, False, k, -1]
            nodes.append(nd)
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
            if g4 is not None and val and not charset and tag_lc == "meta":
                # stepTwo runs only for VALUED attributes
                check_charset(aname, value)
        else:
            m = (_RE_TAG_STRICT if xml else _RE_TAG_LOOSE).match(t, k + 2)
            tag = c2 + m.group(0)
            tag_end = m.end()
            tag_lc = tag if xml else tag.lower()

            # inline of DocBuilder.open_element
            node = len(nodes)
            nd = [ELEMENT, tag, tag_lc, -1, [], UNCLOSED, None, True, False,
                  mk_ln, mk_col, "", 0, 0, [], [], [], [], [], "", None,
                  False, k, -1]
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

            checking_charset = (not charset) and tag_lc == "meta"
            content_type = False
            pending_charset: str | None = None

            i = tag_end
            tag_end_kind = None  # '>', '/>', 'eof', 'bad'

            html_fast = not xml
        if sm is None and om is None and html_fast:
            # ---- fused HTML attribute loop: one regex match per attribute,
            # one per tag close; every non-matching shape falls through to
            # the inline fallback, which replicates the general machine ----
            while True:
                am = attr_fast(t, i)
                if am is not None:
                    w, name, pre_eq, w3, val = am.group(1, 2, 3, 4, 5)
                    # inline of DocBuilder.add_attribute (nd is the open
                    # element): append to the five parallel attr lists
                    if pre_eq is None:
                        # valueless attribute (no '=' after the name); the
                        # following ws run is re-scanned as the next
                        # attribute's leading space (identical maximal run)
                        iw2 = ws_end(am.end())
                        if iw2 >= n:
                            errors += 1
                            nd[14].append(name); nd[15].append("")
                            nd[16].append(w); nd[17].append("")
                            nd[18].append("")
                            nd[N_BAD_TERM] = ""
                            w2 = t[am.end():n]
                            if w2:
                                ln, col = lc(n - len(w2)) if lc else _NO_POS
                                add_leaf(D.TEXT, w2, ln, col, True, True,
                                         n - len(w2), n)
                            tag_end_kind = "eof"
                            break
                        nd[14].append(name); nd[15].append("")
                        nd[16].append(w); nd[17].append("")
                        nd[18].append("")
                        i = am.end()
                        continue
                    if val:
                        q0 = val[0]
                        if q0 == '"' or q0 == "'":
                            if val[-1] == q0 and len(val) >= 2:
                                value = val[1:-1]
                                nd[14].append(name); nd[15].append(value)
                                nd[16].append(w)
                                nd[17].append(pre_eq + "=" + w3)
                                nd[18].append(q0)
                                if checking_charset:
                                    check_charset(name, value)
                                i = am.end()
                                continue
                            # unterminated quote: value runs to EOF
                            # (stepTwo still runs, html-parser.ts:419,721-758)
                            value = t[am.start(5) + 1:n]
                            nd[14].append(name); nd[15].append(value)
                            nd[16].append(w)
                            nd[17].append(pre_eq + "=" + w3)
                            nd[18].append("_" + q0)
                            if checking_charset:
                                check_charset(name, value)
                            errors += 1
                            nd[N_BAD_TERM] = ""
                            tag_end_kind = "eof"
                            break
                        i = am.end()
                        if val[-1] == "/":
                            val = val[:-1]
                            i -= 1
                        nd[14].append(name); nd[15].append(val)
                        nd[16].append(w)
                        nd[17].append(pre_eq + "=" + w3)
                        nd[18].append("")
                        if checking_charset:
                            check_charset(name, val)
                        continue
                    # empty value: next char is '>' (the value class matches
                    # empty only there) or EOF
                    if am.end() >= n:
                        errors += 1
                        nd[14].append(name); nd[15].append("")
                        nd[16].append(w); nd[17].append(pre_eq + "=")
                        nd[18].append("")
                        nd[N_BAD_TERM] = ""
                        if w3:
                            ln, col = lc(n - len(w3)) if lc else _NO_POS
                            add_leaf(D.TEXT, w3, ln, col, True, True,
                                     n - len(w3), n)
                        tag_end_kind = "eof"
                        break
                    nd[14].append(name); nd[15].append("")
                    nd[16].append(w); nd[17].append(pre_eq + "=")
                    nd[18].append("")
                    nd[N_INNER_WS] = w3
                    i = am.end() + 1
                    tag_end_kind = ">"
                    break
                em = tag_close(t, i)
                if em is not None:
                    w, slash = em.group(1, 2)
                    nd[N_INNER_WS] = w
                    i = em.end()
                    tag_end_kind = "/>" if slash else ">"
                    break
                # fallback: '/', '>', '=', astral whitespace, or EOF
                iw = ws_end(i)
                w = t[i:iw]
                if iw >= n:
                    # EOF in AT_ATTRIBUTE_START; pending collectedSpace
                    # becomes a trailing text child (html-parser.ts:498-501)
                    errors += 1
                    nd[N_BAD_TERM] = ""
                    if w:
                        ln, col = lc(n - len(w)) if lc else _NO_POS
                        add_leaf(D.TEXT, w, ln, col, True, True,
                                 n - len(w), n)
                    tag_end_kind = "eof"
                    break
                c = t[iw]
                if c == "/":
                    if iw + 1 < n and t[iw + 1] == ">":
                        nd[N_INNER_WS] = w
                        i = iw + 2
                        tag_end_kind = "/>"
                        break
                    # stray slash becomes a valueless '/' attribute
                    add_attribute("/", "", w, "", "")
                    i = iw + 1
                    continue
                if c == ">":
                    nd[N_INNER_WS] = w
                    i = iw + 1
                    tag_end_kind = ">"
                    break
                # '=' with no name: bad terminator, back to text
                nd[N_INNER_WS] = w
                nd[N_BAD_TERM] = c
                errors += 1
                i = iw + 1
                tag_end_kind = "bad"
                break

        attr_re = _RE_ATTR_STRICT
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
                b.bad_term[node] = ""
                if w:
                    ln, col = lc(n - len(w)) if lc else _NO_POS
                    add_leaf(D.TEXT, w, ln, col, poss_ent=True,
                                           src_start=n - len(w), src_end=n)
                tag_end_kind = "eof"
                break
            c = t[i]
            if c == "/":
                if i + 1 < n and t[i + 1] == ">":
                    b.add_inner_whitespace(w)
                    i += 2
                    tag_end_kind = "/>"
                    break
                if not xml:
                    # stray slash becomes a valueless '/' attribute
                    add_attribute("/", "", w, "", "")
                    i += 1
                    continue
                b.add_inner_whitespace(w)
                b.bad_term[node] = "/"
                errors += 1
                i += 1
                tag_end_kind = "bad"
                break
            if c == ">":
                b.add_inner_whitespace(w)
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
                    b.bad_term[node] = ""
                    if w2:
                        ln, col = lc(n - len(w2)) if lc else _NO_POS
                        add_leaf(D.TEXT, w2, ln, col, poss_ent=True,
                                               src_start=n - len(w2), src_end=n)
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
                    b.bad_term[node] = ""
                    if w3:
                        ln, col = lc(n - len(w3)) if lc else _NO_POS
                        add_leaf(D.TEXT, w3, ln, col, poss_ent=True,
                                               src_start=n - len(w3), src_end=n)
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
                        if checking_charset:
                            check_charset(name, value)
                        i = n
                        errors += 1
                        b.bad_term[node] = ""
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
                if checking_charset:
                    check_charset(name, value)
                continue
            # not an attribute-name char: only '=' (HTML) or strict-mode
            # specials reach here -> bad terminator, back to text
            b.add_inner_whitespace(w)
            b.bad_term[node] = c
            errors += 1
            i += 1
            tag_end_kind = "bad"
            break

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
                    ln, col = lc(i) if lc else _NO_POS
                    add_leaf(D.TEXT, content, ln, col, True,
                             tag_lc == "textarea", i, n)
                i = n
                # state OUTSIDE at EOF: no extra wrap-up error
                break
            content = t[i:match_start]
            if content:
                ln, col = lc(i) if lc else _NO_POS
                add_leaf(D.TEXT, content, ln, col, True,
                         tag_lc == "textarea", i, match_start)
            e_ln, e_col = lc(match_start) if lc else _NO_POS
            if not pop(tag_lc, t[match_start:gt + 1], e_ln, e_col, gt + 1):
                errors += 1
            i = gt + 1
        # else: plain OUTSIDE_MARKUP continues

    if trailing_markup_error:
        errors += 1

    result.errors = errors
    result.charset = charset
    result.xml_mode = xml
    result.unclosed_tags, result.implicitly_closed_tags = b.count_unclosed_flat()
    # positions=False: count EOLs with C-level str.count (== the number of
    # \r\n|\r|\n matches: every \n or \r counts once, \r\n pairs de-duped)
    result.lines = (len(pos.starts) if positions
                    else 1 + t.count("\n") + t.count("\r") - t.count("\r\n"))
    return result
