"""Syntax-highlighting HTML serializer.

Behavioral parity target: ``/root/reference/projects/fortissimo-html/src/stylizer.ts``.
Renders a parsed document as a span-per-token HTML page (tag / attrib /
value / entity / error / whitespace classes, dark & light themes, optional
whitespace visualization ·↵␍↧•). The reference's round-trip invariant holds:
re-parsing the stylized output and concatenating the span texts (entities
unescaped) reproduces the original document byte-for-byte.

The browser clipboard helper (copy-script.ts) is browser-only and excluded
(SURVEY.md §7.4); ``include_copy_script`` exists for API shape but injects a
placeholder comment.
"""

from __future__ import annotations

import re

from . import dom as D
from ._walk import run_trampoline
from .chars import (
    is_all_pcen_char, is_known_named_entity, is_valid_entity_codepoint,
    minimal_escape, replace_isolated_surrogates, separate_entities, _js_parse_int,
)
from .dom import (
    N_ATTR_EQUALS, N_ATTR_NAMES, N_ATTR_QUOTES, N_ATTR_SPACING, N_ATTR_VALUES,
    N_BAD_TERM, N_CHILDREN, N_CLOSURE, N_CONTENT, N_END_TAG, N_INNER_WS, N_KIND,
    N_PARENT, N_SYNTHETIC, N_TAG, N_TAG_LC, DocBuilder, cq, oq,
)

__all__ = ["StyleOptions", "stylize_html"]

DEFAULT_DARK_THEME = {
    "attrib": "#9CDCFE", "background": "#1E1E1E", "bg_whitespace": "#555555",
    "comment": "#699856", "entity": "#66BBBB", "error": "#CC4444",
    "foreground": "#D4D4D4", "invalid": "#FF00FF", "markup": "#808080",
    "tag": "#569CD6", "value": "#CE9178", "warning": "#F49810",
    "whitespace": "#605070",
}

DEFAULT_LIGHT_THEME = {
    "attrib": "#5544FF", "background": "#FFFFFF", "bg_whitespace": "#CCCCCC",
    "comment": "#80B0B0", "entity": "#0088DD", "error": "#D40000",
    "foreground": "#222222", "invalid": "#FF00FF", "markup": "#808080",
    "tag": "#000080", "value": "#008088", "warning": "#F49810",
    "whitespace": "#C0D0F0",
}

_COLORS = sorted(DEFAULT_LIGHT_THEME)

_NO_ENTITIES = frozenset(["script", "style"])

_WHITESPACE_GLYPHS = {
    " ": "·", "\t": "\t", "\n": "↵\n", "\f": "↧\f", "\r": "␍\r",
    "\r\n": "␍↵\r\n", "\xa0": "•",
}

_RE_WS_RUNS = re.compile(r"([ \n\r\f\xa0]+|\t)")
_RE_OTHER_WS = re.compile("([\u2000-\u200a]|\u202f|\u205f|\u3000)")
_RE_INVALID_RUNS = re.compile("([\x00-\x08\x0b\x0e-\x1f\x7f-\x9f�]+)")
_RE_WS_EACH = re.compile(r"\r\n|\n|\r|.", re.S)
_RE_DOCTYPE_PARTS = re.compile(r'("[^"]*?"[ \n\r\t\f]*|[^ ">]+[ \n\r\t\f]*|.+)')


class StyleOptions:
    def __init__(self, *, colors=None, dark=True, font='12px Menlo, "Courier New", monospace',
                 include_copy_script=False, outer_tag="html", show_whitespace=False,
                 style_prefix="fh-", tab_size=8, title="Stylized HTML"):
        self.dark = dark
        self.font = font
        self.include_copy_script = include_copy_script
        self.outer_tag = outer_tag
        self.show_whitespace = show_whitespace
        self.style_prefix = style_prefix
        self.tab_size = tab_size
        self.title = title
        base = dict(DEFAULT_DARK_THEME if dark else DEFAULT_LIGHT_THEME)
        if colors:
            base.update(colors)
        self.colors = base


def stylize_html(b: DocBuilder, node: int = 0,
                 options: StyleOptions | None = None) -> str:
    opts = options or StyleOptions()
    full_document = opts.outer_tag == "html"
    tag = "body" if full_document else opts.outer_tag

    head = ""
    if full_document:
        head = ("<!DOCTYPE html>\n<html lang=\"en\">\n<head>\n"
                "<meta charset=\"utf-8\"/>\n"
                f"  <title>{opts.title}</title>\n  <style>\n"
                f"{_generate_css(opts)}  </style>\n</head>\n")
    script = ("<script>/* clipboard helper omitted (browser-only) */</script>"
              if opts.include_copy_script else "")
    return (head
            + f'<{tag} class="{opts.style_prefix}html">'
            + _stylize(b, node, opts) + script + f"</{tag}>"
            + ("</html>" if full_document else ""))


def _stylize(b: DocBuilder, node: int, opts: StyleOptions) -> str:
    return run_trampoline(_stylize_gen(b, node, opts))


def _stylize_gen(b: DocBuilder, node: int, opts: StyleOptions):
    pf = opts.style_prefix
    ws = opts.show_whitespace
    nd = b.nodes[node]
    kind = nd[N_KIND]

    if kind == D.COMMENT:
        return _markup(b._leaf_str(node), pf, "comment", ws, False)
    if kind == D.CDATA:
        return (_markup("<![CDATA[", pf, "markup", False, False)
                + _markup(nd[N_CONTENT], pf, None, ws, False)
                + _markup("]]>", pf, "markup", False, False))
    if kind == D.DOCTYPE:
        def repl(m):
            match = m.group(0)
            if match.startswith('"'):
                return _markup(match, pf, "value", ws, False)
            if re.match(r"\w", match, re.A):
                return _markup(match, pf, "attrib", ws, False)
            return _markup(match, pf, "markup", ws, False)
        return _RE_DOCTYPE_PARTS.sub(repl, b._leaf_str(node))
    if kind in (D.DECLARATION, D.PROCESSING):
        return _markup(b._leaf_str(node), pf, "markup", ws, False)
    if kind == D.TEXT:
        parent = nd[N_PARENT]
        mark_entities = parent < 0 or b.nodes[parent][N_TAG_LC] not in _NO_ENTITIES
        return _markup(nd[N_CONTENT], pf, None, ws, mark_entities)
    if kind == D.UNMATCHED_CLOSE:
        return _markup(nd[N_CONTENT], pf, "error", ws, False)

    # element
    result: list[str] = []
    bad = nd[N_BAD_TERM]
    tag_class = "tag"

    if not nd[N_SYNTHETIC]:
        if not is_all_pcen_char(nd[N_TAG]):
            tag_class = "warning"
        result.append(_markup("<", pf, "error" if bad is not None else "markup", False, False))
        result.append(_markup(nd[N_TAG], pf, "error" if bad else tag_class, False, False))

        names = nd[N_ATTR_NAMES] or []
        for index, attrib in enumerate(names):
            result.append(_markup(nd[N_ATTR_SPACING][index], pf, None, ws, False))
            result.append(_markup(attrib, pf, "error" if attrib == "/" else "attrib", False, False))
            result.append(_markup(nd[N_ATTR_EQUALS][index] or "", pf, None, ws, False))
            quote = nd[N_ATTR_QUOTES][index]
            value = oq(quote) + nd[N_ATTR_VALUES][index] + cq(quote)
            if not quote and re.search(r'["\'=<>`]', value):
                result.append(_markup(value, pf, "warning", False, False))
            else:
                result.append(_markup(value, pf, "value", ws, True))

        result.append(_markup(nd[N_INNER_WS], pf, None, ws, False))

        if bad is not None:
            result.append(_markup(bad, pf, "error", False, False))
        elif nd[N_CLOSURE] == D.SELF_CLOSED:
            result.append(_markup("/>", pf, "markup", False, False))
        else:
            result.append(_markup(">", pf, "markup", False, False))

    for child in nd[N_CHILDREN] or []:
        result.append((yield _stylize_gen(b, child, opts)))

    if not nd[N_SYNTHETIC] and nd[N_CLOSURE] == D.EXPLICITLY_CLOSED:
        end_tag = nd[N_END_TAG]
        terminated = end_tag.endswith(">")
        result.append(_markup("</", pf, "markup" if terminated else "error", False, False))
        if terminated:
            result.append(_markup(end_tag[2:-1], pf, tag_class, ws, False))
            result.append(_markup(">", pf, "markup", False, False))
        else:
            result.append(_markup(end_tag[2:], pf, "error", False, False))

    return "".join(result)


def _generate_css(opts: StyleOptions) -> str:
    prefix = opts.style_prefix
    css = (f"  .{prefix}html {{\n"
           f"    background-color: {opts.colors['background']};\n"
           f"    color: {opts.colors['foreground']};\n"
           f"    font: {opts.font};\n"
           f"    -moz-tab-size: {opts.tab_size};\n"
           f"    tab-size: {opts.tab_size};\n"
           f"    white-space: pre;\n"
           f"  }}\n\n"
           f"  .{prefix}tab {{\n"
           f"    color: {opts.colors['whitespace']};\n"
           f"  }}\n\n"
           f"  .{prefix}tab::before {{\n"
           f'    content: "→";\n'
           f"    display: inline-block;\n"
           f"    overflow-x: visible;\n"
           f"    width: 0;\n"
           f"  }}\n\n")
    for color in _COLORS:
        prop = "background-color" if color.startswith("bg_") else "color"
        css += f"  .{prefix}{color} {{ {prop}: {opts.colors[color]}; }}\n"
    return css


def _markup(s: str, prefix: str, qlass, mark_whitespace: bool,
            mark_entities: bool, check_invalid: bool = True) -> str:
    if not s:
        return ""
    if not qlass and not mark_whitespace and not mark_entities and not check_invalid:
        return minimal_escape(s)
    if mark_whitespace:
        out = []
        for index, match in enumerate(_RE_WS_RUNS.split(s)):
            if index % 2 == 1:
                match = _RE_WS_EACH.sub(
                    lambda m: _WHITESPACE_GLYPHS[m.group(0)], match)
                out.append(_markup(match, prefix,
                                   "tab" if match == "\t" else "whitespace",
                                   False, False, False))
            elif match:
                sub = []
                for i2, m2 in enumerate(_RE_OTHER_WS.split(match)):
                    if i2 % 2 == 1:
                        sub.append(_markup(m2, prefix, "bg_whitespace",
                                           False, False, False))
                    else:
                        sub.append(_markup(m2, prefix, qlass, False,
                                           mark_entities, check_invalid))
                out.append("".join(sub))
        return "".join(out)
    if check_invalid:
        s = replace_isolated_surrogates(s)
        out = []
        for index, match in enumerate(_RE_INVALID_RUNS.split(s)):
            if index % 2 == 1:
                out.append(_markup("�" * len(match), prefix, "invalid",
                                   False, False, False))
            else:
                out.append(_markup(match, prefix, qlass, False, mark_entities, False))
        return "".join(out)
    if mark_entities:
        sb = []
        for index, part in enumerate(separate_entities(s)):
            if index % 2 == 0:
                sb.append(_markup(part, prefix, qlass, False, False, False))
            else:
                e_class = _entity_class(part, bool(qlass) and qlass.endswith("value"))
                sb.append(_markup(part, prefix, e_class, False, False, False))
        return "".join(sb)

    return f'<span class="{prefix}{qlass}">{minimal_escape(s)}</span>'


def _entity_class(entity: str, for_attrib_value: bool) -> str:
    best_case = "entity"
    entity = entity[1:]
    if not entity.endswith(";"):
        if for_attrib_value:
            return "value"
        best_case = "warning"
    else:
        entity = entity[:-1]

    low = entity.lower()
    if low.startswith("#x"):
        cp = _js_parse_int(entity[2:], 16)
        if cp is None or not is_valid_entity_codepoint(cp):
            return "error"
        return "invalid" if cp == 0xFFFD else best_case
    if low.startswith("#"):
        cp = _js_parse_int(entity[1:], 10)
        if cp is None or not is_valid_entity_codepoint(cp):
            return "error"
        return "invalid" if cp == 0xFFFD else best_case

    return "entity" if is_known_named_entity(entity) else "warning"
