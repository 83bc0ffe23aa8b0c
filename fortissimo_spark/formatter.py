"""HTML pretty-printer over node arrays.

Behavioral parity target: ``/root/reference/projects/fortissimo-html/src/formatter.ts``
(the library's "Formatting" third). Mutates a parsed ``DocBuilder`` in place;
``serialize(0)`` then yields the formatted document. In the Spark engine this
runs document-parallel inside a ``mapInPandas`` kernel (see
``kernel.make_format_kernel``) — it shares the batch path with extraction.

Tri-state ``last_text`` protocol (formatter.ts:239-242): ``NULL_TEXT`` means
"restore the saved value", ``CLEAR_TEXT`` means "discard it"; both are falsy
in the reference's truthiness checks.
"""

from __future__ import annotations

import re

from . import dom as D
from ._walk import run_trampoline
from .chars import (
    EscapeOptions, ReencodeOptions, column_width, compact_newlines,
    compact_whitespace, escape_to_entities, reencode_entities, trim_left,
    trim_right,
)
from .dom import (
    N_ATTR_EQUALS, N_ATTR_NAMES, N_ATTR_QUOTES, N_ATTR_SPACING, N_ATTR_VALUES,
    N_CHILDREN, N_CLOSURE, N_CONTENT, N_END_TAG, N_INNER_WS, N_KIND, N_PARENT,
    N_POSS_ENT, N_SYNTHETIC, N_TAG, N_TAG_LC, DocBuilder,
)

__all__ = ["ValueQuoting", "ValueQuoteStyle", "FormatOptions", "format_html"]


class ValueQuoting:
    LEAVE_AS_IS = 0
    ALWAYS_QUOTE = 1
    UNQUOTE_INTEGERS = 2
    UNQUOTE_SIMPLE_VALUES = 3


class ValueQuoteStyle:
    PREFER_DOUBLE = 0
    PREFER_SINGLE = 1
    DOUBLE = 2
    SINGLE = 3


_SIMPLE_VALUE = re.compile(r"^[-\da-z._]+$", re.I | re.A)

_DEFAULT_SETS = {
    "children_not_indented": {"/", "html", "body", "thead", "tbody", "tfoot"},
    "dont_break_if_inline": {"h1", "h2", "h3", "h4", "h5", "h6", "p", "title"},
    "inline": {"a", "abbr", "acronym", "b", "basefont", "bdo", "big", "br",
               "cite", "code", "dfn", "em", "font", "i", "img", "input", "kbd",
               "label", "q", "s", "samp", "select", "small", "span", "strike",
               "strong", "sub", "sup", "text", "tt", "u", "var"},
    "keep_whitespace_inside": {"pre", "textarea"},
    "new_line_before": {"body", "div", "form", "h1", "h2", "h3", "p"},
    "remove_new_line_before": {"br"},
}

# sentinels for the tri-state lastText protocol
NULL_TEXT = ("null",)
CLEAR_TEXT = ("clear",)


def _apply_tag_list(original: set, mods) -> set:
    updated = set(original)
    if mods:
        for index, elem in enumerate(mods):
            elem = elem.lower()
            if index == 0 and elem == "-*":
                updated.clear()
            elif elem.startswith("-"):
                updated.discard(elem[1:])
            else:
                updated.add(elem)
    return updated


class FormatOptions:
    def __init__(self, *, align_attributes=True, continuation_indent=8,
                 children_not_indented=None, dont_break_if_inline=None,
                 end_document_with_newline=True, eol=None, indent=4,
                 inline=None, instantiate_synthetic_nodes=False,
                 keep_whitespace_inside=None, max_blank_lines=1,
                 new_line_before=None, normalize_attribute_spacing=True,
                 remove_new_line_before=None, remove_unclosed_tags=True,
                 space_around_attribute_equals=False, tab_size=8,
                 trim_document=True, use_tab_characters=True,
                 value_quoting=ValueQuoting.ALWAYS_QUOTE,
                 value_quote_style=ValueQuoteStyle.PREFER_DOUBLE,
                 entity_style=None, reencode=ReencodeOptions.DONT_CHANGE,
                 target=None, undo_unneeded_entities=False):
        self.align_attributes = align_attributes
        self.continuation_indent = continuation_indent
        self.children_not_indented = _apply_tag_list(
            _DEFAULT_SETS["children_not_indented"], children_not_indented)
        self.dont_break_if_inline = _apply_tag_list(
            _DEFAULT_SETS["dont_break_if_inline"], dont_break_if_inline)
        self.end_document_with_newline = end_document_with_newline
        self.eol = eol or "\n"
        self.indent = indent
        self.inline = _apply_tag_list(_DEFAULT_SETS["inline"], inline)
        self.instantiate_synthetic_nodes = instantiate_synthetic_nodes
        self.keep_whitespace_inside = _apply_tag_list(
            _DEFAULT_SETS["keep_whitespace_inside"], keep_whitespace_inside)
        self.max_blank_lines = max_blank_lines
        self.new_line_before = _apply_tag_list(
            _DEFAULT_SETS["new_line_before"], new_line_before)
        self.normalize_attribute_spacing = normalize_attribute_spacing
        self.remove_new_line_before = _apply_tag_list(
            _DEFAULT_SETS["remove_new_line_before"], remove_new_line_before)
        self.remove_unclosed_tags = remove_unclosed_tags
        self.space_around_attribute_equals = space_around_attribute_equals
        self.tab_size = tab_size
        self.trim_document = trim_document
        self.use_tab_characters = use_tab_characters
        self.value_quoting = value_quoting
        self.value_quote_style = value_quote_style
        from .chars import EntityStyle, TargetEncoding
        self.escape_options = EscapeOptions(
            entity_style=EntityStyle.SHORTEST if entity_style is None else entity_style,
            reencode=reencode,
            target=TargetEncoding.UNICODE if target is None else target,
            undo_unneeded_entities=undo_unneeded_entities)
        # state
        self.last_text = NULL_TEXT
        self.block_ctx: dict[int, bool] = {}


def _tabify(s: str, opts: FormatOptions) -> str:
    if opts.use_tab_characters and len(s) >= opts.tab_size:
        parts = re.split(r"([\r\n])", s)
        out = []
        for ss in parts:
            m = re.match(r"^( +)", ss)
            if m:
                n = len(m.group(1))
                ss = "\t" * (n // opts.tab_size) + " " * (n % opts.tab_size) + ss[n:]
            out.append(ss)
        return "".join(out)
    return s


def _is_comment_like(b: DocBuilder, node: int) -> bool:
    return b.nodes[node][N_KIND] in (D.COMMENT, D.DECLARATION, D.PROCESSING)


def format_html(b: DocBuilder, options: FormatOptions | None = None) -> None:
    opts = options or FormatOptions()
    nodes = b.nodes

    if opts.instantiate_synthetic_nodes:
        _instantiate_synthetic(b, 0)
    else:
        _remove_synthetic(b, 0)

    if opts.indent > 0:
        opts.last_text = NULL_TEXT
        _preprocess_whitespace(b, 0, opts)

    children = nodes[0][N_CHILDREN]
    if opts.indent > 0 and (opts.indent == 1 or opts.trim_document) and children:
        first = nodes[children[0]]
        if first[N_KIND] == D.TEXT:
            first[N_CONTENT] = trim_left(first[N_CONTENT])
        last = nodes[children[-1]]
        if last[N_KIND] == D.TEXT:
            last[N_CONTENT] = trim_right(last[N_CONTENT])

    if opts.indent > 1 and opts.end_document_with_newline:
        children = nodes[0][N_CHILDREN]
        if not children or nodes[children[-1]][N_KIND] != D.TEXT:
            txt = b.new_leaf(D.TEXT, opts.eol, poss_ent=False)
            nodes[txt][N_PARENT] = 0
            children.append(txt)
        else:
            last = nodes[children[-1]]
            last[N_CONTENT] = re.sub(r"\s*\Z", opts.eol, last[N_CONTENT], count=1)

    opts.last_text = NULL_TEXT
    _format_node(b, 0, opts, 0)


def _instantiate_synthetic(b: DocBuilder, node: int) -> None:
    run_trampoline(_instantiate_synthetic_gen(b, node))


def _instantiate_synthetic_gen(b: DocBuilder, node: int):
    nodes = b.nodes
    for elem in nodes[node][N_CHILDREN] or []:
        nd = nodes[elem]
        if nd[N_KIND] == D.ELEMENT:
            if nd[N_SYNTHETIC]:
                nd[N_SYNTHETIC] = False
                nd[N_CLOSURE] = D.EXPLICITLY_CLOSED
                nd[N_END_TAG] = "</" + nd[N_TAG] + ">"
            yield _instantiate_synthetic_gen(b, elem)


def _remove_synthetic(b: DocBuilder, node: int) -> None:
    run_trampoline(_remove_synthetic_gen(b, node))


def _remove_synthetic_gen(b: DocBuilder, node: int):
    nodes = b.nodes
    children = nodes[node][N_CHILDREN]
    if not children:
        return
    for i, elem in enumerate(children):
        if nodes[elem][N_KIND] == D.ELEMENT:
            child = elem
            while nodes[child][N_SYNTHETIC]:
                child = nodes[child][N_CHILDREN][0]
            children[i] = child
            nodes[child][N_PARENT] = node
            yield _remove_synthetic_gen(b, child)


def _only_contains_inline(b: DocBuilder, node: int, opts: FormatOptions) -> bool:
    nodes = b.nodes
    for child in nodes[node][N_CHILDREN] or []:
        if nodes[child][N_KIND] == D.ELEMENT and opts.block_ctx.get(child):
            return False
    return True


def _apply_indentation(b: DocBuilder, text_node: int, indent: int,
                       add_newline: bool, opts: FormatOptions) -> None:
    if opts.indent > 1:
        indentation = _tabify(" " * (indent * opts.indent), opts)
        nd = b.nodes[text_node]
        content = nd[N_CONTENT]
        m = re.match(r"(.*(?:\r\n|\n|\r))[ \t\f]*\Z", content, re.S)
        if m:
            nd[N_CONTENT] = m.group(1) + indentation
        else:
            nd[N_CONTENT] = content + (opts.eol if add_newline else "") + indentation


def _format_attributes(b: DocBuilder, node: int, indent: int,
                       opts: FormatOptions) -> None:
    nd = b.nodes[node]
    names = nd[N_ATTR_NAMES]
    if not names:
        return
    values = nd[N_ATTR_VALUES]
    equals = nd[N_ATTR_EQUALS]
    quotes = nd[N_ATTR_QUOTES]
    spacing = nd[N_ATTR_SPACING]
    VQ, VQS = ValueQuoting, ValueQuoteStyle

    for i in range(len(names)):
        equals[i] = equals[i].strip()
        value = values[i]

        if (value or quotes[i]) and opts.value_quoting != VQ.LEAVE_AS_IS:
            if ((opts.value_quoting == VQ.UNQUOTE_SIMPLE_VALUES and _SIMPLE_VALUE.match(value))
                    or (opts.value_quoting == VQ.UNQUOTE_INTEGERS
                        and re.fullmatch(r"\d+", value))):
                quotes[i] = ""
            elif (opts.value_quote_style == VQS.DOUBLE
                  or (opts.value_quote_style == VQS.PREFER_DOUBLE
                      and ('"' not in value or "'" in value))):
                quotes[i] = '"'
                values[i] = value.replace('"', "&quot;")
            elif (opts.value_quote_style == VQS.SINGLE
                  or (opts.value_quote_style == VQS.PREFER_SINGLE
                      and ("'" not in value or '"' in value))):
                quotes[i] = "'"
                values[i] = value.replace("'", "&apos;")

        if opts.escape_options.reencode != ReencodeOptions.DONT_CHANGE:
            values[i] = reencode_entities(values[i], opts.escape_options, True)

        sp = spacing[i]
        if opts.indent > 1 and opts.normalize_attribute_spacing:
            if re.search(r"[\r\n]", sp):
                extra = (column_width(nd[N_TAG]) + 2 if opts.align_attributes
                         else opts.continuation_indent)
                sp = re.sub(r"[^\r\n]", "", sp) + " " * (indent * opts.indent + extra)
            else:
                sp = " "
            spacing[i] = _tabify(sp, opts)
            if equals[i]:
                equals[i] = " = " if opts.space_around_attribute_equals else "="
        elif opts.indent == 1:
            spacing[i] = " "


def _format_node(b: DocBuilder, node: int, opts: FormatOptions, indent: int) -> None:
    run_trampoline(_format_node_gen(b, node, opts, indent))


def _format_node_gen(b: DocBuilder, node: int, opts: FormatOptions, indent: int):
    nodes = b.nodes
    children = nodes[node][N_CHILDREN]
    if not children:
        return

    tag_lc = nodes[node][N_TAG_LC]
    delta = 0 if tag_lc in opts.children_not_indented else 1
    keep_ws = tag_lc in opts.keep_whitespace_inside or tag_lc == "/"
    special_text = tag_lc in ("script", "style")

    pre_indented = -2
    i = 0
    while i < len(children):
        elem = children[i]
        nd = nodes[elem]
        kind = nd[N_KIND]

        if kind == D.ELEMENT:
            _format_attributes(b, elem, indent + delta, opts)

            if opts.indent > 0:
                if opts.indent == 1:
                    nd[N_END_TAG] = re.sub(r"\s+>\Z", ">",
                                           compact_whitespace(nd[N_END_TAG] or ""))
                if re.search(r"[\r\n][ \t\f]*>", nd[N_END_TAG] or ""):
                    m = re.match(r"(.*)[\r\n][ \t\f]*>", nd[N_END_TAG], re.S)
                    nd[N_END_TAG] = (m.group(1) + opts.eol
                                     + _tabify(" " * ((indent + delta) * opts.indent), opts)
                                     + ">")
                    pre_indented = i

                has_last = opts.last_text not in (NULL_TEXT, CLEAR_TEXT)
                if has_last and nd[N_TAG_LC] in opts.remove_new_line_before:
                    last = nodes[opts.last_text]
                    last[N_CONTENT] = re.sub(r"\s+\Z", "", last[N_CONTENT])
                elif ((nd[N_TAG_LC] in opts.new_line_before
                       or opts.block_ctx.get(elem)) and pre_indented != i - 1):
                    if not has_last:
                        txt = b.new_leaf(D.TEXT, "", poss_ent=False)
                        nodes[txt][N_PARENT] = node
                        children.insert(i, txt)
                        opts.last_text = txt
                        i += 1
                    _apply_indentation(b, opts.last_text, indent + delta, True, opts)

            if opts.indent == 1:
                nd[N_INNER_WS] = ""

            save_last_text = opts.last_text
            opts.last_text = NULL_TEXT
            yield _format_node_gen(b, elem, opts, indent + delta)

            if not nd[N_CHILDREN]:
                opts.last_text = (CLEAR_TEXT
                                  if nd[N_CLOSURE] == D.EXPLICITLY_CLOSED
                                  else NULL_TEXT)
            elif opts.last_text is NULL_TEXT:
                opts.last_text = save_last_text

        elif kind == D.TEXT:
            opts.last_text = elem
            if (opts.escape_options.reencode != ReencodeOptions.DONT_CHANGE
                    and not keep_ws and tag_lc not in ("script", "style")):
                if nd[N_POSS_ENT]:
                    nd[N_CONTENT] = reencode_entities(nd[N_CONTENT],
                                                      opts.escape_options)
                else:
                    nd[N_CONTENT] = escape_to_entities(nd[N_CONTENT],
                                                       opts.escape_options)
        else:
            has_last = opts.last_text not in (NULL_TEXT, CLEAR_TEXT)
            if (opts.indent > 0 and has_last
                    and (opts.indent == 1
                         or re.search(r"[\r\n]", nodes[opts.last_text][N_CONTENT]))):
                _apply_indentation(b, opts.last_text, indent + delta, False, opts)
            opts.last_text = NULL_TEXT

        i += 1

    closure = nodes[node][N_CLOSURE]
    if opts.indent > 1 and (special_text
                            or (not keep_ws and not _only_contains_inline(b, node, opts))):
        if opts.last_text in (NULL_TEXT, CLEAR_TEXT):
            txt = b.new_leaf(D.TEXT, "", poss_ent=False)
            nodes[txt][N_PARENT] = node
            children.append(txt)
            opts.last_text = txt

        last = nodes[opts.last_text]
        if closure == D.EXPLICITLY_CLOSED and tag_lc not in opts.inline:
            indentation = _tabify(" " * (indent * opts.indent), opts)
            content = last[N_CONTENT]
            m = re.match(r"(.*(?:\r\n|\n|\r))[ \t\f]*\Z", content, re.S)
            last[N_CONTENT] = ((m.group(1) if m else content + opts.eol)
                               + indentation)
        else:
            last[N_CONTENT] = re.sub(r"(?:\r\n|\n|\r)[ \t\f]*\Z", "",
                                     last[N_CONTENT])

    if closure == D.EXPLICITLY_CLOSED:
        opts.last_text = CLEAR_TEXT
    elif closure != D.IMPLICITLY_CLOSED:
        opts.last_text = NULL_TEXT


def _followed_by_block(b: DocBuilder, parent: int, child_index: int,
                       opts: FormatOptions) -> bool:
    nodes = b.nodes
    children = nodes[parent][N_CHILDREN]
    while True:
        child_index += 1
        if child_index >= len(children):
            return False
        sibling = children[child_index]
        kind = nodes[sibling][N_KIND]
        if kind == D.ELEMENT:
            return nodes[sibling][N_TAG_LC] not in opts.inline
        if kind in (D.TEXT, D.CDATA):
            return False


def _preprocess_whitespace(b: DocBuilder, node: int, opts: FormatOptions,
                           block_start: bool = False, block_end: bool = False) -> None:
    run_trampoline(_preprocess_whitespace_gen(b, node, opts, block_start, block_end))


def _preprocess_whitespace_gen(b: DocBuilder, node: int, opts: FormatOptions,
                               block_start: bool = False, block_end: bool = False):
    nodes = b.nodes
    tag_lc = nodes[node][N_TAG_LC]
    if tag_lc in opts.keep_whitespace_inside or tag_lc in ("script", "style"):
        opts.block_ctx[node] = True
        opts.last_text = NULL_TEXT
        return

    children = nodes[node][N_CHILDREN] or []
    is_block = tag_lc not in opts.inline
    opts.block_ctx[node] = is_block

    for i, child in enumerate(children):
        if is_block:
            if i == 0:
                block_start = True
            if i == len(children) - 1:
                block_end = True

        kind = nodes[child][N_KIND]
        if kind == D.ELEMENT:
            yield _preprocess_whitespace_gen(b, child, opts, block_start, block_end)
            block_start = bool(opts.block_ctx.get(child))
        elif kind == D.TEXT:
            after_comment = i > 0 and _is_comment_like(b, children[i - 1])
            before_comment = i + 1 < len(children) and _is_comment_like(b, children[i + 1])
            content = nodes[child][N_CONTENT]

            if after_comment or before_comment:
                content = re.sub(r"[\n\r]+", opts.eol,
                                 re.sub(r"[ \f\t]+", " ", content))
                content = re.sub(r"^ (?=[\n\r])", "", content)
            else:
                keep_newlines = opts.max_blank_lines >= 0
                content = re.sub(r"(^|[\r\n])[ \f\t]+(?=[\r\n]|$)", r"\1",
                                 compact_whitespace(content, keep_newlines))
                if keep_newlines and opts.max_blank_lines >= -1:
                    content = compact_newlines(content, opts.max_blank_lines + 1)

                has_last = opts.last_text not in (NULL_TEXT, CLEAR_TEXT)
                if block_start or (content.startswith(" ") and has_last
                                   and nodes[opts.last_text][N_CONTENT].endswith(" ")):
                    content = trim_left(content, keep_newlines)
                    opts.block_ctx[child] = True
                    block_start = False

                if block_end or _followed_by_block(b, node, i, opts):
                    content = trim_right(content, keep_newlines)

            has_last = opts.last_text not in (NULL_TEXT, CLEAR_TEXT)
            if content.startswith(" ") and has_last:
                last = nodes[opts.last_text]
                last[N_CONTENT] = trim_right(last[N_CONTENT])

            nodes[child][N_CONTENT] = content
            opts.last_text = child
        elif kind == D.CDATA:
            block_start = False
            opts.last_text = NULL_TEXT

    if is_block:
        opts.last_text = NULL_TEXT
