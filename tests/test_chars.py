"""Entity codec + char class parity vectors (reference: src/characters.spec.ts)."""

import random

from fortissimo_spark import chars as C
from fortissimo_spark.chars import (
    EntityStyle as ES, EscapeOptions, ReencodeOptions as RO, TargetEncoding as TE,
    column_width, escape_to_entities, is_all_pcen_char, is_attribute_name_char,
    is_invalid_character, is_markup_start, is_other_whitespace, is_pcen_char,
    replace_isolated_surrogates, resolve_entity, separate_entities,
    unescape_entities,
)

TEST_STR = "foo & bar < </ <a > &0" + "".join(chr(i) for i in range(0x0A, 0x110))


def test_entity_table_size():
    assert len(C.ENTITIES) == 2125
    assert C.ENTITIES["amp"] == "&"
    assert C.ENTITIES["acE"] == "∾̳"


def test_escape_roundtrips():
    enc = escape_to_entities(TEST_STR)
    assert "bar &lt;" in enc
    assert unescape_entities(enc) == TEST_STR

    enc = escape_to_entities(TEST_STR, EscapeOptions(reencode=RO.LOOSE_MINIMAL))
    assert "<=>" in enc and "bar <" in enc
    assert unescape_entities(enc) == TEST_STR

    enc = escape_to_entities(TEST_STR, EscapeOptions(reencode=RO.MINIMAL))
    assert "&lt;=&gt;" in enc
    assert unescape_entities(enc) == TEST_STR

    enc = escape_to_entities(TEST_STR, EscapeOptions(
        reencode=RO.NAMED_ENTITIES, entity_style=ES.SHORTEST, target=TE.EIGHT_BIT))
    assert "&#271;" in enc
    assert unescape_entities(enc) == TEST_STR

    enc = escape_to_entities(TEST_STR, EscapeOptions(
        reencode=RO.NAMED_ENTITIES, entity_style=ES.NAMED_OR_DECIMAL))
    assert "&copy;" in enc
    assert unescape_entities(enc) == TEST_STR


def test_escape_7bit_8bit_targets():
    enc = escape_to_entities(TEST_STR, EscapeOptions(target=TE.SEVEN_BIT))
    assert "&nbsp;" in enc
    assert unescape_entities(enc) == TEST_STR

    enc = escape_to_entities(TEST_STR, EscapeOptions(target=TE.SEVEN_BIT, entity_style=ES.DECIMAL))
    assert "&#160;" in enc
    assert unescape_entities(enc) == TEST_STR

    enc = escape_to_entities(TEST_STR, EscapeOptions(target=TE.EIGHT_BIT, entity_style=ES.DECIMAL))
    assert "\xa0" in enc and "&#271;" in enc
    assert unescape_entities(enc) == TEST_STR

    enc = escape_to_entities(TEST_STR, EscapeOptions(target=TE.EIGHT_BIT, entity_style=ES.HEX))
    assert "&#x10F;" in enc
    assert unescape_entities(enc) == TEST_STR

    enc = escape_to_entities(TEST_STR, EscapeOptions(target=TE.EIGHT_BIT, entity_style=ES.NAMED_OR_DECIMAL))
    assert "&dcaron;" in enc
    assert unescape_entities(enc) == TEST_STR


def test_escape_non_bmp_and_pairs():
    enc = escape_to_entities("\U0001d522, ⋛︀", EscapeOptions(
        reencode=RO.NAMED_ENTITIES, entity_style=ES.NAMED_OR_DECIMAL))
    assert "&efr;" in enc and "&gesl;" in enc

    enc = escape_to_entities("\U0001d522, ⋛︀", EscapeOptions(
        target=TE.EIGHT_BIT, entity_style=ES.NAMED_OR_DECIMAL))
    assert "&efr;" in enc and "&gesl;" in enc


def test_other_whitespace():
    assert is_other_whitespace("\xa0")
    assert is_other_whitespace(" ")
    assert not is_other_whitespace("q")
    assert not is_other_whitespace(" ")


def test_markup_start():
    for ch in "abc:/!?":
        assert is_markup_start(ch)
    for ch in "7#\xe9,":
        assert not is_markup_start(ch)


def test_invalid_characters():
    assert is_invalid_character("\x00")
    assert is_invalid_character("\x7f")
    assert not is_invalid_character("q")


def test_pcen_chars():
    for ch in "abc_.-Дウ月":
        assert is_pcen_char(ch)
    assert is_all_pcen_char("abc_.-Дウ月\U0001f30e")
    for ch in "<&;; \n\x1b󰀀":
        assert not is_pcen_char(ch)
    assert not is_all_pcen_char("abc_.-Дウ月\U0001f30e<")
    for ch in "abc<!;@":
        assert is_pcen_char(ch, True)
    assert is_all_pcen_char("abc<!;@", True)
    assert not is_all_pcen_char("abc<>!;@", True)


def test_attribute_name_chars():
    for ch in "abc_.-Дウ月":
        assert is_attribute_name_char(ch)
    for ch in '>/= `"':
        assert not is_attribute_name_char(ch)
    for ch in 'abc_.-Дウ月`"':
        assert is_attribute_name_char(ch, True)


def test_isolated_surrogates():
    assert replace_isolated_surrogates("\ud900,\udeee!") == "\x02,\x03!"


def test_column_width():
    sample = "ab̄c\U0001f30e_\ud800_\udc00_"
    assert column_width(sample) == 9
    assert column_width("xxx") == 3
    assert column_width(None) == 0


def test_entity_zoo():
    # behaviors exercised by test/sample.html lines 72-73
    assert unescape_entities("&ampruns together") == "&runs together"
    assert unescape_entities("&lt &gt.") == "< >."
    assert unescape_entities("&#77,&#88;") == "M,X"
    assert unescape_entities("&aacute-&eacute;") == "\xe1-\xe9"
    assert unescape_entities("&#xD907;") == "�"  # surrogate
    assert unescape_entities("&#9999999;") == "�"
    assert unescape_entities("&#9999999 ") == "� "
    assert unescape_entities("&foo;") == "�"
    assert unescape_entities("&0;") == "�"
    assert unescape_entities("&0") == "&0"  # ambiguous bare -> verbatim
    assert unescape_entities("&#36a;") == "$a;"
    assert unescape_entities("_&#XBD;&#xBE;&#x3ah;") == "_\xbd\xbe:h;"
    assert unescape_entities("&copy;") == "\xa9"
    assert unescape_entities("& ") == "& "


def test_attribute_mode_keeps_unterminated():
    assert unescape_entities("&amp no semi", True) == "&amp no semi"
    assert unescape_entities("&amp; semi", True) == "& semi"


def test_separate_entities_convention():
    parts = separate_entities("a&amp;b&lt c")
    assert parts[0::2] == ["a", "b", " c"]
    assert parts[1::2] == ["&amp;", "&lt"]
    assert separate_entities("") == [""]


def test_resolve_entity():
    assert resolve_entity("&amp;") == "&"
    assert resolve_entity("&amp") == "&"
    assert resolve_entity("&zzqx") == "&zzqx"  # ambiguous unknown -> original
    assert resolve_entity("&zzqx;") == "�"
    assert resolve_entity("&#x110000;") == "�"
    assert resolve_entity("&#x10FFFF;") == "\U0010ffff"


def _unescape_by_parts(s, for_attribute_value=False):
    # the split-and-join formulation: resolve every odd part of
    # separate_entities, leaving an attribute value's unterminated ones
    if not s or "&" not in s:
        return s
    out = []
    for index, value in enumerate(separate_entities(s)):
        if index % 2 == 0 or (for_attribute_value
                              and not value.endswith(";")):
            out.append(value)
        else:
            out.append(resolve_entity(value))
    return "".join(out)


def test_unescape_entities_fuzz():
    rng = random.Random(20_261_019)
    pieces = ["&", "&amp", "&amp;", "&AMP;", "&lt", "&#", "&#x", "&#X",
              "&#32;", "&#x20", "&#xd800;", "&#1114112;", "&#0;", "&nbsp",
              "&eacute;", "&zzqx", "&zzqx;", "&0", ";", "#", "x", "41",
              "fg", " ", "\n", "a", "\xe9", "\U0001f600", "&\U0001f600",
              "&notin;", "&notit;", "&copy", "&#128512;"]
    for _ in range(20_000):
        s = "".join(rng.choice(pieces) for _ in range(rng.randint(0, 8)))
        for attr in (False, True):
            assert unescape_entities(s, attr) == _unescape_by_parts(s, attr), \
                (s, attr)
