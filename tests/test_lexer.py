"""Content-stream tokenizer: a known-answer stream and a round-trip property.

``tokenize_content`` scans with one master regex and hands a token to
the byte-level ``Lexer`` readers only for shapes a regex cannot express.
The known-answer stream carries every one of those shapes, plus hex
strings with whitespace and an odd digit count; the expected tokens are
written out by hand. The property test serialises generated
token sequences with its own writer, so its oracle (the generated
tokens) never routes through the code under test.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from pdf_parser_spark.pdfcore.lexer import Keyword, Name, tokenize_content


def _typed(tok):
    """Token → comparable value that keeps the token types apart
    (Keyword vs bytes, Name vs str, bool vs int vs float)."""
    if isinstance(tok, list):
        return ("list", [_typed(t) for t in tok])
    if isinstance(tok, dict):
        return ("dict", [(type(k).__name__, k, _typed(v)) for k, v in tok.items()])
    return (type(tok).__name__, tok)


def _assert_tokens(data: bytes, expected: list) -> None:
    got = list(tokenize_content(data))
    assert [_typed(t) for t in got] == [_typed(t) for t in expected]


# ----------------------------------------------------------------------
# known answer: every hand-off shape in one stream
# ----------------------------------------------------------------------
HANDOFF_STREAM = (
    b"% leading comment\n"
    b"BT /F1 12 Tf 1 0 0 1 72.5 -.5 Tm\n"
    rb"(esc\(aped\) \101\102\tend) Tj" b"\n"
    b"(outer (nested (deep)) end) Tj\n"
    b"/A#20B#2fC Tj\n"
    b"<48 65 6C\n6c 6F> Tj\n"
    b"<4142 4> Tj\n"
    b"%mid comment\r\n"
    b"<< /K [1 2] /S (s) >> BDC\n"
    b") ] } { stray\n"
    b"--5 Tz\n"
    b"[(a) -250 (b)] TJ\n"
    b"true false null\n"
    b"BI /W 4 /H 1 /CS /G ID xyEIz\x00\xff EI Q\n"
    b"ET"
)

HANDOFF_TOKENS = [
    Keyword(b"BT"), Name("F1"), 12, Keyword(b"Tf"),
    1, 0, 0, 1, 72.5, -0.5, Keyword(b"Tm"),
    b"esc(aped) AB\tend", Keyword(b"Tj"),          # escapes + octal
    b"outer (nested (deep)) end", Keyword(b"Tj"),  # balanced nesting
    Name("A B/C"), Keyword(b"Tj"),                 # '#xx' name escapes
    b"Hello", Keyword(b"Tj"),                      # hex with whitespace
    b"AB@", Keyword(b"Tj"),                        # odd digit count pads '0'
    {"K": [1, 2], "S": b"s"}, Keyword(b"BDC"),     # inline dict
    Keyword(b"stray"),                             # stray ) ] } { skipped
    -5.0, Keyword(b"Tz"),                          # '--5' salvage number
    [b"a", -250, b"b"], Keyword(b"TJ"),            # array
    True, False, None,
    Keyword(b"Q"), Keyword(b"ET"),                 # BI … EI skipped whole
]


def test_handoff_shapes_known_answer():
    _assert_tokens(HANDOFF_STREAM, HANDOFF_TOKENS)


def test_inline_image_skip_ignores_embedded_ei():
    """'EI' inside the image data counts only with whitespace on both
    sides; an image running to the end of the stream ends the scan."""
    _assert_tokens(b"q BI /W 1 ID \x01EI\x02 aEI EIb EI Q", [Keyword(b"q"), Keyword(b"Q")])
    _assert_tokens(b"q BI /W 1 ID \x01\x02", [Keyword(b"q")])


# ----------------------------------------------------------------------
# property: serialise generated tokens, tokenize, get them back
# ----------------------------------------------------------------------
_REGULAR = bytes(b for b in range(0x21, 0x100) if b not in b"()<>[]{}/%#")
_OPERATORS = ["Tj", "TJ", "Tf", "Td", "TD", "Tm", "T*", "BT", "ET", "q", "Q", "cm",
              "re", "f", "'", '"', "d0", "BDC", "EMC", "gs"]
_SEPARATORS = [b" ", b"\n", b"\r\n", b"\t", b"\x00", b"\x0c", b"  ", b" %note\n", b"%\r"]


def _w_int(v, plus):
    return (b"+" if plus and v >= 0 else b"") + str(v).encode()


def _w_name(raw: bytes, escape_all: bool) -> bytes:
    out = bytearray(b"/")
    for b in raw:
        if escape_all or b not in _REGULAR:
            out += b"#%02X" % b
        else:
            out.append(b)
    return bytes(out)


def _w_literal(raw: bytes, octal: bool) -> bytes:
    out = bytearray()
    for b in raw:
        if b in b"()\\":
            out += b"\\" + bytes([b])
        elif octal and (b < 0x20 or b >= 0x7F):
            out += b"\\%03o" % b
        else:
            out.append(b)
    return bytes(out)


@st.composite
def _real(draw):
    digits = draw(st.integers(-10**7, 10**7))
    scale = draw(st.integers(1, 5))
    text = f"{digits / 10**scale:.{scale}f}"
    if draw(st.booleans()) and text.startswith("0."):
        text = text[1:]  # '.5' form
    return float(text), text.encode()


@st.composite
def _literal(draw):
    outer = draw(st.binary(max_size=12))
    octal = draw(st.booleans())
    body = _w_literal(outer, octal)
    value = outer
    if draw(st.booleans()):  # one unescaped balanced nesting level
        inner = draw(st.binary(max_size=6))
        body = body + b"(" + _w_literal(inner, octal) + b")"
        value = value + b"(" + inner + b")"
    return value, b"(" + body + b")"


@st.composite
def _hex(draw):
    value = draw(st.binary(max_size=10))
    digits = value.hex()
    if draw(st.booleans()):
        digits = digits.upper()
    if value and value[-1] & 0x0F == 0 and draw(st.booleans()):
        digits = digits[:-1]  # odd digit count: the reader pads '0'
    spaced = "".join(c + (" " if draw(st.booleans()) else "") for c in digits)
    return value, b"<" + spaced.encode() + b">"


def _scalar():
    return st.one_of(
        st.tuples(st.integers(-10**9, 10**9), st.booleans()).map(lambda t: (t[0], _w_int(*t))),
        _real(),
        st.tuples(st.binary(max_size=8), st.booleans()).map(
            lambda t: (Name(t[0].decode("latin-1")), _w_name(*t))),
        _literal(),
        _hex(),
        st.sampled_from([(True, b"true"), (False, b"false"), (None, b"null")]),
    )


def _join(parts, seps):
    out = bytearray()
    for i, part in enumerate(parts):
        if i:
            out += seps[i % len(seps)]
        out += part
    return bytes(out)


@st.composite
def _operand(draw):
    kind = draw(st.sampled_from(["scalar", "scalar", "scalar", "array", "dict"]))
    seps = draw(st.lists(st.sampled_from(_SEPARATORS), min_size=1, max_size=4))
    if kind == "scalar":
        return draw(_scalar())
    if kind == "array":
        items = draw(st.lists(_scalar(), max_size=5))
        # no 'int int R' shape: arrays never hold the keyword R here
        return [v for v, _ in items], b"[" + _join([w for _, w in items], seps) + b"]"
    keys = draw(st.lists(st.text("ABCFKLSTW", min_size=1, max_size=4), max_size=4, unique=True))
    vals = [draw(_scalar()) for _ in keys]
    parts = []
    for k, (_, w) in zip(keys, vals):
        parts += [b"/" + k.encode(), w]
    return {k: v for k, (v, _) in zip(keys, vals)}, b"<<" + _join(parts, seps) + b">>"


@st.composite
def _content(draw):
    tokens, parts = [], []
    for _ in range(draw(st.integers(0, 12))):
        for value, written in draw(st.lists(_operand(), max_size=4)):
            tokens.append(value)
            parts.append(written)
        op = draw(st.sampled_from(_OPERATORS))
        tokens.append(Keyword(op.encode("latin-1")))
        parts.append(op.encode("latin-1"))
    seps = draw(st.lists(st.sampled_from(_SEPARATORS), min_size=1, max_size=6))
    lead = draw(st.sampled_from([b"", b"\n", b"% head\n"]))
    return tokens, lead + _join(parts, seps)


@settings(max_examples=300, deadline=None)
@given(case=_content())
def test_serialised_tokens_round_trip(case):
    tokens, data = case
    _assert_tokens(data, tokens)
