"""COS (Carousel Object System) tokenizer and object parser.

Implements the PDF object syntax of ISO 32000-1 §7.3: booleans,
integers, reals, literal strings, hex strings, names, arrays,
dictionaries, streams, null, and indirect references.

This is the from-scratch replacement for the tokenizer the reference
gets for free inside vendored pdf.js (see SURVEY.md §2.3 T5; the
reference consumes it via ``getDocument`` at
``src/services/pdfParser/index.ts:23``).

Scanning is done by compiled ``re`` patterns over bytes: whitespace and
comment skips, regular-byte runs, and the common token shapes (plain
numbers, names without ``#xx``, literal strings without escapes or
nesting, hex strings). Only escapes are decoded one at a time.
:func:`tokenize_content` scans a content stream with one master
pattern and hands a token to the byte-level readers of :class:`Lexer`
only for the shapes a regex cannot express (escaped or nested literal
strings, ``#xx`` names, bad hex strings, dicts, arrays, malformed
numbers, ``BI`` inline images).
"""

from __future__ import annotations

import binascii
import re
from typing import Any, Tuple

WHITESPACE = b"\x00\t\n\x0c\r "

# regex building blocks (bytes patterns; \d is ASCII-only here). Runs
# are possessive and the skip is atomic: a pattern never backtracks into
# a shorter run, which would split one token in two.
_WS_CLASS = rb"\x00\t\n\x0c\r "  # WHITESPACE inside [...]
_DELIM_CLASS = rb"()<>\[\]{}/%"  # the delimiters inside [...]
_REGULAR = rb"[^" + _WS_CLASS + _DELIM_CLASS + rb"]"
_NOT_REGULAR = rb"(?!" + _REGULAR + rb")"
_NAME_BYTES = rb"[^" + _WS_CLASS + _DELIM_CLASS + rb"#]*+"  # regular bytes except '#'
_SKIP = rb"(?>(?:[" + _WS_CLASS + rb"]+|%[^\r\n]*)*)"  # whitespace and comments

_SKIP_RE = re.compile(_SKIP)
_REGULAR_RUN_RE = re.compile(_REGULAR + rb"*+")
_NAME_RE = re.compile(rb"/(" + _NAME_BYTES + rb")(?!#)")
_NAME_RUN_RE = re.compile(_NAME_BYTES)
_LITERAL_RE = re.compile(rb"\(([^()\\]*+)\)")
_LITERAL_RUN_RE = re.compile(rb"[^()\\]*+")
_HEX_DIGITS = rb"[0-9A-Fa-f" + _WS_CLASS + rb"]*+"  # whitespace between digits is legal
_HEX_RE = re.compile(rb"<(" + _HEX_DIGITS + rb")(>?)")
# 'gen R' after a non-negative integer: the gen run is converted like
# any number, so it is captured whole and checked by the caller
_REF_TAIL_RE = re.compile(_SKIP + rb"(\d" + _REGULAR + rb"*+)" + _SKIP + rb"R" + _NOT_REGULAR)
# inline-image end: 'EI' with whitespace before it and whitespace or
# end-of-data after it
_EI_RE = re.compile(rb"(?<=[" + _WS_CLASS + rb"])EI(?=[" + _WS_CLASS + rb"]|\Z)")

# one content-stream token after optional whitespace/comments; ``other``
# is any byte the fast shapes do not cover, handed to the Lexer
_TOKEN_RE = re.compile(
    _SKIP
    + rb"(?:(?P<int>[+-]?\d++)" + _NOT_REGULAR
    + rb"|(?P<real>[+-]?(?:\d++\.\d*+|\.\d++))" + _NOT_REGULAR
    + rb"|(?P<kw>[^+\-.0-9" + _WS_CLASS + _DELIM_CLASS + rb"]" + _REGULAR + rb"*+)"
    + rb"|/(?P<name>" + _NAME_BYTES + rb")(?!#)"
    + rb"|\((?P<str>[^()\\]*+)\)"
    + rb"|<(?P<hex>" + _HEX_DIGITS + rb")>"
    + rb"|(?P<eof>\Z)"
    + rb"|(?P<other>.))",
    re.S,
)
_KEYWORD_CONSTANTS = {b"true": True, b"false": False, b"null": None}
_NUMBER_START = b"+-.0123456789"


class Name(str):
    """A PDF name object (``/Foo``). Subclasses str for easy dict keys."""

    __slots__ = ()


class Ref:
    """An indirect object reference ``num gen R``."""

    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num = num
        self.gen = gen

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Ref) and (self.num, self.gen) == (other.num, other.gen)

    def __hash__(self) -> int:
        return hash((self.num, self.gen))

    def __repr__(self) -> str:
        return f"Ref({self.num},{self.gen})"


class StreamObj:
    """A stream object: its dictionary plus raw (still-encoded) bytes."""

    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw

    def __repr__(self) -> str:
        return f"StreamObj(dict={self.dict!r}, raw={len(self.raw)} bytes)"


class LexError(ValueError):
    pass


class Keyword(bytes):
    """A bare keyword token (content-stream operator or ``obj`` etc.)."""

    __slots__ = ()


def _number(raw: bytes) -> Any:
    """Convert one non-empty regular-byte run that starts like a number."""
    try:
        if b"." in raw or b"e" in raw or b"E" in raw:
            return float(raw)
        return int(raw)
    except ValueError:
        # PDF tolerates things like '--5' or '.'; salvage leading number
        try:
            return float(raw.replace(b"--", b"-"))
        except ValueError:
            raise LexError(f"bad number token {raw!r}") from None


class Lexer:
    """Scanner over a PDF buffer.

    ``pos`` is a plain integer cursor; all ``read_*`` methods advance it.
    """

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.n = len(data)

    # ------------------------------------------------------------------
    # low-level scanning
    # ------------------------------------------------------------------
    def skip_ws(self) -> None:
        """Skip whitespace and comments (``%`` to end of line)."""
        self.pos = _SKIP_RE.match(self.data, self.pos).end()

    def _read_regular_run(self) -> bytes:
        m = _REGULAR_RUN_RE.match(self.data, self.pos)
        self.pos = m.end()
        return m.group()

    # ------------------------------------------------------------------
    # object readers
    # ------------------------------------------------------------------
    def read_object(self) -> Any:
        """Read one COS object at the cursor (after skipping whitespace)."""
        self.skip_ws()
        if self.pos >= self.n:
            raise LexError("unexpected EOF while reading object")
        b = self.data[self.pos]

        if b == 0x2F:  # '/'
            return self.read_name()
        if b == 0x28:  # '('
            return self.read_literal_string()
        if b == 0x3C:  # '<'
            if self.pos + 1 < self.n and self.data[self.pos + 1] == 0x3C:
                return self.read_dict_or_stream()
            return self.read_hex_string()
        if b == 0x5B:  # '['
            return self.read_array()
        if b == 0x5D:  # ']'
            raise LexError("unexpected ']'")
        if b in _NUMBER_START:
            return self.read_number_or_ref()
        # keyword
        kw = self._read_regular_run()
        if kw in _KEYWORD_CONSTANTS:
            return _KEYWORD_CONSTANTS[kw]
        if not kw:
            raise LexError(f"cannot lex byte {b!r} at {self.pos}")
        return Keyword(kw)

    def read_name(self) -> Name:
        d = self.data
        m = _NAME_RE.match(d, self.pos)
        if m is not None:
            self.pos = m.end()
            return Name(m.group(1).decode("latin-1"))
        # the name holds '#xx' escapes
        self.pos += 1
        out = bytearray()
        n = self.n
        while True:
            m = _NAME_RUN_RE.match(d, self.pos)
            out += m.group()
            self.pos = m.end()
            if self.pos >= n or d[self.pos] != 0x23:
                return Name(out.decode("latin-1"))
            if self.pos + 2 < n:
                try:
                    out.append(int(d[self.pos + 1 : self.pos + 3], 16))
                    self.pos += 3
                    continue
                except ValueError:
                    pass
            out.append(0x23)
            self.pos += 1

    def read_literal_string(self) -> bytes:
        d = self.data
        m = _LITERAL_RE.match(d, self.pos)
        if m is not None:
            self.pos = m.end()
            return m.group(1)
        # escapes or balanced nested parentheses
        self.pos += 1
        out = bytearray()
        depth = 1
        n = self.n
        while True:
            m = _LITERAL_RUN_RE.match(d, self.pos)
            out += m.group()
            self.pos = m.end()
            if self.pos >= n:
                raise LexError("unterminated literal string")
            b = d[self.pos]
            self.pos += 1
            if b == 0x28:  # '('
                depth += 1
                out.append(b)
            elif b == 0x29:  # ')'
                depth -= 1
                if depth == 0:
                    return bytes(out)
                out.append(b)
            else:  # backslash escape
                if self.pos >= n:
                    raise LexError("unterminated literal string")
                e = d[self.pos]
                if e == 0x6E:
                    out.append(0x0A)
                elif e == 0x72:
                    out.append(0x0D)
                elif e == 0x74:
                    out.append(0x09)
                elif e == 0x62:
                    out.append(0x08)
                elif e == 0x66:
                    out.append(0x0C)
                elif e in b"()\\":
                    out.append(e)
                elif e in b"01234567":  # octal, up to 3 digits
                    oct_digits = bytearray([e])
                    for _ in range(2):
                        if self.pos + 1 < n and d[self.pos + 1] in b"01234567":
                            self.pos += 1
                            oct_digits.append(d[self.pos])
                        else:
                            break
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    if e == 0x0D and self.pos + 1 < n and d[self.pos + 1] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                self.pos += 1

    def read_hex_string(self) -> bytes:
        m = _HEX_RE.match(self.data, self.pos)
        self.pos = m.end()
        if not m.group(2):
            if self.pos >= self.n:
                raise LexError("unterminated hex string")
            raise LexError(f"bad hex digit {self.data[self.pos]!r}")
        return _unhex(m.group(1))

    def read_array(self) -> list:
        self.pos += 1
        out = []
        while True:
            self.skip_ws()
            if self.pos >= self.n:
                raise LexError("unterminated array")
            if self.data[self.pos] == 0x5D:
                self.pos += 1
                return out
            out.append(self.read_object())

    def read_dict_or_stream(self) -> Any:
        d = self.read_dict()
        save = self.pos
        self.skip_ws()
        kw_start = self.pos
        if self.data[kw_start : kw_start + 6] == b"stream":
            self.pos = kw_start + 6
            # EOL after 'stream': CRLF or LF (spec 7.3.8.1)
            if self.data[self.pos : self.pos + 2] == b"\r\n":
                self.pos += 2
            elif self.pos < self.n and self.data[self.pos] in b"\n\r":
                self.pos += 1
            length = d.get("Length")
            if isinstance(length, int):
                raw = self.data[self.pos : self.pos + length]
                # verify 'endstream' follows (allow ws)
                end = _SKIP_RE.match(self.data, self.pos + length).end()
                if self.data[end : end + 9] == b"endstream":
                    self.pos = end + 9
                    return StreamObj(d, raw)
            # Length missing, indirect, or wrong: scan for 'endstream'
            idx = self.data.find(b"endstream", self.pos)
            if idx < 0:
                raise LexError("stream without endstream")
            raw = self.data[self.pos : idx]
            # trim trailing EOL that belongs to the keyword, not the data
            if raw.endswith(b"\r\n"):
                raw = raw[:-2]
            elif raw.endswith(b"\n") or raw.endswith(b"\r"):
                raw = raw[:-1]
            self.pos = idx + 9
            return StreamObj(d, raw)
        self.pos = save
        return d

    def read_dict(self) -> dict:
        self.pos += 2
        out: dict = {}
        while True:
            self.skip_ws()
            if self.pos >= self.n:
                raise LexError("unterminated dict")
            if self.data[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            key = self.read_object()
            if not isinstance(key, Name):
                raise LexError(f"dict key is not a name: {key!r}")
            val = self.read_object()
            out[str(key)] = val

    def read_number_or_ref(self) -> Any:
        """Read a number; if it is ``int int R`` collapse to a Ref."""
        num = self.read_number()
        if isinstance(num, int) and num >= 0:
            m = _REF_TAIL_RE.match(self.data, self.pos)
            if m is not None:
                try:
                    gen = _number(m.group(1))
                except LexError:
                    return num
                if isinstance(gen, int):
                    self.pos = m.end()
                    return Ref(num, gen)
        return num

    def read_number(self) -> Any:
        raw = self._read_regular_run()
        if not raw:
            raise LexError(f"expected number at {self.pos}")
        return _number(raw)

    def expect_keyword(self, kw: bytes) -> None:
        self.skip_ws()
        got = self._read_regular_run()
        if got != kw:
            raise LexError(f"expected {kw!r}, got {got!r} at {self.pos}")


def _unhex(digits: bytes) -> bytes:
    digits = digits.translate(None, WHITESPACE)
    if len(digits) % 2 == 1:
        digits = digits + b"0"  # odd count: pad with '0'
    return binascii.unhexlify(digits)


def tokenize_content(data: bytes):
    """Yield tokens from a content stream: operands then Keyword operators.

    Content streams use plain COS syntax without indirect references
    (ISO 32000-1 §7.8.2). Inline images (BI..EI) are skipped wholesale;
    stray delimiter bytes are skipped.
    """
    lx = Lexer(data)
    pos = 0
    while True:
        for m in _TOKEN_RE.finditer(data, pos):
            kind = m.lastgroup
            if kind == "int":
                yield int(m.group(kind))
            elif kind == "kw":
                kw = m.group(kind)
                if kw in _KEYWORD_CONSTANTS:
                    yield _KEYWORD_CONSTANTS[kw]
                elif kw == b"BI":
                    # inline image: skip to 'EI' delimited by whitespace
                    ei = _EI_RE.search(data, m.end())
                    pos = lx.n if ei is None else ei.end()
                    break
                else:
                    yield Keyword(kw)
            elif kind == "real":
                yield float(m.group(kind))
            elif kind == "name":
                yield Name(m.group(kind).decode("latin-1"))
            elif kind == "str":
                yield m.group(kind)
            elif kind == "hex":
                yield _unhex(m.group(kind))
            elif kind == "eof":
                return
            else:
                # a shape the master pattern leaves to the byte-level readers
                lx.pos = start = m.start(kind)
                b = data[start]
                if b in _NUMBER_START:
                    yield lx.read_number()
                elif b == 0x2F:
                    yield lx.read_name()
                elif b == 0x28:
                    yield lx.read_literal_string()
                elif b == 0x3C:
                    if data[start : start + 2] == b"<<":
                        yield lx.read_dict()
                    else:
                        yield lx.read_hex_string()
                elif b == 0x5B:
                    yield lx.read_array()
                else:
                    lx.pos = start + 1  # skip stray delimiter byte
                pos = lx.pos
                break
        else:
            return


def parse_object_at(data: bytes, offset: int) -> Tuple[int, int, Any]:
    """Parse an indirect object ``num gen obj ... endobj`` at ``offset``.

    Returns ``(num, gen, value)``. The ``endobj`` keyword is tolerated
    missing (some real-world producers omit it).
    """
    lx = Lexer(data, offset)
    lx.skip_ws()
    num = lx.read_number()
    lx.skip_ws()
    gen = lx.read_number()
    lx.expect_keyword(b"obj")
    val = lx.read_object()
    return int(num), int(gen), val
