"""Content-stream text interpreter.

Interprets the text-positioning and text-showing operators of
ISO 32000-1 §9.4 — ``BT/ET, Tf, Td, TD, Tm, T*, TL, Tc, Tw, Tz, Tj,
TJ, ', "`` plus the graphics-state subset ``q, Q, cm`` — accumulating
the text matrix to produce positioned text runs, each carrying the
6-tuple ``transform`` the reference's white-text predicate tests
(``item.transform[0] === 0`` at
``src/services/pdfParser/metadata.ts:41``).

Parity contract (ours, frozen in golden fixtures — see SURVEY.md §7.4):

- one TextItem per show operator; a TJ array yields ONE item whose
  string is the concatenation of its string elements, with a single
  space inserted for any kerning adjustment <= ``TJ_SPACE_KERN``
  (thousandths of text-space units, mirroring pdf.js's
  wider-than-a-space heuristic);
- ``transform`` = glyph matrix ``[Tfs*Th, 0, 0, Tfs, 0, rise]``
  composed with the text matrix and the CTM at the start of the show
  op (the same composition pdf.js reports).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from .cmap import FontDecoder
from .lexer import Keyword, Name, tokenize_content

Matrix = Tuple[float, float, float, float, float, float]

IDENTITY: Matrix = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)

# kerning adjustment (in 1/1000 text units) at or below which a TJ
# number element is rendered as a word space
TJ_SPACE_KERN = -200.0

# decoder for a font name the page resources do not define
_FALLBACK_DECODER = FontDecoder()


def mat_mul(m1: Matrix, m2: Matrix) -> Matrix:
    """Compose matrices row-vector style: apply ``m1`` first, then ``m2``."""
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def translate(tx: float, ty: float) -> Matrix:
    return (1.0, 0.0, 0.0, 1.0, tx, ty)


class TextItem:
    """A positioned text run — the observable unit of extraction.

    Mirrors the shape the reference consumes
    (``src/services/pdfParser/types.ts:4-7``: ``{str, transform}``,
    enriched with ``fontName`` like ``src/services/pdfParser.ts:8-15``).
    """

    __slots__ = ("str", "transform", "font_name")

    def __init__(self, s: str, transform: Matrix, font_name: str):
        self.str = s
        self.transform = transform
        self.font_name = font_name

    def __repr__(self) -> str:
        return f"TextItem({self.str!r}, {self.transform}, {self.font_name!r})"


class TextState:
    __slots__ = ("tm", "tlm", "tl", "tc", "tw", "th", "tfs", "rise", "font")

    def __init__(self):
        self.tm: Matrix = IDENTITY
        self.tlm: Matrix = IDENTITY
        self.tl = 0.0
        self.tc = 0.0
        self.tw = 0.0
        self.th = 1.0  # horizontal scaling (Tz/100)
        self.tfs = 0.0
        self.rise = 0.0
        self.font: Optional[str] = None


def interpret_text(
    content: bytes,
    fonts: Dict[str, FontDecoder],
    default_char_width: float = 0.5,
) -> List[TextItem]:
    """Run the text ops of one (concatenated) content stream.

    ``fonts`` maps resource names (``F1``) to decoders. Unknown fonts
    decode via a StandardEncoding fallback rather than failing — the
    reference swallows page-level errors
    (``src/services/pdfParser/index.ts:65-68``).
    """
    items: List[TextItem] = []
    ts = TextState()
    ctm: Matrix = IDENTITY
    gs_stack: List[Matrix] = []
    operands: List = []
    in_text = False

    def current_decoder() -> FontDecoder:
        if ts.font is not None and ts.font in fonts:
            return fonts[ts.font]
        return _FALLBACK_DECODER

    def glyph_transform() -> Matrix:
        g: Matrix = (ts.tfs * ts.th, 0.0, 0.0, ts.tfs, 0.0, ts.rise)
        return mat_mul(mat_mul(g, ts.tm), ctm)

    def advance(text: str, kern_units: float = 0.0) -> None:
        # cursor advance in text space; widths approximated (extraction
        # parity is defined on str+transform, not on inter-item geometry)
        w = len(text) * default_char_width * ts.tfs
        spaces = text.count(" ")
        tx = (w - kern_units / 1000.0 * ts.tfs + len(text) * ts.tc + spaces * ts.tw) * ts.th
        ts.tm = mat_mul(translate(tx, 0.0), ts.tm)

    def show_string(raw: bytes) -> None:
        dec = current_decoder()
        s = dec.decode(raw)
        items.append(TextItem(s, glyph_transform(), ts.font or ""))
        advance(s)

    def show_tj_array(arr: list) -> None:
        dec = current_decoder()
        parts: List[str] = []
        kern_total = 0.0
        for el in arr:
            if isinstance(el, bytes) and not isinstance(el, Keyword):
                parts.append(dec.decode(el))
            elif isinstance(el, (int, float)):
                kern_total += float(el)
                if el <= TJ_SPACE_KERN:
                    parts.append(" ")
        s = "".join(parts)
        items.append(TextItem(s, glyph_transform(), ts.font or ""))
        advance(s, kern_units=kern_total)

    def next_line(tx: float, ty: float) -> None:
        ts.tlm = mat_mul(translate(tx, ty), ts.tlm)
        ts.tm = ts.tlm

    for tok in tokenize_content(content):
        if not isinstance(tok, Keyword):
            operands.append(tok)
            continue
        op = bytes(tok)
        try:
            if op == b"BT":
                in_text = True
                ts.tm = IDENTITY
                ts.tlm = IDENTITY
            elif op == b"ET":
                in_text = False
            elif op == b"Tf" and len(operands) >= 2:
                ts.font = str(operands[-2]) if isinstance(operands[-2], Name) else None
                ts.tfs = float(operands[-1])
            elif op == b"Td" and len(operands) >= 2:
                next_line(float(operands[-2]), float(operands[-1]))
            elif op == b"TD" and len(operands) >= 2:
                ts.tl = -float(operands[-1])
                next_line(float(operands[-2]), float(operands[-1]))
            elif op == b"Tm" and len(operands) >= 6:
                ts.tlm = tuple(float(x) for x in operands[-6:])  # type: ignore[assignment]
                ts.tm = ts.tlm
            elif op == b"T*":
                next_line(0.0, -ts.tl)
            elif op == b"TL" and operands:
                ts.tl = float(operands[-1])
            elif op == b"Tc" and operands:
                ts.tc = float(operands[-1])
            elif op == b"Tw" and operands:
                ts.tw = float(operands[-1])
            elif op == b"Tz" and operands:
                ts.th = float(operands[-1]) / 100.0
            elif op == b"Ts" and operands:
                ts.rise = float(operands[-1])
            elif op == b"Tj" and operands:
                if isinstance(operands[-1], bytes) and in_text:
                    show_string(operands[-1])
            elif op == b"TJ" and operands:
                if isinstance(operands[-1], list) and in_text:
                    show_tj_array(operands[-1])
            elif op == b"'" and operands:
                if isinstance(operands[-1], bytes) and in_text:
                    next_line(0.0, -ts.tl)
                    show_string(operands[-1])
            elif op == b'"' and len(operands) >= 3:
                if isinstance(operands[-1], bytes) and in_text:
                    ts.tw = float(operands[-3])
                    ts.tc = float(operands[-2])
                    next_line(0.0, -ts.tl)
                    show_string(operands[-1])
            elif op == b"q":
                gs_stack.append(ctm)
            elif op == b"Q":
                if gs_stack:
                    ctm = gs_stack.pop()
            elif op == b"cm" and len(operands) >= 6:
                m: Matrix = tuple(float(x) for x in operands[-6:])  # type: ignore[assignment]
                ctm = mat_mul(m, ctm)
            # all other operators (path/paint/color/XObject) are no-ops
            # for text extraction
        except (TypeError, ValueError):
            pass  # malformed operands: skip op, keep scanning (pdf.js-tolerant)
        operands = []
    return items
