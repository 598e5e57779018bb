"""Document façade: PDF bytes → pages → positioned TextItems → text.

Drives the full from-scratch chain (xref walk → object load →
FlateDecode → content-stream interpretation → CMap decode) that the
reference performs via pdf.js ``getDocument``/``getPage``/
``getTextContent`` (``src/services/pdfParser/index.ts:23-41``).

Extracted-text contract (frozen, goldens generated against it):
- page text  = '\\n'.join(item.str for the page's items, stream order);
- doc text   = '\\f'.join(page texts);
- white-text metadata string = concat of items with
  ``item.str.strip() != '' and transform[0] == 0`` joined by ``''``
  (byte-for-byte the predicate of ``metadata.ts:37-51``).
"""

from __future__ import annotations

from typing import Dict, List, Optional

from .cmap import FontDecoder, ToUnicodeCMap, parse_differences
from .content import TextItem, interpret_text
from .filters import FilterError, decode_stream
from .lexer import LexError, Name, Ref, StreamObj
from .xref import ObjectStore, XrefError


class PdfError(ValueError):
    """Machine-readable parse failure. ``code`` feeds the audit table."""

    def __init__(self, code: str, message: str):
        super().__init__(message)
        self.code = code


class PdfPage:
    __slots__ = ("index", "items")

    def __init__(self, index: int, items: List[TextItem]):
        self.index = index
        self.items = items

    def text(self) -> str:
        return "\n".join(it.str for it in self.items)

    def whitetext_metadata(self) -> str:
        """The reference's white-text concat (``metadata.ts:37-51``)."""
        return "".join(
            it.str
            for it in self.items
            if it.str.strip() and it.transform[0] == 0
        )


class PdfDocument:
    """A parsed PDF. ``decode_fallbacks`` counts tolerated degradations
    (xref reconstruction, undecodable page streams) for the audit table.
    """

    def __init__(self, pages: List[PdfPage], decode_fallbacks: int,
                 decrypted: bool = False):
        self.pages = pages
        self.decode_fallbacks = decode_fallbacks
        self.decrypted = decrypted  # standard-security-handler decrypt used

    @property
    def num_pages(self) -> int:
        return len(self.pages)

    def text(self) -> str:
        return "\f".join(p.text() for p in self.pages)


def _collect_page_dicts(store: ObjectStore) -> List[dict]:
    """Walk the /Pages tree depth-first, carrying inherited /Resources."""
    catalog = store.catalog()
    root = store.resolve(catalog.get("Pages"))
    if not isinstance(root, dict):
        raise PdfError("no_pages", "catalog has no /Pages tree")
    pages: List[dict] = []
    stack = [(root, None)]
    seen = 0
    while stack:
        node, inherited_res = stack.pop()
        res = node.get("Resources", inherited_res)
        node_type = str(node.get("Type", ""))
        if node_type == "Page" or ("Kids" not in node and "Contents" in node):
            page = dict(node)
            if "Resources" not in page and res is not None:
                page["Resources"] = res
            pages.append(page)
        else:
            kids = store.resolve(node.get("Kids")) or []
            for kid in reversed(kids):
                kd = store.resolve(kid)
                if isinstance(kd, dict):
                    stack.append((kd, res))
        seen += 1
        if seen > 100_000:
            raise PdfError("pages_cycle", "pages tree too large or cyclic")
    if not pages:
        raise PdfError("no_pages", "empty /Pages tree")
    return pages


def _build_fonts(store: ObjectStore, resources, decoders: dict) -> Dict[str, FontDecoder]:
    """Resource name → decoder for one page.

    ``decoders`` is the document's cache, ``id(font dict) → (font dict,
    decoder)``: a font dictionary shared by many pages (resolved once by
    the store) builds its decoder once. Holding the dict keeps its id
    from being reused for the life of the cache.
    """
    fonts: Dict[str, FontDecoder] = {}
    res = store.resolve(resources)
    if not isinstance(res, dict):
        return fonts
    font_dict = store.resolve(res.get("Font"))
    if not isinstance(font_dict, dict):
        return fonts
    for fname, fref in font_dict.items():
        fd = store.resolve(fref)
        if not isinstance(fd, dict):
            continue
        hit = decoders.get(id(fd))
        if hit is None:
            hit = decoders[id(fd)] = (fd, _build_decoder(store, fd))
        fonts[str(fname)] = hit[1]
    return fonts


def _build_decoder(store: ObjectStore, fd: dict) -> FontDecoder:
    tounicode: Optional[ToUnicodeCMap] = None
    tu = store.resolve(fd.get("ToUnicode"))
    if isinstance(tu, StreamObj):
        try:
            tounicode = ToUnicodeCMap.parse(decode_stream(tu, store.resolve))
        except (FilterError, LexError):
            tounicode = None
    base_enc: Optional[str] = None
    differences = None
    enc = store.resolve(fd.get("Encoding"))
    if isinstance(enc, (Name, str)):
        base_enc = str(enc)
    elif isinstance(enc, dict):
        be = enc.get("BaseEncoding")
        if be is not None:
            base_enc = str(be)
        diff = store.resolve(enc.get("Differences"))
        if isinstance(diff, list):
            differences = parse_differences(diff)
    embedded = None
    if tounicode is None and enc is None:
        # no /ToUnicode and no /Encoding: the font program itself is
        # the only source of glyph→unicode (symbolic TrueType cmap +
        # post names, Type1 built-in /Encoding) — the pdf.js-parity
        # path for embedded fonts. Parse failures degrade to the
        # standard table, never to a document error.
        embedded = _embedded_font_map(store, fd)
    return FontDecoder(tounicode, base_enc, differences, embedded)


def _embedded_font_map(store: ObjectStore, font_dict: dict):
    from .fontprog import (
        fontfile3_tounicode,
        truetype_tounicode,
        type1_builtin_encoding,
    )

    desc = store.resolve(font_dict.get("FontDescriptor"))
    if not isinstance(desc, dict):
        return None
    for key, parser in (
        ("FontFile2", truetype_tounicode),   # TrueType sfnt
        ("FontFile3", fontfile3_tounicode),  # CFF/Type1C or OpenType
        ("FontFile", type1_builtin_encoding),  # Type1 cleartext header
    ):
        ff = store.resolve(desc.get(key))
        if isinstance(ff, StreamObj):
            try:
                prog = decode_stream(ff, store.resolve)
            except (FilterError, LexError, PdfError):
                continue
            got = parser(prog)
            if got:
                return got
    return None


def _page_content_bytes(store: ObjectStore, page: dict) -> bytes:
    contents = store.resolve(page.get("Contents"))
    streams: List[StreamObj] = []
    if isinstance(contents, StreamObj):
        streams = [contents]
    elif isinstance(contents, list):
        for c in contents:
            cs = store.resolve(c)
            if isinstance(cs, StreamObj):
                streams.append(cs)
    parts = []
    for s in streams:
        parts.append(decode_stream(s, store.resolve))
    return b"\n".join(parts)


def parse_pdf(data: bytes, decrypt: bool = False, password: bytes = b"") -> PdfDocument:
    """Parse PDF bytes into pages of positioned text items.

    Raises :class:`PdfError` with a stable ``code`` on unrecoverable
    failures; page-level decode errors are tolerated and counted
    (mirroring the page-loop ``continue`` of
    ``src/services/pdfParser/index.ts:65-68``).

    ``decrypt=True`` additionally opens documents protected by the
    ISO 32000 §7.6 STANDARD security handler: RC4 (V1/V2 R2/R3),
    AES-128 (V4 R4 /CFM AESV2) and AES-256 (V5 R5/R6 AESV3).
    ``password`` (round-5; default empty — the common owner-restricted
    crawl case) is tried as the USER password, then as the OWNER
    password (Algorithm 7 / Algorithm 12), matching pdf.js's
    ``getDocument({data, password})``.  A wrong password stays a typed
    ``encrypted`` row.  The default keeps the round-2 behavior: every
    /Encrypt document is a typed ``encrypted`` error row without the
    flag.
    """
    if not data:
        raise PdfError("empty", "empty or invalid PDF file")
    # header guard: %PDF within the first 1KB (spec allows preamble junk)
    if b"%PDF-" not in data[:1024]:
        raise PdfError("not_pdf", "missing %PDF header")

    try:
        store = ObjectStore(data)
    except (XrefError, LexError, ValueError) as e:
        raise PdfError("bad_xref", f"cannot build xref: {e}") from None

    # encrypted documents: /Encrypt in the trailer (ISO 32000-1 §7.6).
    # Without the flag (or outside the RC4/empty-password envelope) a
    # typed row beats a misleading 'internal' — real Common-Crawl-style
    # corpora contain encrypted PDFs.
    decrypted = False
    encrypt_ref = store.trailer.get("Encrypt")
    if encrypt_ref is not None:
        if not decrypt:
            raise PdfError(
                "encrypted", "document has an /Encrypt dictionary (decryption unsupported)"
            )
        from .crypt import CryptError, build_handler
        from .lexer import Ref as _Ref

        try:
            enc = store.resolve(encrypt_ref)
            if not isinstance(enc, dict):
                raise CryptError("encrypt_dict", "/Encrypt is not a dictionary")
            handler = build_handler(enc, store.trailer.get("ID"), password=password)
        except CryptError as e:
            raise PdfError(
                "encrypted", f"unsupported encryption ({e.code}): {e}"
            ) from None
        except (XrefError, LexError, ValueError) as e:
            raise PdfError("encrypted", f"broken /Encrypt dictionary: {e}") from None
        skip = (encrypt_ref.num,) if isinstance(encrypt_ref, _Ref) else ()
        store.attach_crypt(handler, skip_nums=skip)
        decrypted = True

    fallbacks = 1 if store.used_fallback else 0

    try:
        page_dicts = _collect_page_dicts(store)
    except PdfError:
        raise
    except (XrefError, LexError, ValueError) as e:
        raise PdfError("bad_pages", f"cannot walk pages tree: {e}") from None

    pages: List[PdfPage] = []
    decoders: dict = {}  # font decoders of this document, see _build_fonts
    for i, pd in enumerate(page_dicts):
        try:
            fonts = _build_fonts(store, pd.get("Resources"), decoders)
            content = _page_content_bytes(store, pd)
            items = interpret_text(content, fonts)
            pages.append(PdfPage(i, items))
        except (FilterError, LexError, XrefError, ValueError):
            fallbacks += 1
            pages.append(PdfPage(i, []))  # degraded page, kept for indexing
    if not pages:
        raise PdfError("no_pages", "the PDF file appears to be empty")
    return PdfDocument(pages, fallbacks, decrypted=decrypted)
