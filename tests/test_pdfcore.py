"""pdfcore round-trip tests: generator goldens vs from-scratch parser.

The generator (synth/pdfgen.py) computes expected text independently;
byte-identical equality here is the north-rule correctness gate
(BASELINE.json: "byte-identical extracted text per url").
"""

import zlib

import pytest

from pdf_parser_spark.pdfcore import parse_pdf, PdfError
from pdf_parser_spark.pdfcore.filters import (
    apply_predictor,
    ascii85_decode,
    asciihex_decode,
    flate_decode,
    lzw_decode,
    runlength_decode,
)
from pdf_parser_spark.pdfcore.lexer import Lexer, Name, Ref, StreamObj
from pdf_parser_spark.synth.pdfgen import PdfBuilder, make_quote_pdf
from pdf_parser_spark.synth.pages import make_oversized_pdf


# ----------------------------------------------------------------------
# lexer
# ----------------------------------------------------------------------
def test_lexer_primitives():
    lx = Lexer(b"<< /Name /Foo#20Bar /I 42 /R 3.14 /Neg -7 /S (a(b)c\\n) "
               b"/H <48656c6C6f> /A [1 2 R 3] /B true /N null >>")
    d = lx.read_object()
    assert d["Name"] == "Foo Bar"
    assert d["I"] == 42 and abs(d["R"] - 3.14) < 1e-9 and d["Neg"] == -7
    assert d["S"] == b"a(b)c\n"
    assert d["H"] == b"Hello"
    assert d["A"] == [Ref(1, 2), 3]
    assert d["B"] is True and d["N"] is None


def test_lexer_octal_and_nested_parens():
    lx = Lexer(rb"(\101\102(nested)\053)")
    assert lx.read_object() == b"AB(nested)+"


def test_lexer_stream_with_direct_length():
    data = b"<< /Length 5 >>\nstream\nHELLO\nendstream"
    obj = Lexer(data).read_object()
    assert isinstance(obj, StreamObj) and obj.raw == b"HELLO"


# ----------------------------------------------------------------------
# filters
# ----------------------------------------------------------------------
def test_flate_roundtrip():
    raw = b"the quick brown fox" * 50
    assert flate_decode(zlib.compress(raw)) == raw


def test_png_predictor_up():
    # columns=4, predictor Up: rows of filter-type 2
    row1 = bytes([2, 1, 1, 1, 1])
    row2 = bytes([2, 1, 1, 1, 1])
    out = apply_predictor(row1 + row2, {"Predictor": 12, "Columns": 4})
    assert out == bytes([1, 1, 1, 1, 2, 2, 2, 2])


def test_asciihex():
    assert asciihex_decode(b"48 65 6c 6c 6f>") == b"Hello"
    assert asciihex_decode(b"486>") == b"H`"  # odd digit padded with 0


def test_ascii85():
    assert ascii85_decode(b"87cURD]o~>") == b"Hello!"
    assert ascii85_decode(b"87cURDZ~>") == b"Hello"
    assert ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"


def test_runlength():
    assert runlength_decode(bytes([2]) + b"abc" + bytes([254, ord("x"), 128])) == b"abcxxx"


def test_lzw_simple():
    # canonical LZW example: encode 'TOBEORNOTTOBEORTOBEORNOT' by hand is
    # overkill; instead verify clear-code handling + growth on a stream
    # produced by a tiny inline encoder.
    def lzw_encode(data: bytes) -> bytes:
        table = {bytes([i]): i for i in range(256)}
        next_code = 258
        width = 9
        out = []
        bits = []

        def emit(code):
            bits.append((code, len(bits)))

        buf = b""
        codes = [256]
        for b in data:
            cand = buf + bytes([b])
            if cand in table:
                buf = cand
            else:
                codes.append(table[buf])
                table[cand] = next_code
                next_code += 1
                buf = bytes([b])
        if buf:
            codes.append(table[buf])
        codes.append(257)
        # pack MSB-first with early-change widths
        outbits = bytearray()
        acc, nacc = 0, 0
        width = 9
        count = 258
        for c in codes:
            acc = (acc << width) | c
            nacc += width
            while nacc >= 8:
                nacc -= 8
                outbits.append((acc >> nacc) & 0xFF)
            if c == 256:
                count = 258
                width = 9
            else:
                count += 1
                if count + 1 - 1 >= (1 << width) and width < 12:
                    width += 1
        if nacc:
            outbits.append((acc << (8 - nacc)) & 0xFF)
        return bytes(outbits)

    raw = b"TOBEORNOTTOBEORTOBEORNOT" * 3
    assert lzw_decode(lzw_encode(raw)) == raw


# ----------------------------------------------------------------------
# full documents
# ----------------------------------------------------------------------
@pytest.mark.parametrize("i", list(range(16)) + [22, 23, 30, 31, 38, 39, 46, 47])
def test_quote_pdf_byte_identical_text(i):
    # 16..47 extras hit every embedded-font combo: variants 6/7 at all
    # three TrueType cmap styles x both post-name styles
    blob, golden_text, golden_white = make_quote_pdf(i)
    doc = parse_pdf(blob)
    assert doc.text() == golden_text, f"variant {i % 8} text mismatch"


@pytest.mark.parametrize("i", [0, 1, 2, 3, 4, 8, 13])
def test_quote_pdf_whitetext_record(i):
    blob, _, golden_white = make_quote_pdf(i)
    doc = parse_pdf(blob)
    whites = [p.whitetext_metadata() for p in doc.pages if p.whitetext_metadata()]
    assert len(whites) == 1
    assert whites[0] == golden_white
    assert "||Name_of_Prospect: Prospect" in whites[0]


def test_multipage_metadata_on_page_two():
    blob, golden_text, golden_white = make_quote_pdf(3)  # variant 3: 3 pages
    doc = parse_pdf(blob)
    assert doc.num_pages == 3
    assert doc.pages[0].whitetext_metadata() == ""
    assert doc.pages[1].whitetext_metadata() == golden_white
    assert doc.text() == golden_text


def test_xref_stream_variant():
    blob, golden_text, _ = make_quote_pdf(2)  # variant 2: xref stream
    assert b"/Type /XRef" in blob
    doc = parse_pdf(blob)
    assert doc.text() == golden_text
    assert doc.decode_fallbacks == 0


def test_tounicode_font_variant():
    blob, golden_text, _ = make_quote_pdf(4)  # variant 4: F2 body text
    doc = parse_pdf(blob)
    assert "€" in doc.text() and "ﬁ" in doc.text()
    assert doc.text() == golden_text


def test_oversized_pdf():
    blob, golden_text, golden_white = make_oversized_pdf(999)
    doc = parse_pdf(blob)
    assert doc.num_pages == 100
    assert doc.text() == golden_text
    assert doc.pages[0].whitetext_metadata() == golden_white


def test_corrupt_pdf_raises_pdferror():
    blob, _, _ = make_quote_pdf(0)
    with pytest.raises(PdfError):
        parse_pdf(blob[:200])
    with pytest.raises(PdfError) as ei:
        parse_pdf(b"")
    assert ei.value.code == "empty"
    with pytest.raises(PdfError) as ei:
        parse_pdf(b"GIF89a not a pdf")
    assert ei.value.code == "not_pdf"


def test_reconstruction_fallback_on_broken_xref():
    blob, golden_text, _ = make_quote_pdf(0)
    # corrupt the startxref offset → forces brute-force reconstruction
    idx = blob.rfind(b"startxref")
    broken = blob[:idx] + b"startxref\n999999999\n%%EOF\n"
    doc = parse_pdf(broken)
    assert doc.decode_fallbacks >= 1
    assert doc.text() == golden_text


def test_tj_kerning_space_rule():
    b = PdfBuilder()
    p = b.new_page()
    p.tj(72, 700, ["Hel", -50, "lo", -250, "World"])
    doc = parse_pdf(b.build())
    assert doc.pages[0].items[0].str == "Hello World"


def test_transform_zero_predicate():
    b = PdfBuilder()
    p = b.new_page()
    p.text(72, 700, "visible")
    p.white_text("||K: v")
    doc = parse_pdf(b.build())
    items = doc.pages[0].items
    assert items[0].transform[0] != 0
    assert items[1].transform[0] == 0


def test_encrypted_pdf_typed_error():
    """/Encrypt in the trailer → typed 'encrypted' error, both classic
    and xref-stream layouts; the ref is NOT resolved (it may dangle)."""
    b = PdfBuilder()
    pg = b.new_page()
    pg.text(72, 720, "secret text")
    pdf = b.build()
    enc = pdf.replace(b"trailer\n<< ", b"trailer\n<< /Encrypt 99 0 R ", 1)
    assert enc != pdf
    with pytest.raises(PdfError) as ei:
        parse_pdf(enc)
    assert ei.value.code == "encrypted"
    # the pristine build still parses
    assert parse_pdf(pdf).pages[0].text() == "secret text"


def test_encrypted_pdf_becomes_error_row(spark):
    """End to end: an encrypted PDF lands as error_code='encrypted' and
    is counted in the audit failure metrics, never thrown."""
    from pyspark.sql import functions as F

    from pdf_parser_spark import audit
    from pdf_parser_spark.extract import extract_documents

    b = PdfBuilder()
    pg = b.new_page()
    pg.text(72, 720, "secret")
    enc = b.build().replace(b"trailer\n<< ", b"trailer\n<< /Encrypt 99 0 R ", 1)
    pages = spark.createDataFrame(
        [("enc://1", None, enc, None, "en")],
        "url string, warc_ts timestamp_ntz, html binary, text string, lang string",
    )
    row = extract_documents(pages).collect()[0]
    assert row["error_code"] == "encrypted"
    assert "Encrypt" in row["error_message"]
    m = audit.partition_metrics(
        audit.with_bucket(extract_documents(pages), 4), "r-enc"
    ).collect()
    assert sum(r["failures"] for r in m) == 1


def test_encrypted_pdf_xref_stream_layout():
    """/Encrypt detection must also fire when the trailer keys live in
    an xref STREAM dict (PDF 1.5 layout), not a classic trailer."""
    b = PdfBuilder(xref_stream=True)
    pg = b.new_page()
    pg.text(72, 720, "secret in stream layout")
    pdf = b.build()
    enc = pdf.replace(b"<< /Type /XRef ", b"<< /Encrypt 99 0 R /Type /XRef ", 1)
    assert enc != pdf
    with pytest.raises(PdfError) as ei:
        parse_pdf(enc)
    assert ei.value.code == "encrypted"
    assert parse_pdf(pdf).pages[0].text() == "secret in stream layout"


@pytest.mark.parametrize("r,bits,compress,xs", [
    (3, 128, True, False),   # RC4-128, classic xref, flate streams
    (2, 40, False, False),   # RC4-40 revision 2, raw streams
    (3, 40, True, True),     # RC4-40 revision 3, xref-stream layout
])
def test_rc4_encrypted_pdf_decrypts_byte_identical(r, bits, compress, xs):
    """ISO 32000-1 §7.6 standard handler, empty user password: behind
    the flag the document decodes to byte-identical generator goldens;
    the default path keeps the typed 'encrypted' row (round-2
    contract). Goldens come from the generator, never from crypt.py."""
    b = PdfBuilder(compress=compress, xref_stream=xs,
                   encrypt_rc4={"r": r, "length": bits})
    pg = b.new_page()
    pg.text(72, 720, "secret rc4 text")
    pg.white_text("Name_of_Prospect: Alice||Zip_Code: 85250")
    pdf = b.build()
    # ciphertext really differs from a plaintext build of the same doc
    plain_builder = PdfBuilder(compress=compress, xref_stream=xs)
    pp = plain_builder.new_page()
    pp.text(72, 720, "secret rc4 text")
    pp.white_text("Name_of_Prospect: Alice||Zip_Code: 85250")
    assert pdf != plain_builder.build()
    with pytest.raises(PdfError) as ei:
        parse_pdf(pdf)  # default stays a typed error
    assert ei.value.code == "encrypted"
    doc = parse_pdf(pdf, decrypt=True)
    assert doc.decrypted
    assert doc.text() == b.golden_doc_text()
    assert doc.pages[0].whitetext_metadata() == b.golden_whitetext()


def test_unsupported_envelope_stays_typed_error():
    """Out-of-envelope encryption (unknown V, broken V4 crypt filter,
    wrong password) falls back to the typed 'encrypted' row even with
    the flag on."""
    b = PdfBuilder(encrypt_rc4={"r": 3, "length": 128})
    b.new_page().text(72, 720, "x")
    pdf = b.build()
    v6 = pdf.replace(b"/V 2 /R 3", b"/V 6 /R 7")
    with pytest.raises(PdfError) as ei:
        parse_pdf(v6, decrypt=True)
    assert ei.value.code == "encrypted" and "V=6" in str(ei.value)
    # V4 claimed but no /CF crypt filter dictionary → typed error too
    bare_v4 = pdf.replace(b"/V 2 /R 3", b"/V 4 /R 4")
    with pytest.raises(PdfError) as ei:
        parse_pdf(bare_v4, decrypt=True)
    assert ei.value.code == "encrypted" and "StdCF" in str(ei.value)
    # V5 claimed but /CF stripped entirely → typed error, never AES-256
    # decryption of possibly-Identity content (ADVICE round-4)
    b5 = PdfBuilder(encrypt_rc4={"mode": "aesv3", "r": 6})
    b5.new_page().text(72, 720, "x")
    pdf5 = b5.build()
    cf_part = b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF /StrF /StdCF "
    assert cf_part in pdf5
    # same-length whitespace so xref offsets stay valid
    no_cf = pdf5.replace(cf_part, b" " * len(cf_part))
    with pytest.raises(PdfError) as ei:
        parse_pdf(no_cf, decrypt=True)
    assert ei.value.code == "encrypted" and "StdCF" in str(ei.value)
    # corrupt /U → password check fails → typed error, not garbage text
    import re
    m = re.search(rb"/U <([0-9a-f]+)>", pdf)
    bad_u = pdf.replace(m.group(1), m.group(1)[::-1])
    with pytest.raises(PdfError) as ei:
        parse_pdf(bad_u, decrypt=True)
    assert ei.value.code == "encrypted" and "password" in str(ei.value)


def test_rc4_extraction_stage_counts_decrypted(spark):
    """extract_documents(decrypt=True): encrypted docs parse for
    real and are counted separately in the audit metrics."""
    from pdf_parser_spark import audit
    from pdf_parser_spark.extract import extract_documents

    b = PdfBuilder(compress=True, encrypt_rc4={"r": 3, "length": 128})
    b.new_page().text(72, 720, "crawled restricted doc")
    enc = b.build()
    p = PdfBuilder()
    p.new_page().text(72, 720, "plain doc")
    rows = [("enc://1", None, enc, None, "en"), ("plain://2", None, p.build(), None, "en")]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp_ntz, html binary, text string, lang string"
    )
    got = {r["url"]: r for r in extract_documents(pages, decrypt=True).collect()}
    assert got["enc://1"]["error_code"] is None
    assert got["enc://1"]["text"] == "crawled restricted doc"
    assert got["enc://1"]["decrypted"] is True
    assert got["plain://2"]["decrypted"] is False
    m = audit.partition_metrics(
        audit.with_bucket(extract_documents(pages, decrypt=True), 4), "r-rc4"
    ).collect()
    assert sum(r["decrypted_docs"] for r in m) == 1
    assert sum(r["failures"] for r in m) == 0
    # default flag: the encrypted doc is still a typed error row
    d = {r["url"]: r for r in extract_documents(pages).collect()}
    assert d["enc://1"]["error_code"] == "encrypted"


def test_aes_known_answer_vectors():
    """FIPS-197 Appendix C vectors pin the generated-table AES core —
    a table-generation bug cannot cancel between encrypt and decrypt."""
    from pdf_parser_spark.pdfcore.aes import (
        _decrypt_block, _encrypt_block, _expand_key, cbc_decrypt, cbc_encrypt)

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    k128, k256 = bytes(range(16)), bytes(range(32))
    assert _encrypt_block(pt, _expand_key(k128)).hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert _encrypt_block(pt, _expand_key(k256)).hex() == "8ea2b7ca516745bfeafc49904b496089"
    for k in (k128, k256):
        assert _decrypt_block(_encrypt_block(pt, _expand_key(k)), _expand_key(k)) == pt
    blob = cbc_encrypt(b"k" * 16, b"odd-length payload 123", b"i" * 16)
    assert cbc_decrypt(b"k" * 16, blob) == b"odd-length payload 123"


@pytest.mark.parametrize("enc,xs", [
    ({"mode": "aesv2"}, False),            # V4 R4 AES-128 crypt filter
    ({"mode": "aesv3", "r": 6}, True),     # V5 R6 AES-256, 2.B hash
    ({"mode": "aesv3", "r": 5}, False),    # V5 R5 (deprecated SHA-256)
])
def test_aes_encrypted_pdf_decrypts_byte_identical(enc, xs):
    b = PdfBuilder(compress=True, xref_stream=xs, encrypt_rc4=enc)
    pg = b.new_page()
    pg.text(72, 720, "aes secret text")
    pg.white_text("Name_of_Prospect: Bob||Zip_Code: 12345")
    pdf = b.build()
    with pytest.raises(PdfError) as ei:
        parse_pdf(pdf)  # default stays the typed error row
    assert ei.value.code == "encrypted"
    doc = parse_pdf(pdf, decrypt=True)
    assert doc.decrypted
    assert doc.text() == b.golden_doc_text()
    assert doc.pages[0].whitetext_metadata() == b.golden_whitetext()


def test_objstm_layout_roundtrip():
    """Variant 5 (round 3): every non-stream object lives in ONE
    /Type /ObjStm with type-2 xref-stream entries — the modern-PDF
    default layout — and parses byte-identically."""
    blob, golden_text, golden_white = make_quote_pdf(5)
    assert b"/Type /ObjStm" in blob
    doc = parse_pdf(blob)
    assert doc.text() == golden_text
    assert doc.pages[0].whitetext_metadata() == golden_white
    assert doc.decode_fallbacks == 0


@pytest.mark.parametrize("enc", [
    {"r": 3, "length": 128}, {"mode": "aesv2"}, {"mode": "aesv3", "r": 6},
])
def test_objstm_encrypted_roundtrip(enc):
    """Encryption x ObjStm interaction (the common modern case): the
    container stream is encrypted under its own object key, members
    stay plaintext inside it — decode must be byte-identical."""
    b = PdfBuilder(compress=True, xref_stream=True, objstm=True, encrypt_rc4=enc)
    pg = b.new_page()
    pg.text(72, 720, "objstm secret body")
    pg.white_text("Name_of_Prospect: Obj||Zip_Code: 00001")
    pdf = b.build()
    with pytest.raises(PdfError) as ei:
        parse_pdf(pdf)
    assert ei.value.code == "encrypted"
    doc = parse_pdf(pdf, decrypt=True)
    assert doc.decrypted
    assert doc.text() == b.golden_doc_text()
    assert doc.pages[0].whitetext_metadata() == b.golden_whitetext()


def test_v5_non_aesv3_crypt_filter_raises_typed():
    """A V5 dict whose /CF names a non-AESV3 filter (e.g. /Identity) must
    raise the typed CryptError, never be 'decrypted' into garbage
    (round-3 ADVICE: the V5 branch skipped the /CF scrutiny V4 gets)."""
    from pdf_parser_spark.pdfcore.crypt import CryptError, StandardSecurityHandler

    enc = {
        "Filter": "Standard", "V": 5, "R": 6, "P": -4,
        "O": b"\x00" * 48, "U": b"\x00" * 48, "UE": b"\x00" * 32, "OE": b"\x00" * 32,
        "CF": {"StdCF": {"CFM": "Identity"}}, "StmF": "StdCF", "StrF": "StdCF",
    }
    with pytest.raises(CryptError) as ei:
        StandardSecurityHandler(enc, b"\x01" * 16)
    assert ei.value.code == "cf"
    enc2 = dict(enc, CF={"StdCF": {"CFM": "AESV3"}}, StmF="Identity")
    with pytest.raises(CryptError) as ei2:
        StandardSecurityHandler(enc2, b"\x01" * 16)
    assert ei2.value.code == "cf"


# ----------------------------------------------------------------------
# embedded font programs (round-5: fontprog.py)
# ----------------------------------------------------------------------
def test_truetype_cmap_format4_idrangeoffset_path():
    """Hand-built format-4 subtable exercising the glyphIdArray
    'address trick' (idRangeOffset != 0) our synth encoder never emits:
    segment A..C with gids [5, 9, 7] via the indirection array."""
    import struct

    from pdf_parser_spark.pdfcore.fontprog import _parse_cmap_subtable

    # segs: [0x41..0x43 via glyphIdArray], [0xFFFF sentinel]
    segs = 2
    hdr = struct.pack(">HHHHHHH", 4, 0, 0, segs * 2, 4, 1, 0)
    ends = struct.pack(">2H", 0x43, 0xFFFF)
    starts = struct.pack(">2H", 0x41, 0xFFFF)
    deltas = struct.pack(">2h", 0, 1)
    # idRangeOffset[0] sits at offset (14 + 2*2 + 2 + 2*2 + 2*2) = 26
    # glyphIdArray starts right after idRangeOffset[] at 26 + 4 = 30;
    # offset from &idRangeOffset[0] to glyphIdArray = 4
    range_offs = struct.pack(">2H", 4, 0)
    gid_array = struct.pack(">3H", 5, 9, 7)
    sub = hdr + ends + b"\x00\x00" + starts + deltas + range_offs + gid_array
    got = _parse_cmap_subtable(sub, 0)
    assert got == {0x41: 5, 0x42: 9, 0x43: 7}


def test_truetype_symbol_cmap_f000_alias():
    from pdf_parser_spark.pdfcore.fontprog import truetype_tounicode
    from pdf_parser_spark.synth.fontgen import F3_CODE, build_truetype_font

    tt = build_truetype_font(style="sym4", use_std_names=False)
    m = truetype_tounicode(tt)
    # (3,0) symbol cmap keys at 0xF000|code; byte-code alias must exist
    assert m[F3_CODE["A"]] == "A"
    assert m[0xF000 | F3_CODE["A"]] == "A"
    assert m[F3_CODE["€"]] == "€"


def test_truetype_std_post_names_resolve():
    from pdf_parser_spark.pdfcore.fontprog import truetype_tounicode
    from pdf_parser_spark.synth.fontgen import F3_CODE, build_truetype_font

    for style in ("mac0", "fmt6"):
        m = truetype_tounicode(build_truetype_font(style=style, use_std_names=True))
        for ch in "Hello, World! 42":
            assert m[F3_CODE[ch]] == ch, (style, ch)


def test_type1_standard_encoding_form():
    from pdf_parser_spark.pdfcore.fontprog import type1_builtin_encoding

    prog = (b"%!PS-AdobeFont-1.0: X 001\n/FontName /X def\n"
            b"/Encoding StandardEncoding def\ncurrentdict end\n"
            b"currentfile eexec\n\x12\x34junk")
    m = type1_builtin_encoding(prog)
    assert m[ord("A")] == "A" and m[0x27] == "’"  # quoteright quirk


def test_corrupt_embedded_font_degrades_to_standard():
    """A truncated FontFile2 must fall back to the standard table (the
    F3 body text then decodes wrongly but the DOCUMENT still parses —
    no crash, no typed error)."""
    from pdf_parser_spark.synth.pdfgen import PdfBuilder

    b = PdfBuilder(embedded_fonts={"tt_style": "mac0"})
    pg = b.new_page()
    pg.text(72, 700, "Visible F1 line")
    pg.text(72, 680, "Hello", font="F3")
    blob = b.build()
    # truncate the sfnt inside the FontFile2 stream: clobber its tag
    bad = blob.replace(b"\x00\x01\x00\x00", b"\x00\x09\x00\x00", 1)
    assert bad != blob
    doc = parse_pdf(bad)
    lines = doc.pages[0].text().split("\n")
    assert lines[0] == "Visible F1 line"
    assert lines[1] != "Hello"  # private codes + standard table = garbage


def test_embedded_fonts_inside_encrypted_pdf():
    """FontFile streams are encrypted like any other stream; the
    embedded-font text must still decode byte-identical after RC4/AES
    decryption."""
    for enc in ({"r": 3, "length": 128}, {"mode": "aesv3", "r": 6}):
        b = PdfBuilder(encrypt_rc4=enc,
                       embedded_fonts={"tt_style": "sym4", "tt_std_names": False})
        pg = b.new_page()
        pg.text(72, 700, "Crypt # TT", font="F3")
        pg.text(72, 680, "Crypt # T1", font="F4")
        doc = parse_pdf(b.build(), decrypt=True)
        assert doc.pages[0].text() == "Crypt # TT\nCrypt # T1", enc


@pytest.mark.parametrize("cfg", [
    {"r": 3, "length": 128}, {"r": 2, "length": 40},
    {"mode": "aesv2"}, {"mode": "aesv3", "r": 6}, {"mode": "aesv3", "r": 5},
])
def test_nonempty_password_user_owner_wrong(cfg):
    """Round-5: caller-supplied passwords. The USER password opens via
    Algorithms 4/5 (or 11); the distinct OWNER password opens via
    Algorithm 7 (RC4/AESV2: /O decrypts to the padded user password)
    or Algorithm 12 (V5); empty and wrong passwords stay the typed
    'encrypted' row. Byte-identical golden text after decryption."""
    c = dict(cfg, user_pw=b"hunter2", owner_pw=b"admin!")
    b = PdfBuilder(encrypt_rc4=c, compress=True)
    b.new_page().text(72, 720, "Secret payload 42")
    blob = b.build()
    for bad in (b"", b"wrong", b"HUNTER2"):
        with pytest.raises(PdfError) as ei:
            parse_pdf(blob, decrypt=True, password=bad)
        assert ei.value.code == "encrypted"
    assert parse_pdf(blob, decrypt=True, password=b"hunter2").text() == "Secret payload 42"
    assert parse_pdf(blob, decrypt=True, password=b"admin!").text() == "Secret payload 42"


def test_password_pdf_extraction_stage(spark):
    """extract_documents(decrypt=True, password=...): the right password
    decodes byte-identical; the wrong one keeps the typed error row."""
    from pdf_parser_spark import extract as ex

    b = PdfBuilder(encrypt_rc4={"mode": "aesv3", "r": 6, "user_pw": b"pw#1"})
    pg = b.new_page()
    pg.text(72, 720, "Password-protected body")
    blob = b.build()
    pages = spark.createDataFrame(
        [("pw://1", None, blob, "Password-protected body", "en")],
        "url string, warc_ts timestamp_ntz, html binary, text string, lang string",
    )
    ok = ex.extract_documents(pages, decrypt=True, password=b"pw#1").collect()[0]
    assert ok["error_code"] is None and ok["text"] == "Password-protected body"
    bad = ex.extract_documents(pages, decrypt=True, password=b"nope").collect()[0]
    assert bad["error_code"] == "encrypted"


def test_cff_tounicode_roundtrip_and_dispatch():
    """Bare CFF (Type1C): Encoding→gid, charset→SID, standard-SID +
    String-INDEX names; FontFile3 dispatch routes sfnt tags to the
    TrueType parser."""
    from pdf_parser_spark.pdfcore.fontprog import cff_tounicode, fontfile3_tounicode
    from pdf_parser_spark.synth.fontgen import F4_CODE, build_cff_font, build_truetype_font

    m = cff_tounicode(build_cff_font())
    for ch, code in F4_CODE.items():
        assert m[code] == ch
    # an OpenType-wrapped font through the FontFile3 entry point
    assert fontfile3_tounicode(build_truetype_font("mac0", True)) is not None


def test_cff_charset_and_encoding_range_formats():
    """Hand-built CFF exercising charset format 1 (SID ranges) and
    Encoding format 1 (+ supplement) — shapes the synth builder never
    emits. 3 glyphs: codes 40,41 -> 'A','B' via a range; supplement
    code 200 -> the same 'B' glyph."""
    import struct

    from pdf_parser_spark.pdfcore.fontprog import cff_tounicode
    from pdf_parser_spark.synth.fontgen import _cff_index_bytes

    name_index = _cff_index_bytes([b"RangeCFF"])
    string_index = _cff_index_bytes([])
    gsubr = _cff_index_bytes([])
    # encoding fmt 1 with supplement flag: 1 range (first=40, nLeft=1)
    encoding = bytes([0x81, 1, 40, 1]) + bytes([1, 200]) + struct.pack(">H", 35)
    # charset fmt 1: one range SID=34 ('A'=ord-31=34? ord('A')=65 -> 34) nLeft=1
    charset = bytes([1]) + struct.pack(">H", 34) + bytes([1])
    charstrings = _cff_index_bytes([b"\x0e"] * 3)

    def op(val, operator):
        return struct.pack(">Bi", 29, val) + bytes([operator])

    topdict_index_size = 2 + 1 + 4 + 18
    base = 4 + len(name_index) + topdict_index_size + len(string_index) + len(gsubr)
    enc_off = base
    cs_off = enc_off + len(encoding)
    chs_off = cs_off + len(charset)
    top = op(cs_off, 15) + op(enc_off, 16) + op(chs_off, 17)
    blob = (bytes([1, 0, 4, 2]) + name_index + _cff_index_bytes([top])
            + string_index + gsubr + encoding + charset + charstrings)
    m = cff_tounicode(blob)
    assert m == {40: "A", 41: "B", 200: "B"}, m


def test_cff_cidfont_and_expert_charset_gated():
    """ROS (CIDFont) and predefined Expert charsets must yield None
    (standard-table fallback), never wrong text."""
    import struct

    from pdf_parser_spark.pdfcore.fontprog import cff_tounicode
    from pdf_parser_spark.synth.fontgen import _cff_index_bytes, build_cff_font

    def rebuild_with_top(top):
        name_index = _cff_index_bytes([b"X"])
        blob = (bytes([1, 0, 4, 2]) + name_index + _cff_index_bytes([top])
                + _cff_index_bytes([]) + _cff_index_bytes([]))
        return blob

    # ROS operator (12 30) present -> CIDFont -> None
    ros = (struct.pack(">Bi", 29, 391) + struct.pack(">Bi", 29, 391)
           + struct.pack(">Bi", 29, 0) + bytes([12, 30]))
    assert cff_tounicode(rebuild_with_top(ros)) is None
    # Expert predefined charset (offset 1) -> None
    ok = build_cff_font()
    m = cff_tounicode(ok)
    assert m is not None
    # corrupt: truncate mid-INDEX -> None, never an exception
    assert cff_tounicode(ok[:30]) is None
    assert cff_tounicode(b"\x02\x00\x04\x02") is None  # wrong major version


def test_truetype_cmap_format12_and_post_format1():
    """Hand-built sfnt: a (3,10) format-12 segmented-coverage cmap with
    a format-1.0 post (gid IS the standard Mac index) — the modern
    Unicode-font shape; and the chr(code) fallback when post is absent
    (unicode-typed subtable)."""
    import struct

    from pdf_parser_spark.pdfcore.fontprog import truetype_tounicode

    sub12 = struct.pack(">HHIII", 12, 0, 28, 0, 1) + struct.pack(
        ">III", 0x41, 0x43, 5
    )
    cmap = struct.pack(">HH", 0, 1) + struct.pack(">HHI", 3, 10, 12) + sub12
    post1 = struct.pack(">IihhIIIII", 0x00010000, 0, 0, 0, 0, 0, 0, 0, 0)

    def sfnt(tables):
        n = len(tables)
        out = bytearray(struct.pack(">IHHHH", 0x00010000, n, 16, 0, 16 * n - 16))
        off = 12 + 16 * n
        body = bytearray()
        for tag, d in sorted(tables):
            pad = (-len(d)) % 4
            out += struct.pack(">4sIII", tag, 0, off, len(d))
            body += d + b"\x00" * pad
            off += len(d) + pad
        return bytes(out + body)

    # gid 5/6/7 -> post-1.0 std indices 5/6/7 -> '"', '#', '$'
    m = truetype_tounicode(sfnt([(b"cmap", cmap), (b"post", post1)]))
    assert m == {0x41: '"', 0x42: "#", 0x43: "$"}
    # no post at all: unicode-typed (3,10) falls back to chr(code)
    m2 = truetype_tounicode(sfnt([(b"cmap", cmap)]))
    assert m2 == {0x41: "A", 0x42: "B", 0x43: "C"}


@pytest.mark.parametrize("enc_off,expected", [(0, {65: "A", 66: "B"}), (1, None)])
def test_cff_predefined_expert_encoding_gated(enc_off, expected):
    """Hand-built known answer: charset format 0 names gids 1, 2 by the
    standard SIDs 34, 35 ('A', 'B'). Under the predefined Standard
    encoding (Top DICT Encoding offset 0) codes 65, 66 reach them. The
    predefined Expert encoding (offset 1) maps codes to expert glyphs,
    so decoding it through the Standard table would give WRONG text:
    it must yield None (standard-table fallback)."""
    import struct

    from pdf_parser_spark.pdfcore.fontprog import cff_tounicode
    from pdf_parser_spark.synth.fontgen import _cff_index_bytes

    def op(val, operator):
        return struct.pack(">Bi", 29, val) + bytes([operator])

    name_index = _cff_index_bytes([b"ExpertCFF"])
    empty_index = _cff_index_bytes([])  # String INDEX and Global Subr INDEX
    charset = bytes([0]) + struct.pack(">HH", 34, 35)
    charstrings = _cff_index_bytes([b"\x0e"] * 3)
    topdict_index_size = 2 + 1 + 4 + 18
    cs_off = 4 + len(name_index) + topdict_index_size + 2 * len(empty_index)
    chs_off = cs_off + len(charset)
    top_index = _cff_index_bytes([op(cs_off, 15) + op(enc_off, 16) + op(chs_off, 17)])
    assert len(top_index) == topdict_index_size
    blob = (bytes([1, 0, 4, 2]) + name_index + top_index + empty_index + empty_index
            + charset + charstrings)
    assert cff_tounicode(blob) == expected


# ----------------------------------------------------------------------
# CMap memo and per-document font decoder reuse
# ----------------------------------------------------------------------
def _assemble(objects) -> bytes:
    """Objects 1..n (1 = catalog) → a PDF with a classic xref table."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objects) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objects) + 1, xref)
    return bytes(out)


def _stream(data: bytes) -> bytes:
    return b"<< /Length %d >>\nstream\n" % len(data) + data + b"\nendstream"


def _tounicode_cmap(pairs) -> bytes:
    """A bfchar ToUnicode CMap: 1-byte code → one BMP character."""
    chars = b"\n".join(b"<%02X> <%04X>" % (code, ord(ch)) for code, ch in pairs)
    return (b"begincmap\n1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
            b"%d beginbfchar\n" % len(pairs) + chars + b"\nendbfchar\nendcmap")


def _one_font_pdf(cmap: bytes, n_pages: int = 2) -> bytes:
    """n pages sharing font F1 (by reference) whose /ToUnicode is ``cmap``;
    each page shows codes <01 02>."""
    content = b"BT /F1 12 Tf 72 700 Td <0102> Tj ET"
    first_page = 5
    kids = b" ".join(b"%d 0 R" % (first_page + 2 * k) for k in range(n_pages))
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom /ToUnicode 4 0 R >>",
        _stream(cmap),
    ]
    for k in range(n_pages):
        objects.append(b"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 3 0 R >> >> "
                       b"/Contents %d 0 R >>" % (first_page + 2 * k + 1))
        objects.append(_stream(content))
    return _assemble(objects)


def test_distinct_tounicode_cmaps_back_to_back():
    """Two documents whose ToUnicode CMaps differ map the same codes to
    different text; parsed back to back (and again) in one process,
    each keeps its own golden text — the memo keys on content."""
    doc_ab = _one_font_pdf(_tounicode_cmap([(1, "A"), (2, "B")]))
    doc_xy = _one_font_pdf(_tounicode_cmap([(1, "X"), (2, "Y")]))
    for blob, golden in ((doc_ab, "AB\fAB"), (doc_xy, "XY\fXY"), (doc_ab, "AB\fAB")):
        assert parse_pdf(blob).text() == golden


def test_cmap_memo_is_bounded():
    from pdf_parser_spark.pdfcore import cmap

    for k in range(300):
        cm = cmap.ToUnicodeCMap.parse(_tounicode_cmap([(1, chr(0x4E00 + k))]))
        assert cm.decode(b"\x01") == chr(0x4E00 + k)
        assert len(cmap._memo) <= 256
    assert len(cmap._memo) <= 256


def test_shared_font_decoder_built_once_per_document(monkeypatch):
    from pdf_parser_spark.pdfcore import document

    built = []
    real = document._build_decoder

    def counting(store, fd):
        built.append(fd)
        return real(store, fd)

    monkeypatch.setattr(document, "_build_decoder", counting)
    blob = _one_font_pdf(_tounicode_cmap([(1, "Q"), (2, "R")]), n_pages=5)
    assert parse_pdf(blob).text() == "\f".join(["QR"] * 5)
    assert len(built) == 1  # one font dict, five pages
    parse_pdf(blob)
    assert len(built) == 2  # the cache lives for one parse_pdf call only


def test_inline_font_dicts_per_page_decode_separately():
    """Pages carrying their own inline /Resources font dicts (no shared
    refs), all named F1 but with different encodings, decode each with
    its own dict: reuse must never cross dictionaries."""
    def page(font: bytes, contents: int) -> bytes:
        return (b"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 " + font
                + b" >> >> /Contents %d 0 R >>" % contents)

    swapped = b"<< /Type /Font /Subtype /Type1 /Encoding << /Differences [65 /B /A] >> >>"
    plain = b"<< /Type /Font /Subtype /Type1 /Encoding /WinAnsiEncoding >>"
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R 4 0 R 5 0 R] /Count 3 >>",
        page(swapped, 6),
        page(plain, 6),
        page(swapped, 6),
        _stream(b"BT /F1 12 Tf 72 700 Td (AB\x80) Tj ET"),
    ]
    # page 1/3: Differences over StandardEncoding (no 0x80 there → U+FFFD);
    # page 2: WinAnsi (0x80 = Euro)
    assert parse_pdf(_assemble(objects)).text() == "BA�\fAB€\fBA�"


@pytest.mark.parametrize("enc", [
    {"r": 3, "length": 128}, {"r": 2, "length": 40}, {"mode": "aesv2"},
    {"mode": "aesv3", "r": 6},
])
def test_encrypted_multipage_shared_fonts_decode(enc):
    """attach_crypt clears the object cache before any font dict is
    resolved, so decoders reused across pages are built from decrypted
    objects: every page stays byte-identical to the generator goldens."""
    b = PdfBuilder(compress=True, encrypt_rc4=enc,
                   embedded_fonts={"tt_style": "mac0", "t1_flavor": "cff"})
    for p in range(3):
        pg = b.new_page()
        pg.text(72, 720, f"Encrypted page {p + 1}")
        pg.text(72, 700, f"Euro € and ﬁ {p}", font="F2")
        pg.text(72, 680, f"TrueType € {p}", font="F3")
        pg.text(72, 660, f"CFF € {p}", font="F4")
    doc = parse_pdf(b.build(), decrypt=True)
    assert doc.decrypted
    assert doc.text() == b.golden_doc_text()
