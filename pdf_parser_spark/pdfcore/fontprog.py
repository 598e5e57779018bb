"""Embedded font programs → charcode-to-Unicode maps (round-5).

The last real-world text-extraction gap vs pdf.js's observable
contract (the reference consumes its vendored font stack at
``src/services/pdfParser/index.ts:23-37``): a symbolic TrueType or
Type1 font with NO /ToUnicode and NO /Differences still decodes,
because the unicode comes from the font program itself —

- **TrueType** (``/FontFile2``): the ``cmap`` table (subtable formats
  0, 4 and 6; public OpenType/TrueType spec) maps charcodes to glyph
  ids, and the ``post`` table (format 2.0) names each glyph; glyph
  names resolve through the Adobe Glyph List conventions
  (:data:`..cmap.GLYPH_NAMES` + ``uniXXXX``).  For Unicode-typed
  subtables ((3,1) Windows BMP or platform 0) an unnamed glyph falls
  back to ``chr(charcode)`` — the code IS the unicode there.  Symbol
  subtables ((3,0)) get the pdf.js ``0xF000 | code`` alias.
- **Type1** (``/FontFile``): the cleartext header's ``/Encoding``
  vector (``dup <code> /<name> put`` entries, or the literal
  ``StandardEncoding``) is parsed without touching the eexec-encrypted
  body — charstrings are irrelevant for text extraction.

Every parse failure degrades to ``None`` (caller falls back to the
standard-encoding table): a malformed embedded font must never turn a
document into a task failure.
"""

from __future__ import annotations

import hashlib
import re
import struct
from typing import Dict, Optional

from .cmap import BASE_ENCODINGS, GLYPH_NAMES

# Executor-side memo keyed by content digest: a crawl shard repeats the
# same embedded fonts across thousands of documents (pdf.js likewise
# caches translated fonts), so each distinct font program parses once
# per worker. Bounded: font maps are small; the table resets per
# Python worker process.
_MEMO_MAX = 256
_memo: Dict[bytes, Optional[Dict[int, str]]] = {}


def _memoized(parser):
    def wrapped(data: bytes) -> Optional[Dict[int, str]]:
        key = hashlib.md5(parser.__name__.encode() + data).digest()
        if key in _memo:
            return _memo[key]
        got = parser(data)
        if len(_memo) >= _MEMO_MAX:
            _memo.clear()
        _memo[key] = got
        return got

    wrapped.__name__ = parser.__name__
    wrapped.__doc__ = parser.__doc__
    return wrapped


def glyph_name_to_unicode(name: str) -> Optional[str]:
    """AGL-convention resolution: known name, uniXXXX, uXXXX[XX]."""
    got = GLYPH_NAMES.get(name)
    if got is not None:
        return got
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return None
    return None


# ----------------------------------------------------------------------
# TrueType (sfnt) — cmap + post
# ----------------------------------------------------------------------
def _mac_glyph_unicode(idx: int) -> Optional[str]:
    """Standard Macintosh glyph order (post format 2.0 indices < 258).

    The load-bearing ASCII block is indices 3..97 = codepoints 32..126
    in order (index = codepoint - 29); 0-2 are the fixed control
    glyphs (.notdef/.null/nonmarkingreturn → no text).  Indices
    98..257 are the Mac extended set — left unresolved (a glyph that
    needs one decodes as unknown, never wrongly); crawl text is
    overwhelmingly covered by the ASCII block + custom names."""
    if 3 <= idx <= 97:
        return chr(idx + 29)
    return None


def _parse_cmap_subtable(data: bytes, off: int) -> Optional[Dict[int, int]]:
    """code → glyph id for subtable formats 0 / 4 / 6."""
    if off + 2 > len(data):
        return None
    (fmt,) = struct.unpack_from(">H", data, off)
    if fmt == 0:
        if off + 6 + 256 > len(data):
            return None
        gids = data[off + 6 : off + 6 + 256]
        return {c: gids[c] for c in range(256) if gids[c]}
    if fmt == 6:
        if off + 10 > len(data):
            return None
        first, count = struct.unpack_from(">HH", data, off + 6)
        if off + 10 + 2 * count > len(data):
            return None
        out = {}
        for k in range(count):
            (gid,) = struct.unpack_from(">H", data, off + 10 + 2 * k)
            if gid:
                out[first + k] = gid
        return out
    if fmt == 12:  # segmented coverage, 32-bit codes (modern Unicode)
        if off + 16 > len(data):
            return None
        (n_groups,) = struct.unpack_from(">I", data, off + 12)
        if n_groups > 100_000 or off + 16 + 12 * n_groups > len(data):
            return None
        out = {}
        for k in range(n_groups):
            s, e, g0 = struct.unpack_from(">III", data, off + 16 + 12 * k)
            # simple-font text consumes BMP codes; a hostile group
            # spanning millions of codepoints must not materialize —
            # clamp per group and bound the table overall
            if e < s or s > 0xFFFF:
                continue
            for c in range(s, min(e, 0xFFFF) + 1):
                out[c] = g0 + (c - s)
            if len(out) > 100_000:
                return None
        return out
    if fmt == 4:
        if off + 14 > len(data):
            return None
        seg_x2 = struct.unpack_from(">H", data, off + 6)[0]
        segs = seg_x2 // 2
        p = off + 14
        need = p + seg_x2 * 4 + 2
        if segs == 0 or need > len(data):
            return None
        end = struct.unpack_from(f">{segs}H", data, p)
        start = struct.unpack_from(f">{segs}H", data, p + seg_x2 + 2)
        delta = struct.unpack_from(f">{segs}h", data, p + 2 * seg_x2 + 2)
        range_off_pos = p + 3 * seg_x2 + 2
        range_off = struct.unpack_from(f">{segs}H", data, range_off_pos)
        out = {}
        for i in range(segs):
            if start[i] > end[i] or end[i] == 0xFFFF and start[i] == 0xFFFF:
                continue
            for c in range(start[i], min(end[i], 0xFFFE) + 1):
                if range_off[i] == 0:
                    gid = (c + delta[i]) & 0xFFFF
                else:
                    # "address trick": glyph id lives at
                    # idRangeOffset[i]'s own position + idRangeOffset[i]
                    # + 2*(c - startCode[i])
                    addr = range_off_pos + 2 * i + range_off[i] + 2 * (c - start[i])
                    if addr + 2 > len(data):
                        continue
                    (gid,) = struct.unpack_from(">H", data, addr)
                    if gid:
                        gid = (gid + delta[i]) & 0xFFFF
                if gid:
                    out[c] = gid
        return out
    return None  # formats 2/8/10/13/14 not needed for byte codes


def _parse_post_names(data: bytes, off: int, length: int) -> Optional[Dict[int, str]]:
    """glyph id → name from a ``post`` table (format 2.0, or format 1.0
    = the standard Macintosh order verbatim: gid IS the standard index)."""
    if off + 4 > len(data):
        return None
    (version,) = struct.unpack_from(">I", data, off)
    if version == 0x00010000:
        out = {}
        for gid in range(258):
            uni = _mac_glyph_unicode(gid)
            if uni is not None:
                out[gid] = f"uni{ord(uni):04X}"
        return out
    if version != 0x00020000 or off + 34 > len(data):
        return None
    (num,) = struct.unpack_from(">H", data, off + 32)
    idx_end = off + 34 + 2 * num
    if idx_end > len(data) or idx_end > off + length:
        return None
    indices = struct.unpack_from(f">{num}H", data, off + 34)
    # Pascal-string pool for custom names (index - 258)
    pool = []
    p = idx_end
    limit = min(len(data), off + length)
    while p < limit:
        n = data[p]
        if p + 1 + n > limit:
            break
        pool.append(data[p + 1 : p + 1 + n].decode("latin-1"))
        p += 1 + n
    out: Dict[int, str] = {}
    for gid, idx in enumerate(indices):
        if idx >= 258:
            k = idx - 258
            if k < len(pool):
                out[gid] = pool[k]
        else:
            uni = _mac_glyph_unicode(idx)
            if uni is not None:
                # store as the resolved char's AGL-convention name so
                # one downstream resolution path serves both cases
                out[gid] = f"uni{ord(uni):04X}"
    return out


@_memoized
def truetype_tounicode(data: bytes) -> Optional[Dict[int, str]]:
    """charcode → unicode string from an sfnt's cmap (+ post names).

    Subtable preference mirrors pdf.js: (3,1) Windows Unicode BMP,
    then platform 0 (Unicode), then (3,0) symbol, then (1,0) Mac.
    Returns None when no usable subtable parses.
    """
    try:
        if len(data) < 12:
            return None
        tag = data[:4]
        if tag not in (b"\x00\x01\x00\x00", b"true", b"ttcf", b"OTTO"):
            return None
        if tag == b"ttcf":  # TrueType collection: first font
            if len(data) < 16:
                return None
            (first_off,) = struct.unpack_from(">I", data, 12)
            return truetype_tounicode(data[first_off:]) if first_off else None
        (num_tables,) = struct.unpack_from(">H", data, 4)
        tables = {}
        for i in range(num_tables):
            rec = 12 + 16 * i
            if rec + 16 > len(data):
                break
            t = data[rec : rec + 4]
            t_off, t_len = struct.unpack_from(">II", data, rec + 8)
            tables[t] = (t_off, t_len)
        if b"cmap" not in tables:
            return None
        c_off, _c_len = tables[b"cmap"]
        if c_off + 4 > len(data):
            return None
        (n_sub,) = struct.unpack_from(">H", data, c_off + 2)
        subs = {}  # (platform, encoding) -> absolute offset
        for i in range(n_sub):
            rec = c_off + 4 + 8 * i
            if rec + 8 > len(data):
                break
            plat, enc, s_off = struct.unpack_from(">HHI", data, rec)
            subs.setdefault((plat, enc), c_off + s_off)
        chosen = None
        unicode_typed = False
        symbol = False
        for key in ((3, 1), (3, 10), (0, 0), (0, 1), (0, 2), (0, 3), (0, 4),
                    (0, 6), (3, 0), (1, 0)):
            if key in subs:
                chosen = subs[key]
                unicode_typed = key[0] == 0 or key in ((3, 1), (3, 10))
                symbol = key == (3, 0)
                break
        if chosen is None:
            return None
        code_to_gid = _parse_cmap_subtable(data, chosen)
        if not code_to_gid:
            return None
        names: Dict[int, str] = {}
        if b"post" in tables:
            p_off, p_len = tables[b"post"]
            names = _parse_post_names(data, p_off, p_len) or {}
        out: Dict[int, str] = {}
        for code, gid in code_to_gid.items():
            uni = None
            name = names.get(gid)
            if name:
                uni = glyph_name_to_unicode(name)
            if uni is None and unicode_typed:
                uni = chr(code)
            if uni is not None:
                out[code] = uni
        if symbol:
            # pdf.js tries 0xF000 | code for byte codes in symbol fonts
            for code in list(out):
                low = code & 0xFF
                if code & 0xFF00 == 0xF000 and low not in out:
                    out[low] = out[code]
        return out or None
    except (struct.error, ValueError, OverflowError):
        return None


# ----------------------------------------------------------------------
# CFF / Type1C (/FontFile3) — the dominant modern embedded font format
# (public Adobe CFF spec: INDEX structures, Top DICT, charset, Encoding)
# ----------------------------------------------------------------------
def _cff_index(data: bytes, pos: int):
    """Parse one INDEX at ``pos`` → (list of item bytes, end position)."""
    if pos + 2 > len(data):
        raise ValueError("truncated INDEX")
    (count,) = struct.unpack_from(">H", data, pos)
    if count == 0:
        return [], pos + 2
    off_size = data[pos + 2]
    if not 1 <= off_size <= 4:
        raise ValueError(f"bad INDEX offSize {off_size}")
    p = pos + 3
    offs = []
    for i in range(count + 1):
        offs.append(int.from_bytes(data[p : p + off_size], "big"))
        p += off_size
    base = p - 1  # offsets are 1-based from the byte before the data
    items = []
    for i in range(count):
        a, b = base + offs[i], base + offs[i + 1]
        if not (0 <= a <= b <= len(data)):
            raise ValueError("INDEX offsets out of range")
        items.append(data[a:b])
    return items, base + offs[count]


def _cff_dict(data: bytes) -> Dict[int, list]:
    """Top/Private DICT: {operator: operands}. Two-byte operators are
    keyed as 1200+op."""
    out: Dict[int, list] = {}
    operands: list = []
    p = 0
    n = len(data)
    while p < n:
        b0 = data[p]
        if b0 <= 21:  # operator
            if b0 == 12:
                p += 1
                out[1200 + data[p]] = operands
            else:
                out[b0] = operands
            operands = []
            p += 1
        elif 32 <= b0 <= 246:
            operands.append(b0 - 139)
            p += 1
        elif 247 <= b0 <= 250:
            operands.append((b0 - 247) * 256 + data[p + 1] + 108)
            p += 2
        elif 251 <= b0 <= 254:
            operands.append(-(b0 - 251) * 256 - data[p + 1] - 108)
            p += 2
        elif b0 == 28:
            operands.append(struct.unpack_from(">h", data, p + 1)[0])
            p += 3
        elif b0 == 29:
            operands.append(struct.unpack_from(">i", data, p + 1)[0])
            p += 5
        elif b0 == 30:  # real: nibble-encoded, runs to the 0xF terminator
            p += 1
            val = ""
            done = False
            # nibble map per CFF spec: a='.', b='E', c='E-', e='-'
            nibs = ["0", "1", "2", "3", "4", "5", "6", "7", "8", "9",
                    ".", "e", "e-", "", "-", ""]
            while p < n and not done:
                for nib in (data[p] >> 4, data[p] & 0xF):
                    if nib == 0xF:
                        done = True
                        break
                    val += nibs[nib]
                p += 1
            try:
                operands.append(float(val))
            except ValueError:
                operands.append(0.0)
        else:
            raise ValueError(f"bad DICT byte {b0}")
    return out


def _cff_sid_name(sid: int, strings) -> Optional[str]:
    """SID → glyph name. Standard SIDs 1..95 are the printable-ASCII
    glyph names in codepoint order (name of chr(sid+31)); other
    standard SIDs stay unresolved (→ unknown glyph, never a wrong
    one); SIDs ≥ 391 index the font's String INDEX."""
    if sid == 0:
        return None  # .notdef
    if 1 <= sid <= 95:
        # the uniXXXX spelling resolves to exactly chr(sid+31); the
        # AGL name string itself is never used downstream
        return f"uni{sid + 31:04X}"
    if sid >= 391 and sid - 391 < len(strings):
        try:
            return strings[sid - 391].decode("latin-1")
        except UnicodeDecodeError:
            return None
    return None


@_memoized
def cff_tounicode(data: bytes) -> Optional[Dict[int, str]]:
    """charcode → unicode from a bare CFF (Type1C) font.

    code → gid via the Encoding table (format 0/1 + supplements;
    encoding offset 0 = Standard: code → SID c-31 → charset inverse),
    gid → SID via the charset (formats 0/1/2), SID → name → unicode.
    CIDFonts (ROS present), the predefined Expert charsets and Expert
    encoding, and parse failures return None (caller falls back to the
    standard table)."""
    try:
        if len(data) < 4 or data[0] != 1:  # CFF major version 1
            return None
        hdr_size = data[2]
        _names, p = _cff_index(data, hdr_size)
        top_dicts, p = _cff_index(data, p)
        strings, p = _cff_index(data, p)
        if not top_dicts:
            return None
        top = _cff_dict(top_dicts[0])
        if 1230 in top:  # ROS → CIDFont: charset maps CIDs, not SIDs
            return None
        cs_off = int(top.get(17, [0])[0]) if top.get(17) else 0
        if not cs_off:
            return None
        charstrings, _ = _cff_index(data, cs_off)
        n_glyphs = len(charstrings)
        if n_glyphs == 0:
            return None

        # charset: gid (≥1) → SID
        charset_off = int(top.get(15, [0])[0]) if top.get(15) else 0
        gid_to_sid = {0: 0}
        if charset_off in (1, 2):
            # Expert/ExpertSubset predefined charsets: their SIDs are
            # expert glyphs — resolving them through the ASCII block
            # would be WRONG, not just incomplete → unsupported
            return None
        if charset_off == 0:
            # predefined ISOAdobe charset: identity SIDs 1..n
            for g in range(1, n_glyphs):
                gid_to_sid[g] = g
        else:
            fmt = data[charset_off]
            q = charset_off + 1
            if fmt == 0:
                for g in range(1, n_glyphs):
                    gid_to_sid[g] = struct.unpack_from(">H", data, q)[0]
                    q += 2
            elif fmt in (1, 2):
                g = 1
                step = 3 if fmt == 1 else 4
                while g < n_glyphs:
                    (sid,) = struct.unpack_from(">H", data, q)
                    n_left = (
                        data[q + 2] if fmt == 1
                        else struct.unpack_from(">H", data, q + 2)[0]
                    )
                    for k in range(n_left + 1):
                        if g < n_glyphs:
                            gid_to_sid[g] = sid + k
                            g += 1
                    q += step
            else:
                return None

        # encoding: code → gid
        enc_off = int(top.get(16, [0])[0]) if top.get(16) else 0
        code_to_gid: Dict[int, int] = {}
        if enc_off == 1:
            # predefined Expert encoding: its codes name expert glyphs —
            # the Standard code → SID table would decode WRONG
            # characters, not just miss some → unsupported
            return None
        if enc_off == 0:
            # Standard predefined: code → standard SID → gid via
            # charset inverse (ASCII block only, the load-bearing part)
            sid_to_gid = {s: g for g, s in gid_to_sid.items()}
            for c in range(32, 127):
                g = sid_to_gid.get(c - 31)
                if g:
                    code_to_gid[c] = g
        else:
            fmt = data[enc_off]
            q = enc_off + 1
            if fmt & 0x7F == 0:
                n_codes = data[q]
                q += 1
                for g in range(1, n_codes + 1):
                    code_to_gid[data[q]] = g
                    q += 1
            elif fmt & 0x7F == 1:
                n_ranges = data[q]
                q += 1
                g = 1
                for _ in range(n_ranges):
                    first, n_left = data[q], data[q + 1]
                    q += 2
                    for k in range(n_left + 1):
                        code_to_gid[first + k] = g
                        g += 1
            else:
                return None
            if fmt & 0x80:  # supplements: (code, SID) pairs
                sid_to_gid = {s: g for g, s in gid_to_sid.items()}
                n_sups = data[q]
                q += 1
                for _ in range(n_sups):
                    code = data[q]
                    (sid,) = struct.unpack_from(">H", data, q + 1)
                    g = sid_to_gid.get(sid)
                    if g:
                        code_to_gid[code] = g
                    q += 3

        out: Dict[int, str] = {}
        for code, gid in code_to_gid.items():
            name = _cff_sid_name(gid_to_sid.get(gid, 0), strings)
            uni = glyph_name_to_unicode(name) if name else None
            if uni is not None:
                out[code] = uni
        return out or None
    except (ValueError, IndexError, struct.error):
        return None


@_memoized
def fontfile3_tounicode(data: bytes) -> Optional[Dict[int, str]]:
    """/FontFile3 dispatch: bare CFF (Type1C) or a full OpenType
    wrapper (/Subtype /OpenType carries an sfnt)."""
    if data[:4] in (b"\x00\x01\x00\x00", b"true", b"OTTO", b"ttcf"):
        return truetype_tounicode(data)
    return cff_tounicode(data)


# ----------------------------------------------------------------------
# Type1 — /Encoding vector in the cleartext header
# ----------------------------------------------------------------------
_T1_DUP = re.compile(rb"dup\s+(\d{1,3})\s*/([^\s/{}()\[\]<>]+)\s+put")


@_memoized
def type1_builtin_encoding(data: bytes) -> Optional[Dict[int, str]]:
    """charcode → unicode from a Type1 font program's /Encoding.

    Only the cleartext section (before ``eexec``) is inspected.
    ``/Encoding StandardEncoding def`` yields the standard table;
    custom vectors collect every ``dup <code> /<name> put``.
    """
    try:
        head = data.split(b"eexec", 1)[0]
        enc_at = head.find(b"/Encoding")
        if enc_at < 0:
            return None
        section = head[enc_at : enc_at + 65536]
        if re.match(rb"/Encoding\s+StandardEncoding\s+def", section):
            return dict(BASE_ENCODINGS["StandardEncoding"])
        stop = section.find(b" def")
        if stop > 0:
            section = section[: stop + 4]
        out: Dict[int, str] = {}
        for m in _T1_DUP.finditer(section):
            code = int(m.group(1))
            if code > 255:
                continue
            name = m.group(2).decode("latin-1")
            uni = glyph_name_to_unicode(name)
            if uni is not None:
                out[code] = uni
        return out or None
    except (ValueError, UnicodeDecodeError):
        return None
