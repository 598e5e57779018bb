"""ISO 32000 §7.6 standard security handler — pure stdlib + the repo's
own AES (:mod:`.aes`).

The reference relies on vendored pdf.js for this (its worker decrypts
RC4/AES transparently); crawled corpora routinely contain PDFs that are
"encrypted" with an EMPTY user password (owner-restricted printing
etc.), whose text a crawler should still extract, and callers may hold
the password of a protected document. This implements:

- Algorithm 2 (compute encryption key from the padded password, /O,
  /P, ID[0]; 50×MD5 strengthening for R≥3; /EncryptMetadata=false
  FFFFFFFF suffix for R4),
- opening with a caller-supplied password, empty by default: tried as
  the USER password (Algorithms 4/5; V5: Algorithm 11), then as the
  OWNER password (Algorithm 7, which decrypts /O to the user password;
  V5: Algorithm 12),
- per-object keys (MD5 of key + objnum[3] + gen[2] [+ sAlT for AES],
  §7.6.2),
- V4 crypt filters (/CF /StdCF with /CFM AESV2 or V2),
- V5 R5/R6 AESV3 (SHA-2 family: Algorithm 2.B hardened hash, /UE and
  /OE file-key unwrap with a zero-IV AES-256-CBC).

Out of scope (typed :class:`CryptError` → the extraction stage keeps
its typed ``encrypted`` row): a password that opens the document as
neither user nor owner, per-stream crypt filters / Identity-mixed
StmF/StrF, public-key (PKCS#7) handlers.
RC4 is the textbook KSA+PRGA — fine at these key sizes for DEcryption
of legacy documents (nothing here protects anything new)."""

from __future__ import annotations

import hashlib
import struct
from typing import Optional

__all__ = ["CryptError", "StandardSecurityHandler", "rc4"]

# §7.6.3.3 Algorithm 2 step (a): the 32-byte password padding constant
_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


class CryptError(ValueError):
    def __init__(self, code: str, msg: str):
        super().__init__(msg)
        self.code = code


def rc4(key: bytes, data: bytes) -> bytes:
    """Textbook RC4 (KSA + PRGA)."""
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, byte in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = byte ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _as_bytes(v) -> bytes:
    if isinstance(v, bytes):
        return v
    if isinstance(v, str):
        return v.encode("latin-1")
    raise CryptError("encrypt_dict", f"expected string in /Encrypt, got {type(v).__name__}")


def _hash_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 §7.6.4.3.4 Algorithm 2.B (R6 hardened hash).

    Structure: K = SHA-256(pw+salt+udata); then rounds of
    K1 = (pw+K+udata)×64, E = AES-128-CBC(K[:16], iv=K[16:32], K1),
    K = {SHA-256,SHA-384,SHA-512}[sum(E[:16]) % 3](E); stop after ≥64
    rounds once E[-1] ≤ rounds−32. Fixture synthesis uses this same
    function, so the pytest round trip proves self-consistency (no
    third-party R6 files exist in-sandbox to cross-check against)."""
    from .aes import cbc_encrypt_raw

    k = hashlib.sha256(password + salt + udata).digest()
    rounds = 0
    while True:
        k1 = (password + k + udata) * 64
        e = cbc_encrypt_raw(k[:16], k1, iv=k[16:32])
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        rounds += 1
        if rounds >= 64 and e[-1] <= rounds - 32:
            return k[:32]


class StandardSecurityHandler:
    """Validated handler for one document; raises CryptError('password')
    if ``password`` (default empty) opens the document as neither the
    user nor the owner password.

    Supported envelopes → ``self.cipher``:
    - V1/V2, R2/R3 → ``rc4`` (40..128-bit)
    - V4, R4 with /CF /StdCF /CFM AESV2 → ``aes128`` (/CFM /V2 → rc4)
    - V5, R5/R6 (/CFM AESV3) → ``aes256``
    Anything else (crypt filters per stream, Identity StmF mixed modes)
    raises a typed CryptError."""

    def __init__(self, encrypt: dict, file_id0: bytes, password: bytes = b""):
        filt = str(encrypt.get("Filter", ""))
        if filt != "Standard":
            raise CryptError("filter", f"unsupported security handler {filt!r}")
        v = int(encrypt.get("V", 0))
        r = int(encrypt.get("R", 0))
        self.v, self.r = v, r
        self.id0 = file_id0
        # caller-supplied password (round-5): tried as the USER password
        # first, then as the OWNER password (Algorithm 7 / Algorithm 12)
        self.password = password if isinstance(password, bytes) else str(password).encode("latin-1")
        self.p = int(encrypt.get("P", 0))
        self.encrypt_metadata = bool(encrypt.get("EncryptMetadata", True))

        if v in (1, 2) and r in (2, 3):
            self.cipher = "rc4"
            length_bits = int(encrypt.get("Length", 40)) if v == 2 else 40
            self._init_md5_family(encrypt, length_bits)
        elif v == 4 and r == 4:
            cfm, length_bits = self._parse_cf(encrypt)
            self.cipher = "aes128" if cfm == "AESV2" else "rc4"
            self._init_md5_family(encrypt, length_bits)
        elif v == 5 and r in (5, 6):
            # Mirror the V4 branch's /CF scrutiny: a V5 dict whose crypt
            # filter is not AESV3 (e.g. /CFM /Identity) must raise the
            # typed error, not be "decrypted" into garbage.
            cf = encrypt.get("CF")
            if not isinstance(cf, dict):
                # A V5 dict with /CF absent (or malformed) must not fall
                # through to AES-256 decryption of possibly-Identity content.
                raise CryptError("cf", "V5 requires a /CF dict with /StdCF")
            std = cf.get("StdCF")
            if not isinstance(std, dict):
                raise CryptError("cf", "V5 /CF without a /StdCF crypt filter")
            cfm = str(std.get("CFM", ""))
            if cfm != "AESV3":
                raise CryptError("cf", f"V5 requires /CFM AESV3, got {cfm!r}")
            stmf = str(encrypt.get("StmF", "Identity"))
            strf = str(encrypt.get("StrF", "Identity"))
            if stmf != "StdCF" or strf != "StdCF":
                raise CryptError(
                    "cf",
                    f"only StmF=StrF=StdCF supported (StmF={stmf} StrF={strf})",
                )
            self.cipher = "aes256"
            self._init_aes256(encrypt)
        else:
            raise CryptError(
                "cipher", f"unsupported encryption (V={v} R={r}); "
                "supported: RC4 V1/V2 R2/R3, AESV2 V4 R4, AESV3 V5 R5/R6"
            )

    @staticmethod
    def _parse_cf(encrypt: dict) -> tuple:
        cf = encrypt.get("CF")
        std = cf.get("StdCF") if isinstance(cf, dict) else None
        if not isinstance(std, dict):
            raise CryptError("cf", "V4 without a /CF /StdCF crypt filter")
        stmf, strf = str(encrypt.get("StmF", "Identity")), str(encrypt.get("StrF", "Identity"))
        if stmf != "StdCF" or strf != "StdCF":
            raise CryptError(
                "cf", f"only StmF=StrF=StdCF supported (StmF={stmf} StrF={strf})"
            )
        cfm = str(std.get("CFM", ""))
        if cfm not in ("AESV2", "V2"):
            raise CryptError("cf", f"unsupported /CFM {cfm!r}")
        length = int(std.get("Length", encrypt.get("Length", 128)))
        if length <= 32:  # some writers store bytes, not bits
            length *= 8
        return cfm, length

    # ---------------- RC4 / AESV2 family (MD5-based, R2-R4) ----------
    def _init_md5_family(self, encrypt: dict, length_bits: int) -> None:
        if length_bits % 8 or not (40 <= length_bits <= 128):
            raise CryptError("length", f"bad key length {length_bits}")
        self.n = length_bits // 8
        self.o = _as_bytes(encrypt.get("O"))
        self.u = _as_bytes(encrypt.get("U"))
        if len(self.o) < 32 or len(self.u) < 32:
            raise CryptError("encrypt_dict", "/O and /U must be 32 bytes")
        # try the supplied password as the USER password (Algorithms
        # 4/5), then as the OWNER password (Algorithm 7: the RC4 key
        # derived from it decrypts /O back into the padded user
        # password).  Default b"" preserves the empty-password path.
        self.key = self._compute_key(self.password)
        if self._check_user_password():
            return
        upw = self._owner_to_user_password(self.password)
        self.key = self._compute_key(upw)
        if not self._check_user_password():
            raise CryptError(
                "password",
                "wrong password" if self.password
                else "document requires a non-empty user password",
            )

    # Algorithm 3 steps a-d: the RC4 key derived from the OWNER password
    def _owner_rc4_key(self, owner_password: bytes) -> bytes:
        d = hashlib.md5((owner_password + _PAD)[:32]).digest()
        if self.r >= 3:
            for _ in range(50):
                d = hashlib.md5(d[: self.n]).digest()
        return d[: self.n]

    # Algorithm 7: decrypt /O with the owner key → padded user password
    def _owner_to_user_password(self, owner_password: bytes) -> bytes:
        okey = self._owner_rc4_key(owner_password)
        val = self.o[:32]
        if self.r == 2:
            return rc4(okey, val)
        for i in range(19, -1, -1):
            val = rc4(bytes(b ^ i for b in okey), val)
        return val

    # Algorithm 2
    def _compute_key(self, password: bytes) -> bytes:
        padded = (password + _PAD)[:32]
        md = hashlib.md5()
        md.update(padded)
        md.update(self.o[:32])
        md.update(struct.pack("<i", self.p if self.p < 2**31 else self.p - 2**32))
        md.update(self.id0)
        if self.r >= 4 and not self.encrypt_metadata:
            md.update(b"\xff\xff\xff\xff")
        digest = md.digest()
        if self.r >= 3:
            for _ in range(50):
                digest = hashlib.md5(digest[: self.n]).digest()
        return digest[: self.n]

    # Algorithms 4 (R2) / 5 (R3-R4)
    def _check_user_password(self) -> bool:
        if self.r == 2:
            return rc4(self.key, _PAD) == self.u[:32]
        md = hashlib.md5()
        md.update(_PAD)
        md.update(self.id0)
        val = rc4(self.key, md.digest())
        for i in range(1, 20):
            step_key = bytes(b ^ i for b in self.key)
            val = rc4(step_key, val)
        return val == self.u[:16]

    # ---------------- AES-256 family (SHA-2 based, R5/R6) ------------
    def _init_aes256(self, encrypt: dict) -> None:
        from .aes import cbc_decrypt_raw

        self.n = 32
        u = _as_bytes(encrypt.get("U"))
        ue = _as_bytes(encrypt.get("UE"))
        if len(u) < 48 or len(ue) < 32:
            raise CryptError("encrypt_dict", "/U must be 48 and /UE 32 bytes for V5")
        self.u, self.o = u[:48], _as_bytes(encrypt.get("O", b""))
        # ISO 32000-2 truncates the UTF-8 password to 127 bytes
        pw = self.password[:127]
        vsalt, ksalt = u[32:40], u[40:48]

        def h(p: bytes, salt: bytes, udata: bytes) -> bytes:
            if self.r == 6:
                return _hash_2b(p, salt, udata)
            # R5 (deprecated Adobe extension): plain SHA-256
            return hashlib.sha256(p + salt + udata).digest()

        # Algorithm 11: user password check
        if h(pw, vsalt, b"") == u[:32]:
            inter = h(pw, ksalt, b"")
            self.key = cbc_decrypt_raw(inter, ue[:32])
            return
        # Algorithm 12: owner password check (hashes include /U[0:48])
        oe = _as_bytes(encrypt.get("OE", b""))
        if len(self.o) >= 48 and len(oe) >= 32:
            ovs, oks = self.o[32:40], self.o[40:48]
            if h(pw, ovs, self.u) == self.o[:32]:
                inter = h(pw, oks, self.u)
                self.key = cbc_decrypt_raw(inter, oe[:32])
                return
        raise CryptError(
            "password",
            "wrong password" if pw
            else "document requires a non-empty user password",
        )

    # §7.6.2 Algorithm 1: per-object key
    def object_key(self, num: int, gen: int) -> bytes:
        if self.cipher == "aes256":
            return self.key  # AESV3: the file key is used directly
        md = hashlib.md5()
        md.update(self.key)
        md.update(struct.pack("<I", num & 0xFFFFFF)[:3])
        md.update(struct.pack("<I", gen & 0xFFFF)[:2])
        if self.cipher == "aes128":
            md.update(b"sAlT")  # §7.6.2 AES salt constant
        return md.digest()[: min(self.n + 5, 16)]

    def decrypt(self, num: int, gen: int, data: bytes) -> bytes:
        if not data:
            return b""
        if self.cipher == "rc4":
            return rc4(self.object_key(num, gen), data)
        from .aes import AesError, cbc_decrypt

        try:
            return cbc_decrypt(self.object_key(num, gen), data)
        except AesError as e:
            raise CryptError("aes_data", str(e)) from None

    def encrypt_bytes(self, num: int, gen: int, data: bytes) -> bytes:
        """Fixture synthesis only. AES IVs are derived deterministically
        from (num, gen, content) so builds are reproducible."""
        if not data:
            return b""
        key = self.object_key(num, gen)
        if self.cipher == "rc4":
            return rc4(key, data)
        from .aes import cbc_encrypt

        iv = hashlib.md5(
            b"fixture-iv" + struct.pack("<II", num, gen) + hashlib.md5(data).digest()
        ).digest()
        return cbc_encrypt(key, data, iv)

    # back-compat alias (pdfgen round-2 used handler.encrypt for RC4)
    encrypt = encrypt_bytes


def build_handler(encrypt: dict, file_id, password: bytes = b"") -> Optional[StandardSecurityHandler]:
    """Encrypt dict + trailer /ID → handler (CryptError on anything
    outside the supported envelope or when neither the user nor the
    owner interpretation of ``password`` opens the document)."""
    id0 = b""
    if isinstance(file_id, list) and file_id:
        first = file_id[0]
        if isinstance(first, (bytes, str)):
            id0 = _as_bytes(first)
    return StandardSecurityHandler(encrypt, id0, password=password)


# ----------------------------------------------------------------------
# fixture synthesis (tests only — nothing here protects anything)
# ----------------------------------------------------------------------
def make_encrypt_params(r: int, length_bits: int, id0: bytes, p: int = -44,
                        user_pw: bytes = b"", owner_pw: Optional[bytes] = None):
    """(O, U, file_key) for the given passwords (both default EMPTY) —
    used by the test PDF generator to synthesize standard-handler
    documents.  Per Algorithm 3, an absent owner password falls back to
    the user password.

    O is Algorithm 3, U Algorithms 4/5, file_key Algorithm 2 — the same
    public ISO 32000-1 algorithms the decoder implements (a shared
    key-derivation bug would cancel in the round trip; the tests
    therefore also assert ciphertext != plaintext and byte-identical
    text vs generator goldens computed without this module)."""
    n = length_bits // 8
    if owner_pw is None:
        owner_pw = user_pw
    # Algorithm 3: /O = RC4 chain (owner-derived key) over the PADDED
    # USER password
    d = hashlib.md5((owner_pw + _PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            d = hashlib.md5(d[:n]).digest()
    okey = d[:n]
    o = rc4(okey, (user_pw + _PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in okey), o)
    # Algorithm 2: file key from the user password + /O + /P + ID
    md = hashlib.md5()
    md.update((user_pw + _PAD)[:32])
    md.update(o)
    md.update(struct.pack("<i", p))
    md.update(id0)
    key = md.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    key = key[:n]
    # Algorithms 4/5: /U
    if r == 2:
        u = rc4(key, _PAD)
    else:
        val = rc4(key, hashlib.md5(_PAD + id0).digest())
        for i in range(1, 20):
            val = rc4(bytes(b ^ i for b in key), val)
        u = val + b"\x00" * 16
    return o, u, key


def make_encrypt_params_v5(r: int = 6, user_pw: bytes = b"", owner_pw: bytes = b""):
    """(O, OE, U, UE, file_key) for the given passwords (default EMPTY),
    V5 AESV3 (ISO 32000-2 §7.6.4.4.6 Algorithm 8/9 with deterministic
    salts — fixture synthesis only)."""
    from .aes import cbc_encrypt_raw

    file_key = hashlib.sha256(b"pdfgen-aes256-file-key").digest()
    vsalt, ksalt = b"VSALT_u1", b"KSALT_u1"
    if r == 6:
        uhash = _hash_2b(user_pw, vsalt, b"")
        inter_u = _hash_2b(user_pw, ksalt, b"")
    else:
        uhash = hashlib.sha256(user_pw + vsalt).digest()
        inter_u = hashlib.sha256(user_pw + ksalt).digest()
    u = uhash + vsalt + ksalt
    ue = cbc_encrypt_raw(inter_u, file_key)
    ovs, oks = b"OVSALTo1", b"OKSALTo1"
    if r == 6:
        ohash = _hash_2b(owner_pw, ovs, u)
        inter_o = _hash_2b(owner_pw, oks, u)
    else:
        ohash = hashlib.sha256(owner_pw + ovs + u).digest()
        inter_o = hashlib.sha256(owner_pw + oks + u).digest()
    o = ohash + ovs + oks
    oe = cbc_encrypt_raw(inter_o, file_key)
    return o, oe, u, ue, file_key
