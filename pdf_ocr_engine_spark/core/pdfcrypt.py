"""Standard-security-handler PDF encryption (ISO 32000-1 §7.6) in stdlib.

Encrypted PDFs are routine in web crawls — most carry only an *owner*
password (printing/copy restrictions) with an **empty user password**, so
the file is fully readable once the standard key derivation runs.  The
reference gets this from pdf.js before ``getTextContent()``; before this
module such documents landed in ``status='decode_error'`` with no signal
why.  Scope (all from the public spec):

* **Detect**: ``/Encrypt`` in a trailer (classic or XRef-stream).
* **Decrypt** (empty user password): RC4 V1 (40-bit) / V2 (≤128-bit) and
  AES-128-CBC (V4 ``/CFM /AESV2``), with the R2/R3/R4 key-derivation and
  user-password verification algorithms.  RC4 and AES-128 are implemented
  here from their public specifications (RC4 is ~15 lines; AES per
  FIPS-197) because neither ships in the Python stdlib.
* **Refuse loudly**: wrong password, V5/R6 (AES-256), or a non-Standard
  filter raise :class:`EncryptedPdfError` → ``status='encrypted'`` —
  distinct from corrupt, so a crawl can count/route them.
* **Encrypt** (fixture-grade): ``encoders.pdf.encrypt_pdf`` re-writes a
  classic PDF produced by this repo's writers with encrypted streams +
  the ``/Encrypt`` dictionary, from the key derivation and ciphers here,
  so the decryptor has a round-trip oracle the same way
  ``pdfwrite ⊣ pdfreal`` oracle each other.

Strings outside streams are NOT decrypted (extraction reads names,
numbers, and streams only — content text lives inside encrypted content
streams, which are handled); a metadata-reading caller would need to add
Algorithm-1 string decryption at the parse sites.
"""

from __future__ import annotations

import hashlib
import struct

__all__ = [
    "EncryptedPdfError",
    "StandardDecryptor",
    "rc4",
]


class EncryptedPdfError(ValueError):
    """Document is encrypted and cannot be decrypted with an empty user
    password (or uses an unsupported scheme) — mapped to
    ``status='encrypted'`` upstream (errors are values)."""


#: the 32-byte password pad, ISO 32000-1 Table 21 / §7.6.3.3
_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (public design; encrypt == decrypt)."""
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# --------------------------------------------------------------------------
# AES-128 (FIPS-197) — only what CBC needs; no stdlib AES exists.
# --------------------------------------------------------------------------

_SBOX = bytes.fromhex(
    "637c777bf26b6fc53001672bfed7ab76ca82c97dfa5947f0add4a2af9ca472c0"
    "b7fd9326363ff7cc34a5e5f171d8311504c723c31896059a071280e2eb27b275"
    "09832c1a1b6e5aa0523bd6b329e32f8453d100ed20fcb15b6acbbe394a4c58cf"
    "d0efaafb434d338545f9027f503c9fa851a3408f929d38f5bcb6da2110fff3d2"
    "cd0c13ec5f974417c4a77e3d645d197360814fdc222a908846eeb814de5e0bdb"
    "e0323a0a4906245cc2d3ac629195e479e7c8376d8dd54ea96c56f4ea657aae08"
    "ba78252e1ca6b4c6e8dd741f4bbd8b8a703eb5664803f60e613557b986c11d9e"
    "e1f8981169d98e949b1e87e9ce5528df8ca1890dbfe6426841992d0fb054bb16")
_INV_SBOX = bytes(256)
_inv = bytearray(256)
for _i, _v in enumerate(_SBOX):
    _inv[_v] = _i
_INV_SBOX = bytes(_inv)
del _inv, _i, _v

_RCON = (0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36)


def _xtime(a: int) -> int:
    a <<= 1
    return (a ^ 0x1B) & 0xFF if a & 0x100 else a


def _mul(a: int, b: int) -> int:
    out = 0
    while b:
        if b & 1:
            out ^= a
        a = _xtime(a)
        b >>= 1
    return out


def _expand_key(key: bytes) -> list[bytes]:
    words = [key[i:i + 4] for i in range(0, 16, 4)]
    for i in range(4, 44):
        t = words[i - 1]
        if i % 4 == 0:
            t = bytes(_SBOX[b] for b in t[1:] + t[:1])
            t = bytes([t[0] ^ _RCON[i // 4 - 1], t[1], t[2], t[3]])
        words.append(bytes(a ^ b for a, b in zip(words[i - 4], t)))
    return [b"".join(words[4 * r:4 * r + 4]) for r in range(11)]


# ---- cipher --------------------------------------------------------------
# Both directions are the standard public speed constructions over the
# tables above (the FIPS-197 known-answer test pins each):
# * encryption: 32-bit T-tables (ShiftRows+SubBytes+MixColumns folded into
#   four 256-entry word tables) — CBC encryption is inherently sequential
#   per block, so the per-block constant is what matters;
# * decryption: CBC decryption is parallel across blocks (P_i = D(C_i) ^
#   C_{i-1}), so the inverse cipher runs numpy-vectorized over ALL blocks
#   of a stream at once — the production (crawl-reading) direction.

def _make_te() -> tuple[list[int], ...]:
    te0 = []
    for x in range(256):
        s = _SBOX[x]
        te0.append(((_mul(s, 2) << 24) | (s << 16) | (s << 8)
                    | _mul(s, 3)) & 0xFFFFFFFF)
    ror = lambda t: ((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF  # noqa: E731
    te1 = [ror(t) for t in te0]
    te2 = [ror(t) for t in te1]
    te3 = [ror(t) for t in te2]
    return te0, te1, te2, te3


_TE0, _TE1, _TE2, _TE3 = _make_te()


def _enc_key_words(key: bytes) -> list[int]:
    return [int.from_bytes(rk[i:i + 4], "big")
            for rk in _expand_key(key) for i in range(0, 16, 4)]


def _encrypt_block_fast(block: bytes, kw: list[int]) -> bytes:
    s0, s1, s2, s3 = (int.from_bytes(block[i:i + 4], "big")
                      for i in range(0, 16, 4))
    s0 ^= kw[0]; s1 ^= kw[1]; s2 ^= kw[2]; s3 ^= kw[3]  # noqa: E702
    for r in range(1, 10):
        k = 4 * r
        t0 = (_TE0[s0 >> 24] ^ _TE1[(s1 >> 16) & 255]
              ^ _TE2[(s2 >> 8) & 255] ^ _TE3[s3 & 255] ^ kw[k])
        t1 = (_TE0[s1 >> 24] ^ _TE1[(s2 >> 16) & 255]
              ^ _TE2[(s3 >> 8) & 255] ^ _TE3[s0 & 255] ^ kw[k + 1])
        t2 = (_TE0[s2 >> 24] ^ _TE1[(s3 >> 16) & 255]
              ^ _TE2[(s0 >> 8) & 255] ^ _TE3[s1 & 255] ^ kw[k + 2])
        t3 = (_TE0[s3 >> 24] ^ _TE1[(s0 >> 16) & 255]
              ^ _TE2[(s1 >> 8) & 255] ^ _TE3[s2 & 255] ^ kw[k + 3])
        s0, s1, s2, s3 = t0, t1, t2, t3
    sb = _SBOX
    out = bytearray(16)
    for i, (a, b, c, d) in enumerate(((s0, s1, s2, s3), (s1, s2, s3, s0),
                                      (s2, s3, s0, s1), (s3, s0, s1, s2))):
        w = ((sb[a >> 24] << 24) | (sb[(b >> 16) & 255] << 16)
             | (sb[(c >> 8) & 255] << 8) | sb[d & 255]) ^ kw[40 + i]
        out[4 * i:4 * i + 4] = w.to_bytes(4, "big")
    return bytes(out)


_NP_DEC = None  # lazily-built numpy tables for the batch inverse cipher


def _np_tables():
    global _NP_DEC
    if _NP_DEC is None:
        import numpy as np

        inv_sbox = np.frombuffer(_INV_SBOX, dtype=np.uint8)
        muls = {k: np.array([_mul(x, k) for x in range(256)], dtype=np.uint8)
                for k in (9, 11, 13, 14)}
        inv_shift = np.array([0, 13, 10, 7, 4, 1, 14, 11,
                              8, 5, 2, 15, 12, 9, 6, 3])
        _NP_DEC = (np, inv_sbox, muls, inv_shift)
    return _NP_DEC


def _decrypt_blocks_np(blocks, round_keys: list[bytes]):
    """Inverse cipher over an (N, 16) uint8 array — all blocks at once."""
    np, inv_sbox, muls, inv_shift = _np_tables()
    rks = [np.frombuffer(rk, dtype=np.uint8) for rk in round_keys]
    s = blocks ^ rks[10]
    for rnd in range(9, -1, -1):
        s = s[:, inv_shift]
        s = inv_sbox[s]
        s ^= rks[rnd]
        if rnd > 0:
            a = s.reshape(-1, 4, 4)
            a0, a1 = a[:, :, 0], a[:, :, 1]
            a2, a3 = a[:, :, 2], a[:, :, 3]
            out = np.empty_like(a)
            out[:, :, 0] = muls[14][a0] ^ muls[11][a1] \
                ^ muls[13][a2] ^ muls[9][a3]
            out[:, :, 1] = muls[9][a0] ^ muls[14][a1] \
                ^ muls[11][a2] ^ muls[13][a3]
            out[:, :, 2] = muls[13][a0] ^ muls[9][a1] \
                ^ muls[14][a2] ^ muls[11][a3]
            out[:, :, 3] = muls[11][a0] ^ muls[13][a1] \
                ^ muls[9][a2] ^ muls[14][a3]
            s = out.reshape(-1, 16)
    return s


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PDF AESV2 stream layout: 16-byte IV prefix, PKCS#7 padding.
    Vectorized: the whole stream's blocks decrypt in one numpy pass."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("AES stream not block-aligned")
    import numpy as np

    all_blocks = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16)
    plain = _decrypt_blocks_np(all_blocks[1:].copy(), _expand_key(key))
    plain ^= all_blocks[:-1]  # CBC chain: previous ciphertext (IV first)
    out = plain.tobytes()
    pad = out[-1]
    if not 1 <= pad <= 16:
        raise ValueError("bad AES padding")
    return out[:-pad]


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    kw = _enc_key_words(key)
    pad = 16 - (len(data) % 16)
    data += bytes([pad]) * pad
    out = bytearray(iv)
    prev = iv
    for off in range(0, len(data), 16):
        block = bytes(a ^ b for a, b in zip(data[off:off + 16], prev))
        prev = _encrypt_block_fast(block, kw)
        out += prev
    return bytes(out)


# --------------------------------------------------------------------------
# Standard security handler
# --------------------------------------------------------------------------

def _compute_key(o: bytes, p: int, id0: bytes, r: int, length_bits: int,
                 encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2 (empty user password): file encryption key."""
    n = max(length_bits // 8, 5)
    # /P is a signed 32-bit value but many real-world writers store it
    # unsigned (e.g. 4294967252 for -44) — fold before packing, else
    # struct.error turns a decryptable document into decode_error
    p32 = p & 0xFFFFFFFF
    buf = _PAD + o[:32] + struct.pack("<I", p32) + id0
    if r >= 4 and not encrypt_metadata:
        buf += b"\xff\xff\xff\xff"
    h = hashlib.md5(buf).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    return h[:n]


def _compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R≥3): the /U verification value."""
    if r == 2:
        return rc4(key, _PAD)
    h = hashlib.md5(_PAD + id0).digest()
    x = rc4(key, h)
    for i in range(1, 20):
        x = rc4(bytes(b ^ i for b in key), x)
    return x + b"\x00" * 16  # 32 bytes on file; only first 16 compared


class StandardDecryptor:
    """Per-object decryption for an empty-user-password Standard-handler
    document.  Raises :class:`EncryptedPdfError` from the constructor when
    the scheme is unsupported or the empty password does not verify."""

    def __init__(self, enc: dict, id0: bytes) -> None:
        filt = str(enc.get("Filter", ""))
        if filt != "Standard":
            raise EncryptedPdfError(f"unsupported security handler: {filt}")
        v = int(enc.get("V", 0) or 0)
        r = int(enc.get("R", 2) or 2)
        if v not in (1, 2, 4) or r not in (2, 3, 4):
            raise EncryptedPdfError(
                f"unsupported encryption V={v} R={r} (V5/AES-256 not "
                f"implemented)")
        length_bits = int(enc.get("Length", 40) or 40)
        if v == 1:
            length_bits = 40
        o = enc.get("O")
        u = enc.get("U")
        p = int(enc.get("P", -1) or -1)
        if not isinstance(o, bytes) or not isinstance(u, bytes):
            raise EncryptedPdfError("malformed /Encrypt dictionary")
        em = enc.get("EncryptMetadata")
        encrypt_metadata = True if em is None else bool(em)
        self.aes = False
        if v == 4:
            # stream filter: /StmF names a crypt filter in /CF
            cf = enc.get("CF") or {}
            stmf = str(enc.get("StmF", "StdCF") or "StdCF")
            cfd = cf.get(stmf) if isinstance(cf, dict) else None
            cfm = str(cfd.get("CFM", "")) if isinstance(cfd, dict) else ""
            if cfm == "AESV2":
                self.aes = True
                length_bits = 128
            elif cfm == "V2":
                self.aes = False
                # ISO 32000 §7.6.5: a V4 crypt filter carries its own
                # /Length (in BYTES, per the spec's table; Acrobat also
                # emits bits — accept both).  A document that states the
                # key width only in /CF .../Length would otherwise derive
                # a wrong-width key from the top-level default (40) and be
                # refused as status='encrypted' despite being decryptable.
                if isinstance(cfd, dict) and cfd.get("Length") is not None:
                    try:
                        cl = int(cfd["Length"])
                        length_bits = cl * 8 if cl <= 40 else cl
                    except (TypeError, ValueError):
                        pass
            elif cfm == "Identity":
                self.identity = True
            else:
                raise EncryptedPdfError(f"unsupported crypt filter: {cfm}")
        self.key = _compute_key(o, p, id0, r, length_bits, encrypt_metadata)
        expect_u = _compute_u(self.key, id0, r)
        got = u[:16] if r >= 3 else u[:32]
        want = expect_u[:16] if r >= 3 else expect_u[:32]
        if got != want:
            raise EncryptedPdfError(
                "encrypted PDF: user password required (empty password "
                "does not verify)")

    def object_key(self, num: int, gen: int) -> bytes:
        """Algorithm 1: per-object key."""
        buf = (self.key + num.to_bytes(4, "little")[:3]
               + gen.to_bytes(4, "little")[:2])
        if self.aes:
            buf += b"sAlT"
        return hashlib.md5(buf).digest()[:min(len(self.key) + 5, 16)]

    def decrypt(self, num: int, gen: int, data: bytes) -> bytes:
        if getattr(self, "identity", False):
            return data
        k = self.object_key(num, gen)
        if self.aes:
            return aes_cbc_decrypt(k, data)
        return rc4(k, data)
