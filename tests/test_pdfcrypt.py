"""Encrypted-PDF support (core/pdfcrypt.py) — Standard security handler.

Round-trip direction: ``encrypt_pdf`` (fixture-grade writer) ⊣ the
transparent decryption inside ``parse_real_pdf`` — same writer⊣parser
oracle pattern as pdfwrite⊣pdfreal.  Primitive direction: AES-128 against
the FIPS-197 known-answer vector (public spec test data).
"""

from __future__ import annotations

import numpy as np
import pytest

from pdf_ocr_engine_spark.core.extract_doc import extract_document
from pdf_ocr_engine_spark.core.pdfcrypt import (
    EncryptedPdfError,
    _decrypt_blocks_np,
    _enc_key_words,
    _encrypt_block_fast,
    _expand_key,
    aes_cbc_decrypt,
    aes_cbc_encrypt,
    rc4,
)
from pdf_ocr_engine_spark.encoders.pdf import encrypt_pdf
from pdf_ocr_engine_spark.core.pdfreal import parse_real_pdf
from pdf_ocr_engine_spark.sources.fixtures import (
    expected_text,
    text_to_encrypted_pdf_payload,
    text_to_real_pdf_payload,
)

TEXT = ("confidential words inside the encrypted document lorem ipsum "
        "dolor sit amet adipiscing elit sed do eiusmod tempor")


class TestPrimitives:
    def test_aes128_fips197_vector(self):
        # FIPS-197 Appendix C.1 (public known-answer test)
        key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
        assert _encrypt_block_fast(pt, _enc_key_words(key)) == ct
        blocks = np.frombuffer(ct, dtype=np.uint8).reshape(1, 16)
        assert _decrypt_blocks_np(blocks, _expand_key(key)).tobytes() == pt

    def test_aes_cbc_roundtrip_sizes(self):
        key = bytes(range(16))
        for n in (0, 1, 15, 16, 17, 100):
            data = bytes(range(256))[:n] * 1
            ct = aes_cbc_encrypt(key, b"\x42" * 16, data)
            assert aes_cbc_decrypt(key, ct) == data

    def test_rc4_symmetric(self):
        key = b"Key"
        # public RC4 test vector: "Plaintext" under "Key"
        assert rc4(key, b"Plaintext").hex() == "bbf316e8d940af0ad3"
        assert rc4(key, rc4(key, b"arbitrary data")) == b"arbitrary data"


class TestRoundTrip:
    @pytest.mark.parametrize("scheme", ["rc4-40", "rc4-128", "aes-128",
                                        "rc4-128-cf"])
    def test_extracts_identically(self, scheme):
        plain = text_to_real_pdf_payload(TEXT)
        enc = text_to_encrypted_pdf_payload(TEXT, scheme)
        assert enc != plain
        # ciphertext must not leak the words
        assert b"confidential" not in enc
        r_plain = extract_document(plain, "eng")
        r_enc = extract_document(enc, "eng")
        assert r_enc["status"] == "ok"
        assert r_enc["text"] == r_plain["text"] == expected_text(TEXT.split())
        assert r_enc["n_words"] == r_plain["n_words"]

    @pytest.mark.parametrize("scheme", ["rc4-128", "aes-128"])
    def test_multipage_paginated(self, scheme):
        enc = text_to_encrypted_pdf_payload(" ".join(TEXT.split() * 5),
                                            scheme, 12, 36)
        r = extract_document(enc, "eng")
        assert r["status"] == "ok"
        assert r["n_pages"] == 3

    def test_v4_v2_key_width_only_in_crypt_filter(self):
        # ADVICE r3: V4 /CFM /V2 whose key width is stated ONLY in
        # /CF .../Length (bytes) — no top-level /Length.  A decryptor that
        # falls back to the 40-bit default derives the wrong key, fails /U
        # verification and misroutes the document as status='encrypted'.
        enc = text_to_encrypted_pdf_payload(TEXT, "rc4-128-cf")
        assert b"/CFM /V2" in enc and b"/Length 16" in enc
        # the /Encrypt dict really carries no top-level /Length
        start = enc.rindex(b"/Filter /Standard")
        enc_dict = enc[start:enc.index(b">>", enc.index(
            b">> >>", start) + 5) + 2]
        assert b"/CF <<" in enc_dict
        assert enc_dict.count(b"/Length") == 1  # only the CF one
        r = extract_document(enc, "eng")
        assert r["status"] == "ok"
        assert r["text"] == expected_text(TEXT.split())

    def test_empty_document(self):
        enc = text_to_encrypted_pdf_payload("", "rc4-128")
        r = extract_document(enc, "eng")
        assert r["status"] == "empty"


class TestRefusal:
    def test_nonempty_user_password_is_encrypted_status(self):
        # tamper /U so the empty password no longer verifies — the model of
        # a document with a real user password
        enc = text_to_encrypted_pdf_payload(TEXT, "rc4-128")
        import re

        m = re.search(rb"/U <([0-9a-f]+)>", enc)
        assert m is not None
        bad_u = (b"00" * (len(m.group(1)) // 2))
        tampered = enc[:m.start(1)] + bad_u + enc[m.end(1):]
        r = extract_document(tampered, "eng")
        assert r["status"] == "encrypted"
        assert "password" in r["error"]

    def test_v5_unsupported_is_encrypted_status(self):
        enc = text_to_encrypted_pdf_payload(TEXT, "rc4-128")
        tampered = enc.replace(b"/V 2 /R 3", b"/V 5 /R 6")
        r = extract_document(tampered, "eng")
        assert r["status"] == "encrypted"
        assert "V=5" in r["error"]

    def test_non_standard_filter_is_encrypted_status(self):
        enc = text_to_encrypted_pdf_payload(TEXT, "rc4-128")
        tampered = enc.replace(b"/Filter /Standard", b"/Filter /Custom42")
        r = extract_document(tampered, "eng")
        assert r["status"] == "encrypted"

    def test_encrypted_raises_typed_error_at_parse_level(self):
        enc = text_to_encrypted_pdf_payload(TEXT, "rc4-128")
        tampered = enc.replace(b"/V 2 /R 3", b"/V 5 /R 6")
        with pytest.raises(EncryptedPdfError):
            parse_real_pdf(tampered)

    def test_plain_doc_mentioning_encrypt_unaffected(self):
        # "/Encrypt" appearing as content text must not trigger the handler
        pdf = text_to_real_pdf_payload("the /Encrypt key is a pdf name")
        r = extract_document(pdf, "eng")
        assert r["status"] == "ok"
        assert "/Encrypt" in r["text"]


class TestDeterminism:
    def test_fixture_bytes_stable(self):
        a = encrypt_pdf(text_to_real_pdf_payload(TEXT), "aes-128")
        b = encrypt_pdf(text_to_real_pdf_payload(TEXT), "aes-128")
        assert a == b  # IVs derive from object numbers, not randomness


class TestReviewRegressions:
    def test_unsigned_p_value_decrypts(self):
        """Many real writers store /P unsigned (4294967252 == -44): key
        derivation must fold, not crash into decode_error."""
        enc = text_to_encrypted_pdf_payload(TEXT, "rc4-128")
        unsigned = enc.replace(b"/P -44", b"/P 4294967252")
        assert unsigned != enc
        r = extract_document(unsigned, "eng")
        assert r["status"] == "ok"
        assert r["text"] == expected_text(TEXT.split())

    def test_single_trailer_in_encrypted_output(self):
        """encrypt_pdf must strip the old cleartext xref/trailer — two
        conflicting trailers would let first-trailer readers treat the
        document as unencrypted and show ciphertext."""
        enc = text_to_encrypted_pdf_payload(TEXT, "rc4-128")
        assert enc.count(b"trailer") == 1
        assert enc.count(b"\nstart\n") == 0  # no dangling 'start' token
        import re

        xref_sections = re.findall(rb"(?:^|[\r\n])xref\b", enc)
        assert len(xref_sections) == 1


class TestCompositions:
    def test_encrypted_scanned_pdf_ocr_roundtrip(self):
        """Decryption composes with the OCR tier: an AES-encrypted
        image-only PDF decrypts its image stream, recognizes, and yields
        the exact text."""
        from pdf_ocr_engine_spark.operators.ocr import (
            deterministic_recognizer,
        )
        from pdf_ocr_engine_spark.sources.fixtures import (
            text_to_scanned_pdf_payload,
        )

        enc = encrypt_pdf(
            text_to_scanned_pdf_payload("secret scanned words here"),
            "aes-128")
        r = extract_document(enc, "eng",
                             recognizer=deterministic_recognizer())
        assert r["status"] == "ok"
        assert r["text"] == "secret scanned words here"
        # without a recognizer the (transparently decrypted) image-only
        # page contributes no text — never an error
        r2 = extract_document(enc, "eng")
        assert r2["status"] == "empty"

    def test_encrypted_object_streams(self):
        """Per ISO 32000 §7.6.2, objects inside an ObjStm are protected by
        encrypting the ObjStm STREAM itself — the parser must decrypt the
        container and then read the catalog/pages out of it."""
        import zlib

        inner_objs = [
            (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
            (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
                b"/MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 5 0 R >> >> >>"),
            (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
            (5, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
        ]
        header, body = [], b""
        for num, data in inner_objs:
            header.append(f"{num} {len(body)}".encode())
            body += data + b" "
        head = b" ".join(header) + b" "
        stm = zlib.compress(head + body)
        content = b"BT /F1 12 Tf 72 720 Td (packed) Tj ET"
        buf = bytearray(b"%PDF-1.5\n")
        for num, b_ in (
            (4, b"<< /Length " + str(len(content)).encode()
                + b" >>\nstream\n" + content + b"\nendstream"),
            (6, (f"<< /Type /ObjStm /N {len(inner_objs)} /First "
                 f"{len(head)} /Filter /FlateDecode /Length {len(stm)} "
                 f">>\nstream\n").encode() + stm + b"\nendstream"),
        ):
            buf += f"{num} 0 obj\n".encode() + b_ + b"\nendobj\n"
        buf += b"trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF"
        plain = bytes(buf)
        assert extract_document(plain, "eng")["text"] == "packed"
        for scheme in ("rc4-128", "aes-128"):
            enc = encrypt_pdf(plain, scheme)
            r = extract_document(enc, "eng")
            assert r["status"] == "ok", scheme
            assert r["text"] == "packed", scheme
