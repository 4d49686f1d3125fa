"""ECMA-376 encrypted-OOXML decryption (attic/operators/ooxml_crypto.py).

Fixtures: plain docx/xlsx zips from the office_text test builders,
wrapped by INDEPENDENT test-side implementations of both published
schemes (the Standard §2.3.4.7 SHA1 KDF + AES-ECB package, and the
Agile §2.3.4.11-15 hash-agnostic KDF + segmented AES-CBC), stored in a
real CFB container from the production writer. The AES primitive is the
module's own — pinned independently by FIPS-197 vectors in
tests/test_aes.py — and the block-key constants / 0x36-0x5C expansion
are shared spec material (disclosed in the module docstring); all
derivation logic around them is transcribed twice. Extraction must
equal the plain twin byte for byte.
"""

from __future__ import annotations

import hashlib
import struct

import pytest

from attic.operators.aes import (
    aes_cbc_encrypt,
    aes_encrypt_block,
)
from attic.operators.cfb import write_cfb
from attic.operators.doc_text import doc_meta, doc_to_text
from attic.operators.office_text import (
    docx_to_text,
    xlsx_to_text,
)
from attic.operators.ooxml_crypto import decrypt_ooxml
from tests.test_office_text import _docx, _xlsx

_PW = "VelvetSweatshop"


def _ecb_encrypt(key: bytes, data: bytes) -> bytes:
    return b"".join(
        aes_encrypt_block(key, data[i : i + 16])
        for i in range(0, len(data), 16)
    )


# ------------------------------------------------------------- standard


def _t_std_key(password: str, salt: bytes, keybytes: int) -> bytes:
    h = hashlib.sha1(salt + password.encode("utf-16-le")).digest()
    for i in range(50_000):
        h = hashlib.sha1(struct.pack("<I", i) + h).digest()
    hfinal = hashlib.sha1(h + struct.pack("<I", 0)).digest()
    pad = hfinal + b"\x00" * (64 - len(hfinal))
    x1 = hashlib.sha1(bytes(b ^ 0x36 for b in pad)).digest()
    x2 = hashlib.sha1(bytes(b ^ 0x5C for b in pad)).digest()
    return (x1 + x2)[:keybytes]


def _wrap_standard(zip_bytes: bytes, password: str = _PW,
                   alg_id: int = 0x660E) -> bytes:
    keybytes = {0x660E: 16, 0x660F: 24, 0x6610: 32}.get(alg_id, 16)
    salt = bytes(range(16))
    verifier = b"0123456789abcdef"
    key = _t_std_key(password, salt, keybytes)
    ev = _ecb_encrypt(key, verifier)
    vhash = hashlib.sha1(verifier).digest() + b"\x00" * 12  # pad to 32
    evh = _ecb_encrypt(key, vhash)
    csp = "Microsoft Enhanced RSA and AES Cryptographic Provider\x00" \
        .encode("utf-16-le")
    hdr = struct.pack("<IIIIIIII", 0x24, 0, alg_id, 0x8004,
                      keybytes * 8, 0x18, 0, 0) + csp
    ver = (struct.pack("<I", 16) + salt + ev
           + struct.pack("<I", 20) + evh)
    info = struct.pack("<HHI", 4, 2, 0x24) \
        + struct.pack("<I", len(hdr)) + hdr + ver
    pad = (-len(zip_bytes)) % 16
    enc = _ecb_encrypt(key, zip_bytes + bytes(pad))
    package = struct.pack("<Q", len(zip_bytes)) + enc
    return write_cfb({"EncryptionInfo": info, "EncryptedPackage": package})


# ---------------------------------------------------------------- agile


def _t_agile_key(hash_fn, pw: str, salt: bytes, spin: int, block: bytes,
                 keybytes: int) -> bytes:
    h = hash_fn(salt + pw.encode("utf-16-le")).digest()
    for i in range(spin):
        h = hash_fn(struct.pack("<I", i) + h).digest()
    h = hash_fn(h + block).digest()
    if len(h) < keybytes:
        h += b"\x36" * (keybytes - len(h))
    return h[:keybytes]


def _t_iv(hash_fn, salt: bytes, block: bytes | None) -> bytes:
    iv = salt if block is None else hash_fn(salt + block).digest()
    if len(iv) < 16:
        iv += b"\x36" * (16 - len(iv))
    return iv[:16]


def _wrap_agile(zip_bytes: bytes, password: str = _PW,
                hash_name: str = "SHA512", keybits: int = 256,
                spin: int = 1000, chaining: str = "ChainingModeCBC") -> bytes:
    import base64

    hash_fn = {"SHA1": hashlib.sha1, "SHA256": hashlib.sha256,
               "SHA384": hashlib.sha384, "SHA512": hashlib.sha512}[hash_name]
    kb = keybits // 8
    pk_salt, kd_salt = bytes(range(16)), bytes(range(16, 32))
    file_key = hashlib.sha256(b"agile fixture key").digest()[:kb]
    verifier = b"fedcba9876543210"

    def pw_encrypt(block_const: bytes, data: bytes) -> bytes:
        key = _t_agile_key(hash_fn, password, pk_salt, spin,
                           block_const, kb)
        return aes_cbc_encrypt(key, _t_iv(hash_fn, pk_salt, None), data)

    vhash = hash_fn(verifier).digest()
    vhash += bytes((-len(vhash)) % 16)
    ev_input = pw_encrypt(bytes.fromhex("fea7d2763b4b9e79"), verifier)
    ev_value = pw_encrypt(bytes.fromhex("d7aa0f6d3061344e"), vhash)
    ekey = pw_encrypt(bytes.fromhex("146e0be7abacd0d6"),
                      file_key + bytes((-kb) % 16))
    b64 = lambda b: base64.b64encode(b).decode()  # noqa: E731
    xml = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<encryption xmlns="http://schemas.microsoft.com/office/2006/encryption"
 xmlns:p="http://schemas.microsoft.com/office/2006/keyEncryptor/password">
<keyData saltSize="16" blockSize="16" keyBits="{keybits}" hashSize="64"
 cipherAlgorithm="AES" cipherChaining="{chaining}"
 hashAlgorithm="{hash_name}" saltValue="{b64(kd_salt)}"/>
<keyEncryptors><keyEncryptor
 uri="http://schemas.microsoft.com/office/2006/keyEncryptor/password">
<p:encryptedKey spinCount="{spin}" saltSize="16" blockSize="16"
 keyBits="{keybits}" hashSize="64" cipherAlgorithm="AES"
 cipherChaining="{chaining}" hashAlgorithm="{hash_name}"
 saltValue="{b64(pk_salt)}"
 encryptedVerifierHashInput="{b64(ev_input)}"
 encryptedVerifierHashValue="{b64(ev_value)}"
 encryptedKeyValue="{b64(ekey)}"/>
</keyEncryptor></keyEncryptors></encryption>"""
    info = struct.pack("<HHI", 4, 4, 0x40) + xml.encode()
    out = bytearray(struct.pack("<Q", len(zip_bytes)))
    for seg in range(0, len(zip_bytes), 4096):
        chunk = zip_bytes[seg : seg + 4096]
        chunk += bytes((-len(chunk)) % 16)
        iv = _t_iv(hash_fn, kd_salt, struct.pack("<I", seg // 4096))
        out += aes_cbc_encrypt(file_key, iv, chunk)
    return write_cfb({"EncryptionInfo": info,
                      "EncryptedPackage": bytes(out)})


# ------------------------------------------------------------------ tests

_DOCX_XML = (
    "<w:p><w:r><w:t>Encrypted but readable paragraph.</w:t></w:r></w:p>"
)


@pytest.mark.parametrize("alg_id", [0x660E, 0x6610])
def test_standard_encryption_decrypts(alg_id):
    plain = _docx(_DOCX_XML)
    enc = _wrap_standard(plain, alg_id=alg_id)
    assert decrypt_ooxml(enc, "t") == plain
    # end to end through the census dispatcher
    assert doc_to_text(enc, "t") == docx_to_text(plain, "t")
    m = doc_meta(enc, "t")
    assert (m["subformat"], m["inner"]) == ("ooxml-enc", "docx")
    assert m["n_chars"] == len(docx_to_text(plain, "t"))


@pytest.mark.parametrize(
    "hash_name,keybits",
    [("SHA1", 128), ("SHA384", 256), ("SHA512", 128), ("SHA512", 256)],
)
def test_agile_encryption_decrypts(hash_name, keybits):
    plain = _xlsx([("Hoja", [[("s", 0), ("n", "42")]])], shared=["agiles"])
    enc = _wrap_agile(plain, hash_name=hash_name, keybits=keybits)
    assert decrypt_ooxml(enc, "t") == plain
    assert doc_to_text(enc, "t") == xlsx_to_text(plain, "t")
    assert doc_meta(enc, "t")["inner"] == "xlsx"


def test_agile_multi_segment_package():
    """> 4096-byte packages cross the per-segment IV re-derivation."""
    # incompressible member text so the zip itself crosses 2 segments
    big = _docx("".join(
        f"<w:p><w:r><w:t>{hashlib.sha512(bytes([i])).hexdigest()}"
        "</w:t></w:r></w:p>"
        for i in range(120)
    ))
    assert len(big) > 8192
    assert decrypt_ooxml(_wrap_agile(big), "t") == big


def test_wrong_password_refuses_by_name():
    plain = _docx(_DOCX_XML)
    with pytest.raises(NotImplementedError, match="VelvetSweatshop"):
        decrypt_ooxml(_wrap_standard(plain, password="hunter2"), "t")
    with pytest.raises(NotImplementedError, match="VelvetSweatshop"):
        decrypt_ooxml(_wrap_agile(plain, password="hunter2"), "t")


def test_refusals_and_corruption_by_name():
    plain = _docx(_DOCX_XML)
    # extensible version
    enc = _wrap_standard(plain)
    from attic.operators.cfb import parse_cfb

    cfb = parse_cfb(enc, "t")
    info = cfb.read_stream("EncryptionInfo")
    pkg = cfb.read_stream("EncryptedPackage")
    bad = write_cfb({
        "EncryptionInfo": struct.pack("<HH", 3, 3) + info[4:],
        "EncryptedPackage": pkg,
    })
    with pytest.raises(NotImplementedError, match="extensible"):
        decrypt_ooxml(bad, "t")
    # non-CBC agile chaining
    with pytest.raises(NotImplementedError, match="ChainingModeCFB"):
        decrypt_ooxml(
            _wrap_agile(plain, chaining="ChainingModeCFB"), "t"
        )
    # size prefix past the ciphertext
    short = write_cfb({
        "EncryptionInfo": info,
        "EncryptedPackage": struct.pack("<Q", 10 ** 9) + pkg[8:],
    })
    with pytest.raises(ValueError, match="declares"):
        decrypt_ooxml(short, "t")


def test_census_routes_encrypted_ooxml():
    from attic.operators.media_census import classify_media

    row = classify_media(_wrap_standard(_docx(_DOCX_XML)), "t")
    assert (row["family"], row["format"]) == ("document", "ooxml-enc")
    assert "docx" in row["detail"] and "chars" in row["detail"]


def test_doctype_guard_covers_whole_descriptor():
    """r16 review: a prefix-window DOCTYPE scan is routable-around with
    prolog comments — the shared office guard scans the whole document."""
    plain = _docx(_DOCX_XML)
    enc = _wrap_agile(plain)
    from attic.operators.cfb import parse_cfb

    cfb = parse_cfb(enc, "t")
    info = cfb.read_stream("EncryptionInfo")
    pad = b"<!-- " + b"x" * 300 + b" -->"
    evil = info[:8] + pad + b"<!DOCTYPE r [<!ENTITY a 'b'>]>" + info[8:]
    bad = write_cfb({
        "EncryptionInfo": evil,
        "EncryptedPackage": cfb.read_stream("EncryptedPackage"),
    })
    with pytest.raises(ValueError, match="DOCTYPE"):
        decrypt_ooxml(bad, "t")


def test_agile_missing_attribute_is_valueerror():
    """r16 review: malformed descriptors must refuse as ValueError (the
    census fold), never KeyError."""
    plain = _docx(_DOCX_XML)
    enc = _wrap_agile(plain)
    from attic.operators.cfb import parse_cfb

    cfb = parse_cfb(enc, "t")
    info = cfb.read_stream("EncryptionInfo")
    # drop the required encryptedKeyValue attribute (keep length-free:
    # XML is parsed, not offset-addressed)
    import re

    evil = re.sub(rb'encryptedKeyValue="[^"]*"', b"", info, count=1)
    assert evil != info
    bad = write_cfb({
        "EncryptionInfo": evil,
        "EncryptedPackage": cfb.read_stream("EncryptedPackage"),
    })
    with pytest.raises(ValueError, match="encryptedKeyValue"):
        decrypt_ooxml(bad, "t")
