"""ECMA-376 / MS-OFFCRYPTO encrypted-OOXML decryption — the CFB wrapper
(``EncryptionInfo`` + ``EncryptedPackage`` streams) around a password-
protected ``.docx``/``.xlsx``/``.pptx``.

Office 2007+ saves an encrypted OOXML document as a COMPOUND FILE, not
a zip: ``EncryptionInfo`` describes the scheme, ``EncryptedPackage``
holds an 8-byte plaintext size prefix + the encrypted zip. Excel's
transparent "no-password" encryption (the documented default
``VelvetSweatshop`` password — workbooks that open everywhere without
a prompt) rides exactly this wrapper, so crawled corpora carry them in
bulk. Both published schemes decrypt here, tried with that default
password only (real passwords refuse by name — no guessing):

* **Standard** (MS-OFFCRYPTO §2.3.4.5, ``vMajor`` 2/3/4 + ``vMinor``
  2): SHA1 password KDF with 50 000 iterations (§2.3.4.7, the
  0x36/0x5C HMAC-style expansion), AES-ECB package cipher;
* **Agile** (§2.3.4.10, version 4.4): XML descriptor; hash-agnostic
  KDF (SHA1/256/384/512 by name, ``spinCount`` iterations), the three
  published block-key constants for verifier-input / verifier-value /
  key-value, AES-CBC with per-4096-byte-segment IVs derived from the
  keyData salt (§2.3.4.15).

AES comes from the FIPS-197 implementation in ``attic/operators/aes.py``
(known-answer pinned); hashes from hashlib. The extensible version
(3.3), non-AES ciphers, non-CBC chaining, and wrong passwords refuse
BY NAME; structural damage (sizes, padding, truncation) raises
ValueError with offsets. Disclosure: the Agile block-key constants and
the Standard 0x36/0x5C expansion are spec material shared with the
test-side encryptor (the PDF ``_CRYPT_PAD`` posture) — everything else
is pinned by the plain-vs-encrypted twin extraction tests.

Reference parity: none — builder-brief document-pipeline surface
(SURVEY §2-D), closing the encrypted-Office gap beside ``pdf_text``'s
V1-V5 handler and ``xls_text``'s FILEPASS RC4.
"""

from __future__ import annotations

import hashlib
import struct

from attic.operators.aes import aes_cbc_decrypt, aes_ecb_decrypt
from attic.operators.cfb import CfbFile, parse_cfb

OOXML_DEFAULT_PW = "VelvetSweatshop"  # the documented Office default

_SEGMENT = 4096
_CALG_AES = {0x660E: 16, 0x660F: 24, 0x6610: 32}

# MS-OFFCRYPTO §2.3.4.13 block-key constants (Agile)
_BK_VERIFIER_INPUT = bytes.fromhex("fea7d2763b4b9e79")
_BK_VERIFIER_VALUE = bytes.fromhex("d7aa0f6d3061344e")
_BK_KEY_VALUE = bytes.fromhex("146e0be7abacd0d6")


def looks_like_encrypted_ooxml(cfb: CfbFile) -> bool:
    names = {e.name for e in cfb.entries if e.type == 2}
    return "EncryptionInfo" in names and "EncryptedPackage" in names


def decrypt_ooxml(payload: bytes, origin: str = "<bytes>") -> bytes:
    """Encrypted-OOXML CFB wrapper → the plaintext OOXML zip bytes."""
    return decrypt_ooxml_cfb(parse_cfb(payload, origin), origin)


def decrypt_ooxml_cfb(cfb: CfbFile, origin: str) -> bytes:
    info = cfb.read_stream("EncryptionInfo")
    package = cfb.read_stream("EncryptedPackage")
    if len(info) < 8:
        raise ValueError(
            f"ooxml {origin}: EncryptionInfo of {len(info)} bytes has no "
            "version header"
        )
    vmaj, vmin = struct.unpack_from("<HH", info, 0)
    if (vmaj, vmin) == (4, 4):
        return _decrypt_agile(info, package, origin)
    if vmaj in (2, 3, 4) and vmin == 2:
        return _decrypt_standard(info, package, origin)
    if (vmaj, vmin) == (3, 3):
        raise NotImplementedError(
            f"ooxml {origin}: extensible encryption (version 3.3) not "
            "implemented — third-party modules are not decryptable from "
            "the spec"
        )
    raise ValueError(
        f"ooxml {origin}: unknown EncryptionInfo version {vmaj}.{vmin}"
    )


# ------------------------------------------------------------- standard


def _std_key(password: str, salt: bytes, keybytes: int) -> bytes:
    """§2.3.4.7: 50 000-round SHA1 spin + the 0x36/0x5C expansion."""
    h = hashlib.sha1(salt + password.encode("utf-16-le")).digest()
    for i in range(50_000):
        h = hashlib.sha1(struct.pack("<I", i) + h).digest()
    hfinal = hashlib.sha1(h + struct.pack("<I", 0)).digest()
    pad = hfinal + b"\x00" * (64 - len(hfinal))
    x1 = hashlib.sha1(bytes(b ^ 0x36 for b in pad)).digest()
    x2 = hashlib.sha1(bytes(b ^ 0x5C for b in pad)).digest()
    return (x1 + x2)[:keybytes]


def _decrypt_standard(info: bytes, package: bytes, origin: str) -> bytes:
    if len(info) < 12:
        raise ValueError(
            f"ooxml {origin}: standard EncryptionInfo truncated"
        )
    (hdr_size,) = struct.unpack_from("<I", info, 8)
    if 12 + hdr_size > len(info):
        raise ValueError(
            f"ooxml {origin}: EncryptionHeader declares {hdr_size} bytes "
            "past the stream end"
        )
    hdr = info[12 : 12 + hdr_size]
    if len(hdr) < 24:
        raise ValueError(
            f"ooxml {origin}: EncryptionHeader of {len(hdr)} bytes is "
            "shorter than its fixed fields"
        )
    alg_id, _alg_hash, key_size = struct.unpack_from("<III", hdr, 8)
    if alg_id not in _CALG_AES:
        raise NotImplementedError(
            f"ooxml {origin}: standard-encryption cipher AlgID "
            f"{alg_id:#x} not implemented — AES (0x660e/0x660f/0x6610) "
            "decrypts here"
        )
    keybytes = _CALG_AES[alg_id]
    if key_size and key_size != keybytes * 8:
        raise ValueError(
            f"ooxml {origin}: KeySize {key_size} contradicts AlgID "
            f"{alg_id:#x} ({keybytes * 8} bits)"
        )
    ver = info[12 + hdr_size :]
    if len(ver) < 72:
        raise ValueError(
            f"ooxml {origin}: EncryptionVerifier of {len(ver)} bytes is "
            "shorter than its fixed fields"
        )
    (salt_size,) = struct.unpack_from("<I", ver, 0)
    if salt_size != 16:
        raise ValueError(
            f"ooxml {origin}: verifier salt size {salt_size} is not 16"
        )
    salt = ver[4:20]
    everifier = ver[20:36]
    (vhash_size,) = struct.unpack_from("<I", ver, 36)
    if vhash_size != 20:  # SHA1
        raise ValueError(
            f"ooxml {origin}: verifier hash size {vhash_size} is not 20"
        )
    evhash = ver[40:72]  # 32 bytes: SHA1 hash AES-block-padded
    key = _std_key(OOXML_DEFAULT_PW, salt, keybytes)
    verifier = aes_ecb_decrypt(key, everifier)
    vhash = aes_ecb_decrypt(key, evhash)
    if hashlib.sha1(verifier).digest() != vhash[:20]:
        raise NotImplementedError(
            f"ooxml {origin}: password-protected beyond the default "
            f"{OOXML_DEFAULT_PW!r} password — password-based decryption "
            "is not implemented"
        )
    return _unwrap_package(
        package, origin, lambda seg, data: aes_ecb_decrypt(key, data)
    )


# ---------------------------------------------------------------- agile


_AGILE_HASHES = {
    "SHA1": hashlib.sha1,
    "SHA256": hashlib.sha256,
    "SHA384": hashlib.sha384,
    "SHA512": hashlib.sha512,
}


def _agile_spin(hash_fn, pw: str, salt: bytes, spin: int) -> bytes:
    """§2.3.4.11 first half: the spinCount-iterated password hash —
    block-INDEPENDENT, so callers spin once and derive per-block keys
    from the result."""
    h = hash_fn(salt + pw.encode("utf-16-le")).digest()
    for i in range(spin):
        h = hash_fn(struct.pack("<I", i) + h).digest()
    return h


def _agile_block_key(hash_fn, spun: bytes, block: bytes,
                     keybytes: int) -> bytes:
    """§2.3.4.11 second half: one final hash round per block constant."""
    h = hash_fn(spun + block).digest()
    if len(h) < keybytes:  # §2.3.4.11: pad with 0x36 to the key length
        h += b"\x36" * (keybytes - len(h))
    return h[:keybytes]


def _iv_for(hash_fn, salt: bytes, block: bytes | None) -> bytes:
    """§2.3.4.12: IV = salt (no block key) or H(salt + block), padded
    with 0x36 / truncated to the 16-byte AES block."""
    iv = salt if block is None else hash_fn(salt + block).digest()
    if len(iv) < 16:
        iv += b"\x36" * (16 - len(iv))
    return iv[:16]


def _decrypt_agile(info: bytes, package: bytes, origin: str) -> bytes:
    # the shared office guard scans the WHOLE document for a DOCTYPE in
    # every encoding etree accepts — a prefix scan is routable-around
    # with prolog comments (the office_text._parse_xml lesson)
    from attic.operators.office_text import _parse_xml

    root = _parse_xml(info[8:], origin, "agile EncryptionInfo")

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1]

    key_data = None
    enc_key = None
    for el in root.iter():
        if local(el.tag) == "keyData":
            key_data = el.attrib
        elif local(el.tag) == "encryptedKey":
            enc_key = el.attrib
    if key_data is None or enc_key is None:
        raise ValueError(
            f"ooxml {origin}: agile descriptor lacks keyData or the "
            "password encryptedKey"
        )

    def check(attrs: dict, what: str) -> tuple:
        cipher = attrs.get("cipherAlgorithm", "")
        chain = attrs.get("cipherChaining", "")
        halg = attrs.get("hashAlgorithm", "")
        if cipher != "AES":
            raise NotImplementedError(
                f"ooxml {origin}: agile {what} cipher {cipher!r} not "
                "implemented — AES decrypts here"
            )
        if chain != "ChainingModeCBC":
            raise NotImplementedError(
                f"ooxml {origin}: agile {what} chaining {chain!r} not "
                "implemented — ChainingModeCBC decrypts here"
            )
        if halg not in _AGILE_HASHES:
            raise NotImplementedError(
                f"ooxml {origin}: agile {what} hash {halg!r} not "
                "implemented — SHA1/SHA256/SHA384/SHA512 decrypt here"
            )
        return (
            _AGILE_HASHES[halg],
            int(_attr(attrs, "keyBits", what)) // 8,
            _b64(attrs, "saltValue", what),
        )

    def _attr(attrs: dict, name: str, what: str) -> str:
        # malformed descriptors must refuse as ValueError, not KeyError
        # (the census's refusal fold catches only ValueError/
        # NotImplementedError — a KeyError would kill the whole task)
        v = attrs.get(name)
        if v is None:
            raise ValueError(
                f"ooxml {origin}: agile {what} element lacks the "
                f"required {name} attribute"
            )
        return v

    def _b64(attrs: dict, name: str, what: str) -> bytes:
        import base64
        import binascii

        try:
            return base64.b64decode(_attr(attrs, name, what), validate=True)
        except binascii.Error as exc:
            raise ValueError(
                f"ooxml {origin}: agile {what} attribute {name} is not "
                f"base64: {exc}"
            ) from None

    pk_hash, pk_bytes, pk_salt = check(enc_key, "password-key")
    kd_hash, kd_bytes, kd_salt = check(key_data, "keyData")
    spin = int(enc_key.get("spinCount", "100000"))
    if not 0 < spin <= 10_000_000:
        raise ValueError(f"ooxml {origin}: spinCount {spin} out of range")
    ev_input = _b64(enc_key, "encryptedVerifierHashInput", "password-key")
    ev_value = _b64(enc_key, "encryptedVerifierHashValue", "password-key")
    ekey_value = _b64(enc_key, "encryptedKeyValue", "password-key")

    # the spinCount iterations are block-independent: spin ONCE, then
    # one final hash round per block-key constant (3x KDF waste
    # otherwise — the r16 review finding)
    spun = _agile_spin(pk_hash, OOXML_DEFAULT_PW, pk_salt, spin)

    def pw_decrypt(block_const: bytes, data: bytes) -> bytes:
        key = _agile_block_key(pk_hash, spun, block_const, pk_bytes)
        return aes_cbc_decrypt(key, _iv_for(pk_hash, pk_salt, None), data)

    verifier = pw_decrypt(_BK_VERIFIER_INPUT, ev_input)[:16]
    want = pw_decrypt(_BK_VERIFIER_VALUE, ev_value)
    got = pk_hash(verifier).digest()
    if want[: len(got)] != got:
        raise NotImplementedError(
            f"ooxml {origin}: password-protected beyond the default "
            f"{OOXML_DEFAULT_PW!r} password — password-based decryption "
            "is not implemented"
        )
    file_key = pw_decrypt(_BK_KEY_VALUE, ekey_value)[:kd_bytes]

    def seg_decrypt(seg: int, data: bytes) -> bytes:
        iv = _iv_for(kd_hash, kd_salt, struct.pack("<I", seg))
        return aes_cbc_decrypt(file_key, iv, data)

    return _unwrap_package(package, origin, seg_decrypt)


# -------------------------------------------------------------- package


def _unwrap_package(package: bytes, origin: str, decrypt_seg) -> bytes:
    """8-byte plaintext size + encrypted 4096-byte segments → zip."""
    if len(package) < 8:
        raise ValueError(
            f"ooxml {origin}: EncryptedPackage of {len(package)} bytes "
            "has no size prefix"
        )
    (size,) = struct.unpack_from("<Q", package, 0)
    body = package[8:]
    if size > len(body):
        raise ValueError(
            f"ooxml {origin}: EncryptedPackage declares {size} plaintext "
            f"bytes but carries {len(body)} encrypted"
        )
    out = bytearray()
    for seg in range(0, len(body), _SEGMENT):
        chunk = body[seg : seg + _SEGMENT]
        if len(chunk) % 16:
            raise ValueError(
                f"ooxml {origin}: encrypted segment at byte {seg + 8} of "
                f"{len(chunk)} bytes is not block-aligned"
            )
        out += decrypt_seg(seg // _SEGMENT, chunk)
        if len(out) >= size:
            break
    return bytes(out[:size])
