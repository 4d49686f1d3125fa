"""From-spec AES (attic/operators/aes.py) — FIPS-197.

Pinning: the spec's own known-answer vectors (Appendix B worked example
+ Appendix C for all three key sizes) pin the computed S-box, key
expansion, and both cipher directions; hypothesis round trips close
CBC. There is no second AES implementation in this container, so the
NIST vectors ARE the independent encoder here (the LZFu §3.1 posture).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from attic.operators.aes import (
    _SBOX,
    aes_cbc_decrypt,
    aes_cbc_encrypt,
    aes_decrypt_block,
    aes_encrypt_block,
)

_PT = bytes.fromhex("00112233445566778899aabbccddeeff")


def test_computed_sbox_spot_values():
    """FIPS-197 Figure 7 anchors — the affine/inverse construction, not
    a transcribed table, produces them."""
    assert _SBOX[0x00] == 0x63
    assert _SBOX[0x01] == 0x7C
    assert _SBOX[0x53] == 0xED
    assert _SBOX[0xFF] == 0x16
    assert sorted(_SBOX) == list(range(256))  # a permutation


@pytest.mark.parametrize(
    "key_hex,ct_hex",
    [
        ("000102030405060708090a0b0c0d0e0f",
         "69c4e0d86a7b0430d8cdb78070b4c55a"),  # C.1 AES-128
        ("000102030405060708090a0b0c0d0e0f1011121314151617",
         "dda97ca4864cdfe06eaf70a0ec0d7191"),  # C.2 AES-192
        ("000102030405060708090a0b0c0d0e0f"
         "101112131415161718191a1b1c1d1e1f",
         "8ea2b7ca516745bfeafc49904b496089"),  # C.3 AES-256
    ],
)
def test_fips197_appendix_c_vectors(key_hex, ct_hex):
    key = bytes.fromhex(key_hex)
    ct = aes_encrypt_block(key, _PT)
    assert ct.hex() == ct_hex
    assert aes_decrypt_block(key, ct) == _PT


def test_fips197_appendix_b_example():
    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    pt = bytes.fromhex("3243f6a8885a308d313198a2e0370734")
    assert aes_encrypt_block(key, pt).hex() == (
        "3925841d02dc09fbdc118597196a0b32"
    )


@given(
    key=st.binary(min_size=16, max_size=16)
    | st.binary(min_size=24, max_size=24)
    | st.binary(min_size=32, max_size=32),
    iv=st.binary(min_size=16, max_size=16),
    blocks=st.integers(min_value=0, max_value=8),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_cbc_round_trip_property(key, iv, blocks, data):
    payload = data.draw(st.binary(min_size=16 * blocks, max_size=16 * blocks))
    assert aes_cbc_decrypt(key, iv, aes_cbc_encrypt(key, iv, payload)) == payload


def test_misuse_is_loud():
    with pytest.raises(ValueError, match="not 16/24/32"):
        aes_encrypt_block(b"short", bytes(16))
    with pytest.raises(ValueError, match="not 16"):
        aes_encrypt_block(bytes(16), b"tiny")
    with pytest.raises(ValueError, match="not block-aligned"):
        aes_cbc_decrypt(bytes(16), bytes(16), b"odd-length-data")
