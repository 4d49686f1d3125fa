"""Tar ingest: real archives in all stdlib compressions, member
filtering/skipping, guards, the zip-schema union, and the strict UTF-8
document path."""

from __future__ import annotations

import io
import tarfile

import pytest

from attic.sources.tarsrc import (
    _iter_members,
    read_tar_members,
    tar_texts_to_documents,
)


def _tar(members: dict, mode: str = "w") -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode=mode) as tf:
        for name, content in members.items():
            info = tarfile.TarInfo(name)
            info.size = len(content)
            tf.addfile(info, io.BytesIO(content))
    return buf.getvalue()


def test_iter_members_all_compressions():
    members = {"a.txt": b"alpha", "sub/b.txt": b"beta"}
    for mode in ("w", "w:gz", "w:bz2", "w:xz"):
        got = dict(_iter_members(_tar(members, mode), "t"))
        assert got == members, mode


def test_structure_members_skipped():
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        d = tarfile.TarInfo("dir/")
        d.type = tarfile.DIRTYPE
        tf.addfile(d)
        link = tarfile.TarInfo("evil")
        link.type = tarfile.SYMTYPE
        link.linkname = "/etc/passwd"
        tf.addfile(link)
        empty = tarfile.TarInfo("placeholder")
        empty.size = 0
        tf.addfile(empty, io.BytesIO(b""))
        real = tarfile.TarInfo("data.bin")
        real.size = 3
        tf.addfile(real, io.BytesIO(b"xyz"))
    got = dict(_iter_members(buf.getvalue(), "t"))
    assert got == {"data.bin": b"xyz"}


def test_member_glob_filters_inside_walk():
    data = _tar({"a.txt": b"keep", "b.jsonl": b"drop"})
    assert dict(_iter_members(data, "t", "*.txt")) == {"a.txt": b"keep"}


def test_guards_are_loud():
    with pytest.raises(ValueError, match=r"not a readable tar archive"):
        list(_iter_members(b"definitely not a tar file" + b"\x00" * 600, "t"))
    import attic.sources.tarsrc as mod

    data = _tar({"big.bin": b"x" * 64})
    old_member = mod.MAX_MEMBER_BYTES
    mod.MAX_MEMBER_BYTES = 16
    try:
        with pytest.raises(ValueError, match=r"over the 16 member guard"):
            list(_iter_members(data, "t"))
    finally:
        mod.MAX_MEMBER_BYTES = old_member
    old_total = mod.MAX_ARCHIVE_BYTES
    mod.MAX_ARCHIVE_BYTES = 100
    try:
        with pytest.raises(ValueError, match=r"past the 100-byte guard"):
            list(_iter_members(_tar({f"f{i}": b"y" * 40 for i in range(4)}), "t"))
    finally:
        mod.MAX_ARCHIVE_BYTES = old_total


def test_read_members_and_zip_union(spark, tmp_path):
    import io as _io
    import zipfile

    (tmp_path / "d1.tar.gz").write_bytes(
        _tar({"x.txt": b"tar text"}, "w:gz"))
    zbuf = _io.BytesIO()
    with zipfile.ZipFile(zbuf, "w") as zf:
        zf.writestr("y.txt", b"zip text")
    (tmp_path / "d2.zip").write_bytes(zbuf.getvalue())

    from attic.sources.zipsrc import read_zip_members

    tars = read_tar_members(spark, str(tmp_path))
    zips = read_zip_members(spark, str(tmp_path))
    both = tars.unionByName(zips)  # same landing schema by design
    got = {(r.member, bytes(r.content)) for r in both.collect()}
    assert got == {("x.txt", b"tar text"), ("y.txt", b"zip text")}


def test_texts_to_documents_strict_utf8(spark, tmp_path):
    (tmp_path / "ok.tgz").write_bytes(
        _tar({"doc.txt": "héllo".encode(), "skip.bin": b"\xff\xfe"}, "w:gz"))
    docs = tar_texts_to_documents(spark, str(tmp_path), glob="*.tgz")
    rows = docs.collect()
    assert len(rows) == 1 and rows[0].text == "héllo"
    assert rows[0].uri.endswith("!doc.txt") and rows[0].doc_uid is not None
    # a non-UTF-8 .txt member dies loudly, naming itself
    (tmp_path / "bad.tgz").write_bytes(
        _tar({"bad.txt": b"\xff\xfe broken"}, "w:gz"))
    with pytest.raises(Exception, match=r"not valid UTF-8"):
        tar_texts_to_documents(spark, str(tmp_path), glob="bad.tgz").collect()


# ------------------------------------------------- r13 review hardening

def test_truncated_gzip_layer_is_a_named_valueerror():
    """gzip/bz2/xz truncation raises EOFError/OSError, not TarError —
    the walk must still die as a ValueError NAMING the archive, whether
    the stream dies at open, at a later header, or inside a member."""
    import random

    named = r"tar t: (corrupt or truncated|not a readable|member .* failed)"
    whole = _tar({"a.txt": b"x" * 4096}, "w:gz")
    with pytest.raises(ValueError, match=named):
        list(_iter_members(whole[: len(whole) // 2], "t"))
    # incompressible payload cut near the end: open succeeds, the
    # failure surfaces mid-walk instead
    rng = random.Random(7)
    big = bytes(rng.randrange(256) for _ in range(1 << 16))
    whole2 = _tar({"a.bin": big, "b.bin": big}, "w:gz")
    with pytest.raises(ValueError, match=named):
        list(_iter_members(whole2[: int(len(whole2) * 0.9)], "t"))


def test_header_count_bomb_guard():
    import attic.sources.tarsrc as mod

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for i in range(30):
            e = tarfile.TarInfo(f"empty{i}")
            e.size = 0
            tf.addfile(e, io.BytesIO(b""))
    old = mod.MAX_MEMBERS
    mod.MAX_MEMBERS = 10
    try:
        with pytest.raises(ValueError, match=r"more than 10 member headers"):
            list(_iter_members(buf.getvalue(), "t"))
    finally:
        mod.MAX_MEMBERS = old


def test_default_glob_matches_tgz(spark, tmp_path):
    """The advertised extension zoo must match under the DEFAULT glob —
    a directory of .tgz shards must never return a silent empty frame."""
    (tmp_path / "shard-000.tgz").write_bytes(_tar({"a.txt": b"A"}, "w:gz"))
    (tmp_path / "shard-001.tar").write_bytes(_tar({"b.txt": b"B"}))
    (tmp_path / "notes.txt").write_bytes(b"not an archive")  # not matched
    got = {r.member for r in read_tar_members(spark, str(tmp_path)).collect()}
    assert got == {"a.txt", "b.txt"}


def test_tar_errors_name_the_tar_container(spark, tmp_path):
    """The shared decode helper labels errors with the right container:
    a bad member ingested through the TAR path says 'tar', not 'zip'."""
    (tmp_path / "bad2.tgz").write_bytes(
        _tar({"bad.txt": b"\xff\xfe nope"}, "w:gz"))
    with pytest.raises(Exception, match=r"tar .*bad2\.tgz.*not valid UTF-8"):
        tar_texts_to_documents(spark, str(tmp_path), glob="bad2.tgz").collect()


def test_corrupt_xz_layer_is_a_named_valueerror():
    """lzma.LZMAError subclasses Exception, not OSError — it must be in
    the caught set or a corrupt .tar.xz leaks a bare stream error."""
    import random

    rng = random.Random(3)
    big = bytes(rng.randrange(256) for _ in range(1 << 15))
    whole = _tar({"a.bin": big, "b.bin": big}, "w:xz")
    named = r"tar t: (corrupt or truncated|not a readable|member .* failed)"
    seen_value_error = 0
    for off in range(64, len(whole) - 64, max(1, len(whole) // 48)):
        cut = bytearray(whole)
        cut[off] ^= 0xFF
        try:
            list(_iter_members(bytes(cut), "t"))
        except ValueError as exc:
            assert "tar t:" in str(exc)
            seen_value_error += 1
        # silent acceptance is possible only when the flipped byte's
        # checksum lies beyond the end-of-archive marker (documented)
    assert seen_value_error > 0  # corruption does surface, and as ValueError


def test_tar_zst_decodes_for_real(spark, tmp_path):
    """Round 15 closes D20's refusal: a zstd-compressed shard (RFC 8878
    frame magic) decodes through the from-spec decoder
    (operators/zstd.py) — through _iter_members AND the Spark glob path
    (the glob must MATCH .tar.zst so the shard is seen at all). The
    independent encoder here is pyarrow's bundled libzstd."""
    import pyarrow as pa

    from attic.sources.tarsrc import TAR_GLOB

    assert "tar.zst" in TAR_GLOB and "tzst" in TAR_GLOB
    members = {"a.txt": b"alpha " * 400, "sub/b.txt": b"beta"}
    zst = pa.Codec("zstd", compression_level=9).compress(
        _tar(members), asbytes=True
    )
    assert dict(_iter_members(zst, "t")) == members
    (tmp_path / "shard.tar.zst").write_bytes(zst)
    got = {
        (r["member"], bytes(r["content"]))
        for r in read_tar_members(spark, str(tmp_path)).collect()
    }
    assert got == {(n, c) for n, c in members.items()}


def test_tar_zst_corrupt_frame_is_a_named_valueerror():
    """A frame that IS zstd by magic but structurally corrupt raises the
    decoder's offset-carrying ValueError, not tarfile's generic error."""
    fake = b"\x28\xb5\x2f\xfd" + b"\x00" * 64
    with pytest.raises(ValueError, match=r"zstd t:"):
        list(_iter_members(fake, "t"))
