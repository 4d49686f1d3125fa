"""The session's local file system (``jvm/NoForkLocalFileSystem.java``): the
same files and modes as Hadoop's checksummed local file system, with
permissions set in process instead of by a ``chmod`` child per file."""

from __future__ import annotations

import os
import stat

from hbase_observer_es_spark.session import LOCAL_FS_CLASS, local_fs_classes


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_local_fs_compiles_once():
    first = local_fs_classes()
    assert first is not None and os.path.isfile(
        os.path.join(first, "hoes", "fs", "NoForkLocalFileSystem.class"))
    assert local_fs_classes() == first


def test_session_uses_it_for_both_file_apis(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    assert fs.getClass().getName() == LOCAL_FS_CLASS
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == LOCAL_FS_CLASS + "$Fs"


def test_set_permission_sets_the_mode(spark, tmp_path):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark._jsc.hadoopConfiguration())
    f = tmp_path / "f"
    f.write_text("x")
    for mode in ("600", "644", "755", "421", "000", "777"):
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(f)),
                         jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
        assert _mode(f) == int(mode, 8)
    # the sticky bit is not expressible through NIO: Hadoop's own path sets it
    d = tmp_path / "d"
    d.mkdir()
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(d)),
                     jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
    assert _mode(d) == 0o1777


def test_written_files_keep_hadoop_modes_and_checksums(spark, tmp_path):
    out = str(tmp_path / "t")
    spark.range(0, 100).selectExpr("id", "id % 2 AS _p").write.partitionBy("_p").parquet(out)
    parts = sorted(os.listdir(out))
    assert parts == ["._SUCCESS.crc", "_SUCCESS", "_p=0", "_p=1"]
    assert _mode(out) == 0o755
    for p in ("_p=0", "_p=1"):
        assert _mode(os.path.join(out, p)) == 0o755
        names = os.listdir(os.path.join(out, p))
        data = [n for n in names if n.endswith(".parquet")]
        assert data and all(f".{n}.crc" in names for n in data)
        assert all(_mode(os.path.join(out, p, n)) == 0o644 for n in names)
    assert spark.read.parquet(out).count() == 100
