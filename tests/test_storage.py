"""The engine jar's local FileSystem: Hadoop's modes without Hadoop's fork."""

from __future__ import annotations

import os
import stat

import pytest
from py4j.protocol import Py4JJavaError

from logstash_codec_protobuf_spark.storage import (
    LOCAL_FS_CLASS, ensure_engine_jar)


def _engine_fs(spark):
    """A fresh ``file://`` FileSystem resolved as an engine write resolves
    it: ``fs.file.impl`` on a copy of the session's Hadoop conf."""
    ensure_engine_jar(spark)
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(
        spark.sparkContext._jsc.hadoopConfiguration())
    conf.set("fs.file.impl", LOCAL_FS_CLASS)
    return jvm.org.apache.hadoop.fs.FileSystem.newInstance(
        jvm.java.net.URI("file:///"), conf)


def _hadoop_raw_fs(spark):
    """Hadoop's own RawLocalFileSystem, whose setPermission forks chmod."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    fs.initialize(jvm.java.net.URI("file:///"),
                  spark.sparkContext._jsc.hadoopConfiguration())
    return fs


def _chmod(spark, fs, path, mode: int) -> int:
    jvm = spark._jvm
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(path)),
                     jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
    return stat.S_IMODE(os.stat(path).st_mode)


@pytest.mark.parametrize("mode", [0o644, 0o755, 0o600, 0o700, 0o1755])
def test_set_permission_matches_hadoop_chmod(spark, tmp_path, mode):
    """Files and directories end with the mode Hadoop's own (forking)
    chmod path gives them. The sticky bit, which nio cannot set, reaching
    the disk shows that the class hands it to Hadoop."""
    nio, hadoop = _engine_fs(spark), _hadoop_raw_fs(spark)
    assert nio.getClass().getName() == LOCAL_FS_CLASS
    for kind in ("file", "dir"):
        got = {}
        for name, fs in (("nio", nio), ("hadoop", hadoop)):
            p = tmp_path / f"{kind}_{name}"
            if kind == "dir":
                p.mkdir(mode=0o700)
            else:
                p.touch(mode=0o600)
            got[name] = _chmod(spark, fs, p, mode)
        assert got == {"nio": mode, "hadoop": mode}, (kind, got)


def test_set_permission_on_a_missing_path_raises_ioexception(spark, tmp_path):
    nio = _engine_fs(spark)
    with pytest.raises(Py4JJavaError) as err:
        _chmod(spark, nio, tmp_path / "missing", 0o644)
    io_exception = spark._jvm.java.lang.Class.forName("java.io.IOException")
    assert io_exception.isInstance(err.value.java_exception)


def test_engine_jar_loads_once_without_a_job(spark):
    """``ensure_engine_jar`` on a session that has not loaded the jar runs
    no Spark job, and leaves the class resolvable through the Hadoop conf
    the driver's writes copy."""
    session = spark.newSession()
    sc = spark.sparkContext
    sc.setJobGroup("engine_jar_load", "load")
    try:
        ensure_engine_jar(session)
        ensure_engine_jar(session)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("engine_jar_load")) == []
    conf = sc._jsc.hadoopConfiguration()
    assert conf.getClassByName(LOCAL_FS_CLASS).getName() == LOCAL_FS_CLASS
