"""How the engine lands parquet: its jar, its local FileSystem, its writer.

Without Hadoop's native library (``NativeIO``), ``RawLocalFileSystem``
forks ``chmod`` through ``Shell.execCommand`` for every file, ``.crc``
sidecar and directory a write creates: about 450 short-lived processes per
warm ``run_pipeline`` call, 0.4-0.5 s of reaped-child CPU at sf0.001.
The engine jar ships ``org.sparkgraft.fs.NioLocalFileSystem``, a
``LocalFileSystem`` whose ``setPermission`` sets the same 9 rwx bits with
one nio call in the JVM.

``parquet_writer`` points ``fs.file.impl`` at it through the write's own
options, which Spark copies into that write's Hadoop conf only. So it works
on any session, also one the engine did not build, and changes nothing
else the session reads or writes. Because ``FileSystem.CACHE`` is keyed by
scheme, authority and user, not by conf, the write also bypasses the cache:
a ``LocalFileSystem`` is cached long before the engine's first write.

Still forking: everything ``streaming.stream.run_stream_to_sinks`` lands.
``FileStreamSink`` builds its Hadoop conf with ``newHadoopConf()``, from the
session alone, so writer options never reach its data files; its
``_spark_metadata`` log and the query's ``_checkpoint`` logs go through
``FileContext`` and ``LocalFs``, which wire in a plain
``RawLocalFileSystem``. Reaching them would take session-level Hadoop
settings (``fs.file.impl`` for the sink, ``fs.AbstractFileSystem.file.impl``
and a ``LocalFs`` of the engine's own for the logs), which would change
the caller's session for every read and write.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

ENGINE_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "jvm", "sparkgraft-engine.jar")

# The engine's parquet codec, not the session default: every file
# run_pipeline and its streaming twin write is zstd. On the routed rows it
# measured 30.4 B/row against snappy's 44.6 (-32%) at no write-wall cost.
PARQUET_CODEC = "zstd"

LOCAL_FS_CLASS = "org.sparkgraft.fs.NioLocalFileSystem"

# Options of every engine parquet write (see the module docstring).
WRITE_OPTIONS = {
    "compression": PARQUET_CODEC,
    "fs.file.impl": LOCAL_FS_CLASS,
    "fs.file.impl.disable.cache": "true",
}


def ensure_engine_jar(spark: SparkSession) -> None:
    """Make the engine jar's classes loadable, once per session.

    ``ADD JAR`` puts the jar on the session's shared class loader (driver)
    and ships it to executors; it runs no Spark job. The driver resolves
    ``fs.file.impl`` through the Hadoop conf's own class loader, so that
    is pointed at the same jar class loader. Both steps are idempotent, so
    two threads racing through the first call (the two aggregate writes of
    a run with no wave left) only repeat them."""
    if getattr(spark, "_sg_engine_jar", False):
        return
    spark.sql(f"ADD JAR '{ENGINE_JAR}'")
    spark.sparkContext._jsc.hadoopConfiguration().setClassLoader(
        spark._jsparkSession.sharedState().jarClassLoader())
    spark._sg_engine_jar = True


def parquet_writer(df: DataFrame):
    """``df.write`` with the engine's parquet codec and local FileSystem."""
    ensure_engine_jar(df.sparkSession)
    return df.write.options(**WRITE_OPTIONS)
