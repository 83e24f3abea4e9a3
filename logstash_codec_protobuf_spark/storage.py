"""How the engine lands parquet: its jar, its local FileSystem, its writer.

Every engine write is zstd with v2 data pages (``WRITE_OPTIONS``). v1
pages, parquet-mr's default, store ``ts`` and ``cents`` PLAIN, put
``turn_idx`` through a dictionary and fall back to PLAIN for the payload
``text``. v2 pages carry the v2 encodings: ``DELTA_BINARY_PACKED`` for ints
and timestamps, ``DELTA_BYTE_ARRAY`` (prefix-shared) for strings whose
dictionary does not pay, ``RLE_DICTIONARY`` where it does. Over the 40
files of perfbench's ``pipeline_batch`` routed store (30,000 rows):

    column     v1 (B)    v2 (B)
    ts        187,448   142,201
    turn_idx   36,967    20,667
    cents      66,152    57,639
    text      478,476   458,957

31.38 -> 28.36 written B/row (-9.6%); at 1M events -10.6%, with the
JVM+Python CPU per call within noise (medians 17.7 -> 17.4 s, 16 pairs). A
reader must decode the ``DELTA_*`` pages: Spark's vectorized reader has
since 3.3, its row reader, pyarrow and DuckDB do (``tests/test_pipeline.py``
reads one store all four ways). The zstd level stays at its default (3):
level 6 writes 25.41 B/row and level 8 24.25, but at 1M events level 6
cost +8% JVM+Python CPU per call (8 pairs) for -12.7% bytes.

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
the caller's session for every read and write. For the same reason the
sink's data files are v1 pages: ``parquet.writer.version`` is a writer
option too, and only the codec reaches the sink (as the query's own
``compression`` option).
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

# Options of every engine parquet write (see the module docstring). v2
# pages delta-pack ts, cents and turn_idx and delta-prefix text instead of
# PLAIN / a dictionary: the routed store 31.38 -> 28.36 B/row (-9.6%).
WRITE_OPTIONS = {
    "compression": PARQUET_CODEC,
    "parquet.writer.version": "v2",
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
    """``df.write`` with the engine's parquet codec, page version and local
    FileSystem."""
    ensure_engine_jar(df.sparkSession)
    return df.write.options(**WRITE_OPTIONS)
