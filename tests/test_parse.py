"""Decode-path semantics (protobuf.rb:212-234, 225-233)."""

from __future__ import annotations

from pyspark.sql import functions as F

from logstash_codec_protobuf_spark.config import DEAD_LETTER_TAG
from logstash_codec_protobuf_spark.operators.parse import (
    parse_turns, split_dead_letter,
)
from logstash_codec_protobuf_spark.sources.transcripts import transcripts_df

from .conftest import SF_DIR


def test_arrow_and_native_impls_identical(spark):
    """The pandas-UDF parse and the JVM-native parse are interchangeable."""
    tr = transcripts_df(spark, SF_DIR)
    a = parse_turns(tr, impl="arrow").select("text", "parsed.*")
    b = parse_turns(tr, impl="native").select("text", "parsed.*")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_dead_letter_preserves_original_payload(spark):
    """Substitute-event shape of protobuf.rb:229-233."""
    tr = transcripts_df(spark, SF_DIR)
    good, dead = split_dead_letter(parse_turns(tr))
    rows = dead.limit(5).collect()
    assert rows, "fixture guarantees malformed payloads"
    for r in rows:
        assert r["message"].startswith("CORRUPT|")
        assert r["tags"] == [DEAD_LETTER_TAG]
        assert r["decoder_exception"]
    # conservation: every input row is exactly one of good/dead
    assert good.count() + dead.count() == tr.count()


def test_good_rows_have_no_error(spark):
    tr = transcripts_df(spark, SF_DIR)
    good, _ = split_dead_letter(parse_turns(tr))
    assert good.filter(F.col("parsed.error").isNotNull()).isEmpty()


def test_parse_is_narrow_no_shuffle(spark):
    """The parse stage must pipeline into the scan — no Exchange in the plan
    (scale guard: a shuffle here would move the full 100 TB)."""
    tr = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumnRenamed(
        "props", "text"
    )
    plan = parse_turns(tr, impl="native")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_native_parse_split_path_matches_pure_regex_reference(spark):
    """The native parse_turns (one RLIKE, one shared split) must equal the
    11-pass regexp_extract formulation byte-for-byte on every edge shape —
    empty fields, '|' and '=' inside msg, trailing newline (the '$'-before-
    final-terminator regex subtlety), unicode, corrupt rows, a NULL text,
    and quote and backslash characters in conv and msg (the parse is SQL
    text, so these guard its literal escaping) — with the same schema."""
    from pyspark.sql import Column, functions as F
    from logstash_codec_protobuf_spark.operators.parse import (
        PAYLOAD_REGEX, _GROUPS, _PARSE_ERROR)

    def reference(text: Column) -> Column:
        def grp(i, typ):
            c = F.regexp_extract(text, PAYLOAD_REGEX, i)
            return c if typ == "string" else c.cast(typ)
        good = F.struct(
            *[grp(i + 1, t).alias(n) for i, (n, t) in enumerate(_GROUPS)],
            F.lit(None).cast("string").alias("error"))
        bad = F.struct(
            *[F.lit(None).cast(t).alias(n) for n, t in _GROUPS],
            F.lit(_PARSE_ERROR).alias("error"))
        return F.when(text.rlike(PAYLOAD_REGEX), good).otherwise(bad)

    payloads = [
        "PB3|conv=c1|turn=3|role=user|tool=sql|colour=2|cents=-45|oneof=unicorn|horn=1|wings=0|msg=m17",
        "PB3|conv=|turn=0|role=|tool=|colour=0|cents=0|oneof=pegasus|horn=0|wings=0|msg=",
        "PB3|conv=c|turn=1|role=r|tool=t|colour=1|cents=1|oneof=x|horn=1|wings=1|msg=a|b=c|msg=again",
        "PB3|conv=c|turn=1|role=r|tool=t|colour=1|cents=1|oneof=x|horn=1|wings=1|msg=tail\n",
        "PB3|conv=c|turn=1|role=r|tool=t|colour=1|cents=1|oneof=x|horn=1|wings=1|msg=Ünïcödé 😀",
        "PB3|conv=c|turn=1|role=r|tool=t|colour=1|cents=1|oneof=x|horn=1|wings=1|msg==eq",
        "PB3|conv=c|turn=12|role=r|tool=t|colour=1|cents=1|oneof=X|horn=1|wings=1|msg=bad-oneof-case",
        "CORRUPT|123",
        "PB3|conv=c|turn=x|role=r|tool=t|colour=1|cents=1|oneof=x|horn=1|wings=1|msg=baddigits",
        "",
        "PB3|conv=c|turn=1|role=r|tool=t|colour=1|cents=1|oneof=x|horn=1|wings=1",
        None,
        "PB3|conv=o'brien|turn=2|role=r|tool=t|colour=1|cents=1|oneof=x|horn=1|wings=1|msg=it's 'quoted'",
        "PB3|conv=c\\d|turn=2|role=r|tool=t|colour=1|cents=1|oneof=x|horn=1|wings=1|msg=back\\slash \\| \\\\",
        "PB3|conv=\\'|turn=2|role=r|tool=t|colour=1|cents=1|oneof=x|horn=1|wings=1|msg='\\",
    ]
    df = spark.createDataFrame([(i, p) for i, p in enumerate(payloads)],
                               "i int, text string")
    got = parse_turns(df, impl="native").orderBy("i")
    ref = df.select("i", "text", reference(F.col("text")).alias("parsed")) \
        .orderBy("i")
    assert got.schema["parsed"].dataType == ref.schema["parsed"].dataType
    assert [r["parsed"].asDict() for r in got.collect()] == \
        [r["parsed"].asDict() for r in ref.collect()]
