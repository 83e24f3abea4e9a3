"""Vectorized decode: `text` payload -> typed struct column.

The reimagination of the codec hot path ``decode(data)``
(protobuf.rb:212-234): where the reference parses ONE protobuf message per call in
Ruby, this parses an Arrow batch of payloads per call (pandas UDF) or stays
entirely JVM-side (native regexp expressions) — one logical plan, whole-stage
codegen around it, ~10^4-10^5 rows per Python round-trip instead of 1.

Two interchangeable implementations, asserted identical in tests:

- ``impl="arrow"``  — scalar ``pandas_udf`` returning a StructType; the compiled
  regex runs once per batch over a pandas Series (``str.extract``, C-backed).
  This is the input_hint's "vectorized pandas/Arrow UDF, no per-row Python".
- ``impl="native"`` — SQL expressions (one ``rlike``, one ``split``),
  zero Python workers, fully codegen'd. Used as the default production path; the
  arrow path exists for formats regex-SQL can't express (and to honor the
  north-star shape).

Failure handling mirrors the decode rescue branch (protobuf.rb:225-233): a row
that doesn't match yields a null parse + error message; `split_dead_letter`
routes it instead of dropping it, preserving the original payload.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..config import CodecConfig, DEAD_LETTER_TAG, sql_str

# Wire format of sources.transcripts — the engine's "compiled schema".
PAYLOAD_REGEX = (
    r"^PB3\|conv=([^|]*)\|turn=([0-9]+)\|role=([^|]*)\|tool=([^|]*)"
    r"\|colour=([0-9]+)\|cents=(-?[0-9]+)\|oneof=([a-z]+)"
    r"\|horn=([0-9]+)\|wings=([0-9]+)\|msg=(.*)$"
)

_GROUPS = [
    ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
    ("tool", "string"), ("colour", "int"), ("cents", "bigint"),
    ("body_type", "string"), ("horn", "int"), ("wings", "int"),
    ("msg", "string"),
]

PARSED_TYPE = T.StructType(
    [
        T.StructField(name, {"string": T.StringType(), "int": T.IntegerType(),
                             "bigint": T.LongType()}[typ])
        for name, typ in _GROUPS
    ]
    + [T.StructField("error", T.StringType())]
)

_PARSE_ERROR = "payload does not match PB3 wire format"


# Field prefix widths inside the split pieces ("conv=" is 5 chars, ...).
# On a matched row piece i+1 is exactly "<name>=<group_i>" for the first 9
# groups (none of them can contain '|'), so substring == regexp_extract.
_PREFIX_LEN = [5, 5, 5, 5, 7, 6, 6, 5, 6]
_SPLIT_RX = r"\|"


def _native_parse(df: DataFrame) -> DataFrame:
    """JVM-side parse of ``df.text`` into ``parsed``, as three projections
    of SQL text: ``_perr`` (one RLIKE: NULL when the row matches, else the
    error), ``_parts`` (one ``split``, only where ``_perr`` is NULL), then
    ``parsed = named_struct(<field>, CASE WHEN _perr IS NULL THEN ... END,
    ..., 'error', _perr)``.

    A helper column referenced more than once above it stays a column of
    its own (CollapseProject does not duplicate it), so every row runs the
    regex once and the split once. A single ``CASE WHEN rlike THEN
    struct(...)`` is out of reach of subexpression elimination: its branch
    ran the split once per field, nine times a row. And because ``parsed``
    is a ``named_struct`` whose ``error`` is a plain column, a consumer
    that reads ``parsed.error`` and a few fields gets only those fields'
    expressions (CollapseProject + SimplifyExtractValueOps); the routed
    store's plan has no ``regexp_extract`` at all.

    The first nine groups are '|'-free by construction, so on a matched row
    split piece i+1 minus its ``<name>=`` prefix is byte-identical to the
    regex group. msg alone keeps ``regexp_extract``: ``(.*)$`` excludes a
    trailing line terminator where the split piece would keep it
    (equivalence pinned by test_parse's 11-pass regex reference).
    """
    ok = "_perr IS NULL"

    def grp(i: int, typ: str) -> str:
        if i == 10:  # msg: the only group where split and regex can differ
            c = f"regexp_extract(`text`, {sql_str(PAYLOAD_REGEX)}, 10)"
        else:
            c = (f"substring(element_at(_parts, {i + 1}), "
                 f"{_PREFIX_LEN[i - 1] + 1}, 2000000000)")
        if typ != "string":
            c = f"CAST({c} AS {typ.upper()})"
        return f"CASE WHEN {ok} THEN {c} END"

    fields = ", ".join(f"'{name}', {grp(i + 1, typ)}"
                       for i, (name, typ) in enumerate(_GROUPS))
    return (
        df.withColumn("_perr", F.expr(
            f"CASE WHEN `text` RLIKE {sql_str(PAYLOAD_REGEX)} THEN NULL"
            f" ELSE {sql_str(_PARSE_ERROR)} END"))
        .withColumn("_parts", F.expr(
            f"CASE WHEN {ok} THEN split(`text`, {sql_str(_SPLIT_RX)}, 11)"
            " END"))
        .withColumn("parsed", F.expr(
            f"named_struct({fields}, 'error', _perr)"))
        .drop("_perr", "_parts")
    )


@F.pandas_udf(PARSED_TYPE)
def _arrow_parse_udf(text: pd.Series) -> pd.DataFrame:
    """Batch parse: one compiled-regex pass per Arrow batch (no per-row Python)."""
    pat = re.compile(PAYLOAD_REGEX)
    ext = text.str.extract(pat)  # DataFrame, one column per group, NaN on no-match
    out = pd.DataFrame()
    for i, (name, typ) in enumerate(_GROUPS):
        col = ext[i]
        if typ in ("int", "bigint"):
            col = pd.to_numeric(col, errors="coerce").astype("Int64")
        out[name] = col
    out["error"] = pd.Series(
        [_PARSE_ERROR if miss else None for miss in ext[0].isna()],
        index=text.index, dtype="object",
    )
    return out


def parse_turns(df: DataFrame, cfg: CodecConfig | None = None,
                impl: str = "native") -> DataFrame:
    """Add a `parsed` struct column next to the raw transcript columns.

    1:1 projection, no shuffle — Catalyst pipelines it into the scan stage.
    """
    if impl == "native":
        return _native_parse(df)
    if impl == "arrow":
        return df.withColumn("parsed", _arrow_parse_udf(F.col("text")))
    raise ValueError(f"unknown parse impl: {impl}")


def parse_failed(parsed: Column) -> Column:
    """Decode-failure predicate (protobuf.rb:225-233)."""
    return parsed["error"].isNotNull()


def split_dead_letter(
    df: DataFrame, cfg: CodecConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """Split parsed rows into (good, dead_letter).

    Dead-letter rows carry the substitute-event shape of protobuf.rb:229-233:
    original payload under `message`, `tags=['_protobufdecodefailure']`,
    `decoder_exception`. With ``stop_on_error`` the caller should assert
    ``dead.isEmpty()`` / raise (protobuf.rb:227-228) — see plans.pipeline.
    """
    cfg = cfg or CodecConfig()
    bad_pred = parse_failed(F.col("parsed"))
    good = df.filter(~bad_pred)
    dead = df.filter(bad_pred).select(
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("ts"),
        F.col("text").alias("message"),
        F.array(F.lit(DEAD_LETTER_TAG)).alias("tags"),
        F.col("parsed")["error"].alias("decoder_exception"),
    )
    return good, dead
