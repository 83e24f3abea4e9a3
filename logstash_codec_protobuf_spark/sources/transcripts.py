"""Deterministic transcripts table derived from the driver's `events` parquet.

BASELINE.json input_hint mandates an input table of shape
``(conv_id string, turn_idx int, role string, text string, tool string, ts
timestamp)`` whose `text` carries a serialized per-turn payload — the reimagined
codec input (protobuf.rb:212-234). No such table ships in /root/testdata, so we
synthesize it deterministically from `events` with ONE SQL derivation that runs
verbatim in both Spark SQL and DuckDB (common dialect subset only: CASE, ||,
CAST, %, FLOOR, row_number). That makes every downstream oracle comparison exact
by construction.

Properties engineered in:
- **Skew**: all users with ``user_id % 10 < 3`` collapse into one hot conversation
  (`conv-hot`, ~30% of rows) — exercises the hot-key handling of the
  pre-write repartition and the segmented windows.
- **Malformed payloads**: every 37th event carries an unparseable `text` →
  dead-letter route (protobuf.rb:229-233, untested in the reference; FIXTURES.md §4).
- **Stable turn ordering**: ``turn_idx`` = row_number over (conv, ts, event_id) —
  unique and deterministic (event_id is unique).
- Payload embeds only ints/strings (cents = FLOOR(value*100)) so string formatting
  is bit-identical across engines (no float-to-string divergence).

Wire format (one line per turn; the 'protobuf message' of this engine):
``PB3|conv=<id>|turn=<n>|role=<r>|tool=<t>|colour=<0-6>|cents=<int>|oneof=<unicorn|pegasus>|horn=<int>|wings=<int>|msg=m<event_id>``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .tables import load_table

# Shared Spark/DuckDB SQL. `events` must be available as a view/table.
TRANSCRIPTS_CTE = """
_tr_base AS (
    SELECT
        CASE WHEN user_id % 10 < 3 THEN 'hot'
             ELSE CAST(user_id AS STRING) END AS conv_key,
        event_id,
        CASE event_type
            WHEN 'click'    THEN 'user'
            WHEN 'view'     THEN 'assistant'
            WHEN 'purchase' THEN 'assistant'
            WHEN 'signup'   THEN 'user'
            WHEN 'error'    THEN 'system'
        END AS role,
        CASE CAST(event_id % 6 AS INTEGER)
            WHEN 0 THEN 'none'   WHEN 1 THEN 'search'
            WHEN 2 THEN 'browser' WHEN 3 THEN 'calc'
            WHEN 4 THEN 'code'   WHEN 5 THEN 'sql'
        END AS tool,
        CAST(event_id % 7 AS INTEGER) AS colour,
        CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        CASE WHEN event_id % 2 = 0 THEN 'unicorn' ELSE 'pegasus' END AS oneof_kind,
        CAST(event_id % 10 AS INTEGER) AS horn,
        CAST(event_id % 15 AS INTEGER) AS wings,
        ts
    FROM events
),
_tr_num AS (
    SELECT *,
        CAST(row_number() OVER (PARTITION BY conv_key ORDER BY ts, event_id)
             AS INTEGER) AS turn_idx
    FROM _tr_base
),
transcripts AS (
    SELECT
        'conv-' || conv_key AS conv_id,
        turn_idx,
        role,
        CASE WHEN event_id % 37 = 0
             THEN 'CORRUPT|' || CAST(event_id AS STRING)
             ELSE 'PB3|conv=conv-' || conv_key
                  || '|turn=' || CAST(turn_idx AS STRING)
                  || '|role=' || role
                  || '|tool=' || tool
                  || '|colour=' || CAST(colour AS STRING)
                  || '|cents=' || CAST(cents AS STRING)
                  || '|oneof=' || oneof_kind
                  || '|horn=' || CAST(horn AS STRING)
                  || '|wings=' || CAST(wings AS STRING)
                  || '|msg=m' || CAST(event_id AS STRING)
        END AS text,
        tool,
        ts
    FROM _tr_num
)
""".strip()

TRANSCRIPTS_SQL = f"WITH {TRANSCRIPTS_CTE} SELECT * FROM transcripts"


def transcripts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the transcripts DataFrame for a scale-factor directory.

    The row_number window is the only shuffle: it hash-partitions on conv_key.
    At 100 TB the input would already BE a transcripts Iceberg table (no
    derivation, no shuffle) partitioned by bucket(conv_id) — this derivation
    exists only because the sandbox ships `events` instead.
    """
    # oracle parity requires UTC: DuckDB treats parquet timestamps as naive,
    # Spark formats them in the session timezone — pin it regardless of how
    # the hosting session was built
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(TRANSCRIPTS_SQL)
