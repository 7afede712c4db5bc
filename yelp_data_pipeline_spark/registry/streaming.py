"""Streaming-equivalent semantics (batch-checkable twins of the streaming/ package).

Split from the single-file queries.py (round 15). Modules are imported by registry/__init__.py in a FIXED order; every @_q call appends to the shared _REGISTRY in registry/core.py, so registration order (the driver's export order) is preserved byte-for-byte.
"""

from __future__ import annotations

from ..session import cut_lineage
from .core import F, _q, _t, sw  # noqa: F401

# --------------------------------------------------------------------------
# Streaming-equivalent semantics (batch-checkable; true readStream is
# exercised in tests/test_streaming.py)
# --------------------------------------------------------------------------


@_q(
    "hourly_event_counts",
    """
SELECT date_trunc('hour', ts) AS win_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
       count(*) AS cnt
FROM events GROUP BY 1, 2
""",
    doc="Tumbling event-time window (epoch-aligned) — same operator "
    "serves readStream with a watermark.",
)
def q_hourly_event_counts(spark, sf_dir):
    return sw.tumbling_counts(_t(spark, sf_dir, "events"), "ts", "1 hour")


@_q(
    "sliding_event_counts",
    """
WITH starts AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS s1,
         time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE AS s2
  FROM events
),
w AS (
  SELECT unnest([s1, s2]) AS win_start FROM starts
)
SELECT win_start, win_start + INTERVAL 1 HOUR AS win_end, count(*) AS cnt
FROM w GROUP BY 1, 2
""",
    doc="Sliding window (1h / 30m): each event lands in 2 windows.",
)
def q_sliding_event_counts(spark, sf_dir):
    return sw.sliding_counts(_t(spark, sf_dir, "events"), "ts", "1 hour", "30 minutes")


@_q(
    "user_sessions",
    """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  -- (ts, event_id), the SAME total order as flagged's window: with
  -- ts ties (two events in one instant) an ts-only ROWS cumsum can
  -- fold the tied rows' 1/0 flags in either order — one session or
  -- two, run-dependent (caught by the all-ties degenerate fixture).
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_no
  FROM flagged
)
SELECT user_id, min(ts) AS sess_start, max(ts) + INTERVAL 30 MINUTE AS sess_end,
       count(*) AS cnt
FROM numbered GROUP BY user_id, sess_no
""",
    doc="Gap-based sessionization (session_window, 30 min gap) — the "
    "oracle replays it as a lag+cumsum islands query.",
)
def q_user_sessions(spark, sf_dir):
    return sw.session_counts(_t(spark, sf_dir, "events"), "ts", "30 minutes", ["user_id"])




@_q(
    "orders_versioned_stream_roundtrip",
    """
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
WHERE month(o_orderdate) <= 8
""",
    doc="REAL Structured Streaming round trip over the versioned "
    "table (not a batch twin): table A (v0 = months<=6, v1 = append "
    "months 7-8) is read through the Python Data Source streaming "
    "source (streaming/versioned_source.py — version-number offsets, "
    "per-file Arrow partitions, Delta streaming-source semantics), "
    "micro-batches land in table B via the exactly-once "
    "batch-id-in-manifest sink (append_versioned_stream), and the "
    "result is B's latest snapshot. availableNow makes the run "
    "deterministic: every committed version is consumed, so B must "
    "equal A row-for-row — a dropped micro-batch, a replayed file, "
    "or an offset off-by-one (batch (start,end] boundaries) "
    "hash-mismatches against the oracle's plain filter. Resume, "
    "append-only refusal, skipChangeCommits, schema-evolution "
    "NULL-padding and double-replay idempotence are pinned in "
    "tests/test_versioned_stream_source.py.",
)
def q_orders_versioned_stream_roundtrip(spark, sf_dir):
    import shutil
    import tempfile

    from ..operators import versioned as vt
    from ..streaming.versioned_source import VersionedTableDataSource

    spark.dataSource.register(VersionedTableDataSource)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    tmp_root = tempfile.mkdtemp(prefix="spark_graft_vstream_")
    src, dst = tmp_root + "/a", tmp_root + "/b"
    vt.create_versioned(o.filter(F.month("o_orderdate") <= 6), src)
    vt.append_versioned(o.filter(F.month("o_orderdate").isin(7, 8)), src)

    def sink(batch_df, batch_id):
        vt.append_versioned_stream(cut_lineage(batch_df), dst, batch_id)

    q = (
        spark.readStream.format("versioned_table")
        .option("path", src)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tmp_root + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        shutil.rmtree(tmp_root, ignore_errors=True)
        raise TimeoutError("versioned stream round trip did not finish")
    out = vt.read_version(spark, dst).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    rows = cut_lineage(out)
    shutil.rmtree(tmp_root, ignore_errors=True)
    return rows
