"""SURVEY §2.1 S9 — MERGE upsert semantics + the manifest-versioned table (time travel) rows.

Split from the single-file queries.py (round 15). Modules are imported by registry/__init__.py in a FIXED order; every @_q call appends to the shared _REGISTRY in registry/core.py, so registration order (the driver's export order) is preserved byte-for-byte.
"""

from __future__ import annotations

from ..session import cut_lineage
from .core import F, _q, _t, up  # noqa: F401

# --------------------------------------------------------------------------
# §2.1 S9 — MERGE upsert semantics
# --------------------------------------------------------------------------


@_q(
    "merge_upsert_orders",
    """
WITH old AS (
  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
  WHERE month(o_orderdate) <= 6
),
upd AS (
  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice * 2 AS o_totalprice
  FROM orders WHERE month(o_orderdate) IN (6, 7)
)
SELECT * FROM upd
UNION ALL
SELECT o.* FROM old o
WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey)
""",
    doc="S9 — Delta MERGE semantics (S2G:127-144) as updates ∪ "
    "anti-joined target: month-6 rows updated, month-7 inserted.",
)
def q_merge_upsert_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    old = o.filter(F.month("o_orderdate") <= 6)
    upd = o.filter(F.month("o_orderdate").isin(6, 7)).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    return up.merge_upsert_df(old, upd, ["o_orderkey"])


def _versioned_orders_replay(spark, sf_dir):
    """Shared replay for the versioned-table rows: commit the
    merge_upsert_orders scenario as two versions of a manifest-tracked
    table (v0 = create base, v1 = MERGE updates) in a throwaway temp
    dir. Returns (table_path, tmp_root)."""
    import tempfile

    from ..operators import versioned as vt

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    base = o.filter(F.month("o_orderdate") <= 6)
    upd = o.filter(F.month("o_orderdate").isin(6, 7)).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    tmp_root = tempfile.mkdtemp(prefix="spark_graft_versioned_")
    table = tmp_root + "/orders"
    vt.create_versioned(base, table)
    vt.merge_versioned(spark, upd, table, ["o_orderkey"])
    return table, tmp_root


def _checkpoint_and_clean(df, tmp_root):
    """Materialize the result off the temp table's files (eager
    cut_lineage — executor-local storage), then delete the temp
    dir so repeated sweeps don't accrete /tmp snapshots."""
    import shutil

    rows = cut_lineage(df)
    shutil.rmtree(tmp_root, ignore_errors=True)
    return rows


_VERSIONED_ORACLE_CTES = """
v0 AS (
  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
  WHERE month(o_orderdate) <= 6
),
upd AS (
  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice * 2 AS o_totalprice
  FROM orders WHERE month(o_orderdate) IN (6, 7)
),
v1 AS (
  SELECT * FROM upd
  UNION ALL
  SELECT o.* FROM v0 o
  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey)
)"""


@_q(
    "orders_version_history",
    f"""
WITH {_VERSIONED_ORACLE_CTES}
SELECT 0 AS version, * FROM v0
UNION ALL
SELECT 1 AS version, * FROM v1
""",
    doc="S3/S9/S10 Delta-parity closure — manifest-tracked versioned "
    "parquet table (operators/versioned.py): REPLAYS two commits "
    "(v0 create, v1 MERGE; reference S2G:127-144) against a real "
    "on-disk table, then TIME-TRAVELS both versions back "
    "(read_version 0 and 1). The oracle reconstructs each version "
    "from the update stream, so a snapshot-isolation bug (v1 bleeding "
    "into v0's files, or a half-commit visible) hash-mismatches.",
)
def q_orders_version_history(spark, sf_dir):
    from ..operators import versioned as vt

    table, tmp_root = _versioned_orders_replay(spark, sf_dir)
    v0 = vt.read_version(spark, table, 0).withColumn("version", F.lit(0))
    v1 = vt.read_version(spark, table, 1).withColumn("version", F.lit(1))
    out = v0.unionByName(v1).select(
        "version", "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    return _checkpoint_and_clean(out, tmp_root)


@_q(
    "orders_time_travel_stats",
    f"""
WITH {_VERSIONED_ORACLE_CTES},
tagged AS (
  SELECT 0 AS version, * FROM v0
  UNION ALL SELECT 1, * FROM v1
  UNION ALL SELECT 2, * FROM v0
)
SELECT version,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS total_price
FROM tagged GROUP BY version
""",
    doc="Delta RESTORE twin over the manifest log: after v0 create + "
    "v1 MERGE, restore_versioned(0) commits metadata-only v2 "
    "re-referencing v0's physical files; per-version row counts and "
    "decimal-accumulated price sums are read back across ALL three "
    "versions. v2 == v0 proves restore; v1 intact proves history "
    "survives it.",
)
def q_orders_time_travel_stats(spark, sf_dir):
    from ..operators import versioned as vt

    table, tmp_root = _versioned_orders_replay(spark, sf_dir)
    vt.restore_versioned(table, 0)
    per_version = [
        vt.read_version(spark, table, v).withColumn("version", F.lit(v))
        for v in (0, 1, 2)
    ]
    tagged = per_version[0].unionByName(per_version[1]).unionByName(per_version[2])
    out = tagged.groupBy("version").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(27,4)"))
        .cast("double")
        .alias("total_price"),
    )
    return _checkpoint_and_clean(out, tmp_root)




@_q(
    "orders_versioned_append_diff",
    """
WITH b1 AS (
  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
  WHERE month(o_orderdate) IN (5, 6)
),
b2 AS (
  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
  WHERE month(o_orderdate) IN (7, 8)
)
SELECT 1 AS step, * FROM b1
UNION ALL
SELECT 2 AS step, * FROM b2
""",
    doc="Incremental version-diff read over the manifest log "
    "(versioned.read_version_diff) — Delta change-data-feed semantics "
    "for append commits: v0 = create(months<=4), v1 = append(months "
    "5-6), v2 = append(months 7-8); the query returns the rows added "
    "in (v0,v1] and (v1,v2], each read from ONLY the appended files "
    "(cost ~ batch, never the table). A diff that leaked base-snapshot "
    "rows, or an append that rewrote files, hash-mismatches.",
)
def q_orders_versioned_append_diff(spark, sf_dir):
    import tempfile

    from ..operators import versioned as vt

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    tmp_root = tempfile.mkdtemp(prefix="spark_graft_versioned_")
    table = tmp_root + "/orders"
    vt.create_versioned(o.filter(F.month("o_orderdate") <= 4), table)
    vt.append_versioned(o.filter(F.month("o_orderdate").isin(5, 6)), table)
    vt.append_versioned(o.filter(F.month("o_orderdate").isin(7, 8)), table)
    d1 = vt.read_version_diff(spark, table, 0, 1).withColumn("step", F.lit(1))
    d2 = vt.read_version_diff(spark, table, 1, 2).withColumn("step", F.lit(2))
    out = d1.unionByName(d2).select(
        "step", "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    return _checkpoint_and_clean(out, tmp_root)


@_q(
    "orders_incremental_agg_maintenance",
    """
WITH upto AS (
  SELECT month(o_orderdate) AS order_month, o_totalprice FROM orders
  WHERE month(o_orderdate) <= 8
),
agg AS (
  SELECT order_month,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE)
           AS total_price
  FROM upto GROUP BY order_month
)
SELECT '__merged__' AS src, * FROM agg
UNION ALL
SELECT '__direct__', * FROM agg
""",
    doc="Incremental aggregate maintenance off the versioned table's "
    "change feed — the production incremental-ETL pattern at 100 TB: "
    "a gold aggregate is kept current by folding MONOID PARTIALS of "
    "each append's increment (read_version_diff scans only the new "
    "files) instead of re-scanning the table. Replay: v0 = "
    "create(months<=4), v1/v2 = appends (5-6, 7-8); merged arm = "
    "re-aggregate of the three partial aggregates, direct arm = one "
    "full recompute of v2 — the driver hash proves merged == direct "
    "row-for-row (the oracle emits the same aggregate under both "
    "tags). count/sum fold associatively; sums accumulate in DECIMAL "
    "both engines.",
)
def q_orders_incremental_agg_maintenance(spark, sf_dir):
    import tempfile

    from ..operators import versioned as vt

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    tmp_root = tempfile.mkdtemp(prefix="spark_graft_versioned_")
    table = tmp_root + "/orders"
    vt.create_versioned(o.filter(F.month("o_orderdate") <= 4), table)
    vt.append_versioned(o.filter(F.month("o_orderdate").isin(5, 6)), table)
    vt.append_versioned(o.filter(F.month("o_orderdate").isin(7, 8)), table)

    def partial(df):
        # Monoid partial: (count, decimal sum) per group — map-side
        # combinable, merges by plain addition.
        return df.groupBy(
            F.month("o_orderdate").alias("order_month")
        ).agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(27,4)")).alias("p_sum"),
        )

    increments = [
        partial(vt.read_version(spark, table, 0)),
        partial(vt.read_version_diff(spark, table, 0, 1)),
        partial(vt.read_version_diff(spark, table, 1, 2)),
    ]
    folded = increments[0].unionByName(increments[1]).unionByName(increments[2])
    merged = folded.groupBy("order_month").agg(
        F.sum("n_orders").alias("n_orders"),
        F.sum("p_sum").cast("double").alias("total_price"),
    )
    direct = partial(vt.read_version(spark, table, 2)).select(
        "order_month",
        "n_orders",
        F.col("p_sum").cast("double").alias("total_price"),
    )
    out = merged.withColumn("src", F.lit("__merged__")).unionByName(
        direct.withColumn("src", F.lit("__direct__"))
    ).select("src", "order_month", "n_orders", "total_price")
    return _checkpoint_and_clean(out, tmp_root)


@_q(
    "orders_partitioned_merge",
    """
WITH old AS (
  SELECT month(o_orderdate) AS order_month,
         o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
  WHERE month(o_orderdate) <= 6
),
upd AS (
  SELECT month(o_orderdate) AS order_month,
         o_orderkey, o_custkey, o_orderdate, o_totalprice * 2 AS o_totalprice
  FROM orders WHERE month(o_orderdate) IN (6, 7)
)
SELECT * FROM upd
UNION ALL
SELECT o.* FROM old o
WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey)
""",
    doc="Partition-scoped MERGE on the versioned table — Delta's "
    "file-pruned MERGE (reference merges month-partitioned fact "
    "tables, S2G:195-223): v0 creates a month-partitioned table "
    "(partition_by=['order_month'], Hive-style dirs), the merge "
    "rewrites ONLY the partitions its updates name (months 6-7) and "
    "re-references every other month's physical files unchanged — "
    "commit cost ~ touched partitions, never the table. The final "
    "snapshot is read back through the partition-recovering scan, so "
    "a wrong partition split (a matched row stranded untouched, or a "
    "month mis-bucketed by the dir round-trip) hash-mismatches. "
    "File-level re-referencing is pinned byte-identical in "
    "tests/test_versioned.py::test_partitioned_merge_rewrites_only_"
    "touched_partitions.",
)
def q_orders_partitioned_merge(spark, sf_dir):
    import tempfile

    from ..operators import versioned as vt

    o = _t(spark, sf_dir, "orders").select(
        F.month("o_orderdate").alias("order_month"),
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
    )
    base = o.filter(F.col("order_month") <= 6)
    upd = o.filter(F.col("order_month").isin(6, 7)).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    tmp_root = tempfile.mkdtemp(prefix="spark_graft_versioned_")
    table = tmp_root + "/orders"
    vt.create_versioned(base, table, partition_by=["order_month"])
    vt.merge_versioned(spark, upd, table, ["o_orderkey"])
    out = vt.read_version(spark, table).select(
        "order_month", "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    return _checkpoint_and_clean(out, tmp_root)


@_q(
    "orders_version_changes",
    f"""
WITH {_VERSIONED_ORACLE_CTES},
ins AS (
  SELECT 'insert' AS _change_type,
         u.o_orderkey, u.o_custkey, u.o_orderdate, u.o_totalprice
  FROM upd u
  WHERE NOT EXISTS (SELECT 1 FROM v0 o WHERE o.o_orderkey = u.o_orderkey)
),
pairs AS (
  SELECT o.o_orderkey,
         o.o_custkey AS old_ck, o.o_orderdate AS old_od,
         o.o_totalprice AS old_tp,
         u.o_custkey AS new_ck, u.o_orderdate AS new_od,
         u.o_totalprice AS new_tp
  FROM v0 o JOIN upd u ON o.o_orderkey = u.o_orderkey
  WHERE o.o_custkey IS DISTINCT FROM u.o_custkey
     OR o.o_orderdate IS DISTINCT FROM u.o_orderdate
     OR o.o_totalprice IS DISTINCT FROM u.o_totalprice
)
SELECT * FROM ins
UNION ALL
SELECT 'update_preimage', o_orderkey, old_ck, old_od, old_tp FROM pairs
UNION ALL
SELECT 'update_postimage', o_orderkey, new_ck, new_od, new_tp FROM pairs
""",
    doc="Row-level change feed across a MERGE commit (Delta CDF "
    "_change_type encoding) — the lineage read_version_diff refuses: "
    "version_changes anti-joins the two snapshots on the key "
    "(NULL-safe) and emits insert / update_preimage / "
    "update_postimage rows (this merge deletes nothing). The oracle "
    "reconstructs the change set independently from the update "
    "stream with IS DISTINCT FROM row comparison, so a miscounted "
    "match, a preimage leaking post-merge values, or a lost insert "
    "hash-mismatches. Append-lineage agreement with the file-level "
    "fast path is pinned in tests/test_versioned.py.",
)
def q_orders_version_changes(spark, sf_dir):
    from ..operators import versioned as vt

    table, tmp_root = _versioned_orders_replay(spark, sf_dir)
    out = vt.version_changes(spark, table, 0, 1, keys=["o_orderkey"]).select(
        "_change_type", "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    return _checkpoint_and_clean(out, tmp_root)


@_q(
    "orders_pruned_date_scan",
    """
SELECT month(o_orderdate) AS order_month, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-04-01 00:00:00'
                       AND TIMESTAMP '1996-06-30 23:59:59'
GROUP BY month(o_orderdate)
""",
    doc="Stats-based data skipping over the versioned table — Delta's "
    "file pruning from add-action min/max stats: every commit records "
    "per-file column [min,max] from the parquet FOOTERS (metadata-only "
    "driver reads); after an OPTIMIZE sort_within_by(o_orderdate) "
    "clusters files into disjoint date ranges, read_version_pruned "
    "scans ONLY the files whose interval intersects the probe quarter "
    "and applies the exact predicate to the survivors — at 100 TB a "
    "selective date probe reads a handful of files, not the table. "
    "The oracle filters the raw orders directly, so an unsound prune "
    "(a file skipped that held matching rows) hash-mismatches; strict "
    "file-count pruning is pinned in tests/test_versioned.py::"
    "test_read_version_pruned_skips_files_exactly.",
)
def q_orders_pruned_date_scan(spark, sf_dir):
    import datetime
    import tempfile

    from ..operators import versioned as vt

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    tmp_root = tempfile.mkdtemp(prefix="spark_graft_versioned_")
    table = tmp_root + "/orders"
    vt.create_versioned(o, table)
    vt.optimize_versioned(
        spark, table, target_file_bytes=1 << 20, sort_within_by=["o_orderdate"]
    )
    pruned = vt.read_version_pruned(
        spark,
        table,
        {
            "o_orderdate": (
                datetime.datetime(1996, 4, 1),
                datetime.datetime(1996, 6, 30, 23, 59, 59),
            )
        },
    )
    out = pruned.groupBy(
        F.month("o_orderdate").alias("order_month")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(27,4)"))
        .cast("double")
        .alias("total_price"),
    )
    return _checkpoint_and_clean(out, tmp_root)


_DML_PRED = (
    "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND "
    "o_orderdate < TIMESTAMP '1996-04-01 00:00:00' AND "
    "o_totalprice > 150000"
)


@_q(
    "orders_file_pruned_delete",
    f"""
SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
WHERE NOT COALESCE({_DML_PRED}, FALSE)
""",
    doc="Delta DELETE parity, file-pruned like Delta's: one "
    "input_file_name() scan finds the files CONTAINING matching rows "
    "(delete_versioned), only those are rewritten keeping their "
    "non-matching rows, every other file is re-referenced unchanged — "
    "after optimize sort_within_by(o_orderdate) clusters files into "
    "disjoint date ranges, a one-quarter high-price delete rewrites "
    "only the quarter's files (cost ~ touched files, never the "
    "table). The final snapshot is the full remaining relation, so a "
    "row deleted too eagerly, kept wrongly, or duplicated by the "
    "rewrite hash-mismatches against the oracle's NOT COALESCE "
    "filter. Untouched-file re-referencing, NULL-predicate keep "
    "semantics and the no-match no-op are pinned in "
    "tests/test_versioned.py::test_delete_versioned_rewrites_only_"
    "touched_files.",
)
def q_orders_file_pruned_delete(spark, sf_dir):
    import tempfile

    from ..operators import versioned as vt

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    tmp_root = tempfile.mkdtemp(prefix="spark_graft_versioned_")
    table = tmp_root + "/orders"
    vt.create_versioned(o, table)
    vt.optimize_versioned(
        spark, table, target_file_bytes=1 << 20, sort_within_by=["o_orderdate"]
    )
    vt.delete_versioned(spark, table, _DML_PRED)
    out = vt.read_version(spark, table).select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return _checkpoint_and_clean(out, tmp_root)


@_q(
    "orders_file_pruned_update",
    f"""
SELECT o_orderkey, o_orderdate,
       CASE WHEN COALESCE({_DML_PRED}, FALSE)
            THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
FROM orders
""",
    doc="Delta UPDATE parity — the same file-pruned rewrite as "
    "orders_file_pruned_delete (update_versioned): matching rows get "
    "the SET assignments (cast to the column's existing type — ANSI "
    "store-assignment, the table schema never drifts), non-matching "
    "rows in touched files copy through byte-equal, untouched files "
    "re-reference. The oracle applies the same CASE WHEN to the raw "
    "orders, so an update leaking outside the predicate, a missed "
    "match inside a touched file, or a copy-through row mutated by "
    "the rewrite hash-mismatches. Partition-moving updates and CHECK "
    "enforcement on rewritten rows are pinned in tests/"
    "test_versioned.py::test_update_versioned_file_pruned.",
)
def q_orders_file_pruned_update(spark, sf_dir):
    import tempfile

    from ..operators import versioned as vt

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    tmp_root = tempfile.mkdtemp(prefix="spark_graft_versioned_")
    table = tmp_root + "/orders"
    vt.create_versioned(o, table)
    vt.optimize_versioned(
        spark, table, target_file_bytes=1 << 20, sort_within_by=["o_orderdate"]
    )
    vt.update_versioned(
        spark, table, _DML_PRED, {"o_totalprice": "o_totalprice * 2"}
    )
    out = vt.read_version(spark, table).select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return _checkpoint_and_clean(out, tmp_root)


@_q(
    "orders_dv_delete",
    """
SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
WHERE NOT (o_orderkey % 97 = 0) AND NOT (o_orderkey % 101 = 0)
""",
    doc="Deletion-vector DELETE (Delta DVs) — sub-file granularity, "
    "ZERO data rewrite: two successive mode='dv' deletes record the "
    "matched rows' _metadata.row_index positions in the manifest's dv "
    "map (unioned per file on the second commit); every read "
    "anti-joins the tombstones out via ONE broadcast join on the "
    "hidden (_metadata.file_path, _metadata.row_index) columns — pure "
    "Catalyst, no UDF, untombstoned files pay nothing. The ~1%-"
    "selectivity predicates stay under the tombstone-economics "
    "threshold (a mostly-dead file is rewritten instead, and an "
    "oversized DV payload degrades to the rewrite path — Delta's "
    "compaction posture), so the file set is byte-identical across "
    "both commits, pinned in tests/test_versioned.py::"
    "test_deletion_vector_delete. The oracle filters the raw orders "
    "with the complementary predicate, so a resurrected tombstone, a "
    "row deleted too eagerly, or an index collision across the two "
    "DV commits hash-mismatches.",
)
def q_orders_dv_delete(spark, sf_dir):
    import tempfile

    from ..operators import versioned as vt

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    tmp_root = tempfile.mkdtemp(prefix="spark_graft_versioned_")
    table = tmp_root + "/orders"
    vt.create_versioned(o.repartition(8), table)
    vt.delete_versioned(spark, table, "o_orderkey % 97 = 0", mode="dv")
    vt.delete_versioned(spark, table, "o_orderkey % 101 = 0", mode="dv")
    out = vt.read_version(spark, table).select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return _checkpoint_and_clean(out, tmp_root)


@_q(
    "orders_timestamp_as_of",
    f"""
WITH {_VERSIONED_ORACLE_CTES}
SELECT 'at_v0' AS as_of, COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS total_price
FROM v0
UNION ALL
SELECT 'at_v1', COUNT(*),
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE)
FROM v1
UNION ALL
SELECT 'future', COUNT(*),
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE)
FROM v1
""",
    doc="Delta TIMESTAMP AS OF twin (versioned.version_at_timestamp / "
    "read_version(timestamp=...)): after v0 create + v1 MERGE the "
    "query time-travels by TIMESTAMP, not version number — t exactly "
    "at v0's commit ts resolves to v0 (at-or-before semantics: each "
    "version covers the half-open time interval until the next "
    "commit, so v0 is the answer even though v1 exists), t exactly "
    "at v1's commit ts resolves to v1 (the inclusive boundary Delta "
    "also includes), and a far-future t resolves to latest. "
    "Resolution walks the CHECKPOINTED history (commit ts rides in "
    "checkpoint entries), so it stays O(CHECKPOINT_EVERY) manifest "
    "opens on a long log. Mis-resolution by one version "
    "hash-mismatches the per-snapshot count + decimal price sum. "
    "Probe timestamps come from the table's own manifests, so the "
    "row is deterministic under any wall clock; before-first-commit "
    "raising (Delta's posture) is pinned in tests/test_versioned.py::"
    "test_timestamp_as_of.",
)
def q_orders_timestamp_as_of(spark, sf_dir):
    from ..operators import versioned as vt

    table, tmp_root = _versioned_orders_replay(spark, sf_dir)
    ts0 = vt.read_manifest(table, 0)["ts"]
    ts1 = vt.read_manifest(table, 1)["ts"]
    probes = [
        ("at_v0", ts0),            # exactly at v0's commit: v0
        ("at_v1", ts1),            # exactly at v1's commit: v1
        ("future", ts1 + 86400.0), # far past the last commit: latest
    ]
    parts = []
    for label, t in probes:
        snap = vt.read_version(spark, table, timestamp=t)
        parts.append(
            snap.agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(27,4)"))
                .cast("double")
                .alias("total_price"),
            ).withColumn("as_of", F.lit(label))
        )
    out = parts[0].unionByName(parts[1]).unionByName(parts[2]).select(
        "as_of", "n_rows", "total_price"
    )
    return _checkpoint_and_clean(out, tmp_root)


@_q(
    "orders_dv_sidecar_delete",
    """
SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
WHERE NOT (o_orderkey % 7 = 0)
""",
    doc="Roaring-bitmap deletion-vector SIDECAR files — the 100 TB "
    "path past inline JSON positions: a scattered ~14% delete "
    "(mode='dv', dv_inline_max=16 so the storage decision is "
    "scale-independent) records every matched row's position in "
    "compressed bitmap sidecars under <table>/_dv/, referenced from "
    "the manifest by (path, cardinality, crc32) — the manifest stays "
    "O(1) per file regardless of tombstone count, the FILE SET is "
    "byte-identical (zero data rewrite, dv_rewrite_threshold=1.0 "
    "isolates storage from the compaction economics), and every read "
    "resolves the sidecars (checksum-verified) into the same "
    "broadcast anti-join on (_metadata.file_path, row_index) as "
    "inline DVs. The oracle filters raw orders with the "
    "complementary predicate, so a position lost or invented by the "
    "bitmap codec, a truncated sidecar silently accepted, or a "
    "tombstone resurrected by the scan hash-mismatches. Codec "
    "round-trip, corruption refusal and VACUUM of orphaned sidecars "
    "are pinned in tests/test_versioned.py (test_dv_roaring_codec_"
    "roundtrip, test_dv_sidecar_large_delete, "
    "test_vacuum_cleans_orphaned_dv_sidecars).",
)
def q_orders_dv_sidecar_delete(spark, sf_dir):
    import tempfile

    from ..operators import versioned as vt

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    tmp_root = tempfile.mkdtemp(prefix="spark_graft_versioned_")
    table = tmp_root + "/orders"
    vt.create_versioned(o.repartition(4), table)
    vt.delete_versioned(
        spark,
        table,
        "o_orderkey % 7 = 0",
        mode="dv",
        dv_rewrite_threshold=1.0,
        dv_inline_max=16,
    )
    out = vt.read_version(spark, table).select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return _checkpoint_and_clean(out, tmp_root)


@_q(
    "orders_column_rename_read",
    """
SELECT month(o_orderdate) AS order_month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS total_price
FROM orders
GROUP BY month(o_orderdate)
""",
    doc="Column-mapping schema evolution (Delta name-mode, "
    "versioned.rename_column): v0 commits months<=6 under "
    "o_totalprice, v1 RENAMES it to price (a METADATA-ONLY commit — "
    "stable field IDs in the manifest's col_map, zero files "
    "rewritten), v2 appends months 7-12 already shaped with the new "
    "name (physical parquet names stay the original — "
    "_to_physical/_scan_files map logical<->physical both ways). The "
    "final read aggregates ALL rows under the renamed column: "
    "pre-rename files read under the new name, post-rename files "
    "store the old physical name — a mapping applied on only one "
    "side NULLs half the table and hash-mismatches the per-month "
    "decimal sums (re-aliased to o_totalprice for the oracle "
    "compare). Time travel preserving the old name, drop_column "
    "no-resurrection and the streaming-source refusal are pinned in "
    "tests/test_versioned.py (test_rename_column_is_metadata_only, "
    "test_drop_column_and_no_resurrection, "
    "test_column_mapping_interactions).",
)
def q_orders_column_rename_read(spark, sf_dir):
    import tempfile

    from ..operators import versioned as vt

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    tmp_root = tempfile.mkdtemp(prefix="spark_graft_versioned_")
    table = tmp_root + "/orders"
    vt.create_versioned(o.filter(F.month("o_orderdate") <= 6), table)
    vt.rename_column(table, "o_totalprice", "price")
    vt.append_versioned(
        o.filter(F.month("o_orderdate") > 6).withColumnRenamed(
            "o_totalprice", "price"
        ),
        table,
    )
    out = (
        vt.read_version(spark, table)
        .groupBy(F.month("o_orderdate").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("price").cast("decimal(27,4)"))
            .cast("double")
            .alias("total_price"),
        )
    )
    return _checkpoint_and_clean(out, tmp_root)
