"""Streaming sinks: the idempotent foreachBatch MERGE — where the
streaming tier meets the upsert tier.

Structured Streaming's file sink is append-only; keyed UPSERT into a
serving table needs ``foreachBatch`` + MERGE. Spark's contract there
is at-least-once: after a crash between "batch written" and
"offsets committed", the SAME (batch_id, data) is REPLAYED into the
sink. The standard exactly-once recipe (Delta docs call it the
"idempotent table writes" pattern; txnVersion/txnAppId) is a
batch-id ledger: record every applied batch_id durably next to the
target, and skip a batch whose id is already recorded. This module
implements that recipe over plain parquet — the same
:func:`~yelp_data_pipeline_spark.operators.upsert.merge_upsert_df`
semantics the batch tier oracle-verifies, wrapped for
``writeStream.foreachBatch``.

Scale posture: the per-batch merge is one key-shuffled anti-join +
union (Delta MERGE's cost shape); the ledger is O(1) tiny marker
files; the staged-write + rename swap is atomic on HDFS/local and
object stores with atomic rename emulation — at true scale the Delta
transaction log replaces the rename (upsert_delta is the drop-in,
import-gated for this harness).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.upsert import merge_upsert_df
from ..session import storage_scope, track_persist


def applied_batches(target_path: str) -> set[int]:
    """Batch ids recorded in the target's ledger."""
    d = target_path + "_applied"
    if not os.path.isdir(d):
        return set()
    out = set()
    for name in os.listdir(d):
        if name.startswith("batch-"):
            out.add(int(name.split("-", 1)[1]))
    return out


def _state_orphans(target_path: str) -> list[str]:
    """``.old-<batch_id>`` directory names next to ``target_path``,
    sorted by batch id ascending. Names whose suffix is not an integer
    (a foreign or truncated directory that merely shares the prefix)
    are not part of the swap protocol and are skipped — recovery runs
    before every fold, so raising on them would permanently wedge the
    sink."""
    parent = os.path.dirname(target_path) or "."
    base = os.path.basename(target_path)
    if not os.path.isdir(parent):
        return []
    keyed: list[tuple[int, str]] = []
    for nm in os.listdir(parent):
        if not nm.startswith(base + ".old-"):
            continue
        try:
            keyed.append((int(nm.rsplit("-", 1)[1]), nm))
        except ValueError:
            continue
    return [nm for _, nm in sorted(keyed)]


def _recover_state(target_path: str, ledger: str | None = None) -> None:
    """Crash-window repair for the state-swap protocol, run by the
    WRITER before every fold (Structured Streaming executes one
    foreachBatch at a time per query, so the writer owns the
    directory). Each ``.old-<id>`` orphan identifies which window the
    crash hit, decided by its batch's ledger marker:

    - marker PRESENT: swap and marker both landed, only the
      post-marker cleanup was lost — the orphan is garbage, drop it
      (left in place, it would wedge a later attempt to displace the
      target under the same name).
    - marker ABSENT, target present: the swap completed but the
      marker write was lost — ROLL BACK (drop the post-fold target,
      restore the pre-fold orphan) so the replayed batch folds
      exactly once instead of double-counting.
    - marker ABSENT, target missing: crash between the two renames —
      restore the orphan so the fold resumes from the last committed
      state instead of silently resetting the monoid.

    Ledger-less sinks (HLL register-max, KMV k-min — idempotent
    semilattices) pass ``ledger=None``: replaying onto post-fold
    state is a no-op by idempotency, so an orphan beside a live
    target is simply dropped and a missing target restores from the
    newest orphan. A stale ``.staged-<id>`` dir, in any window, is
    simply overwritten by the replay's staged write."""
    parent = os.path.dirname(target_path) or "."
    pending: list[str] = []
    for nm in _state_orphans(target_path):
        path = os.path.join(parent, nm)
        bid = nm.rsplit("-", 1)[1]
        committed = (
            ledger is not None
            and os.path.exists(os.path.join(ledger, f"batch-{bid}"))
        ) or (ledger is None and os.path.exists(target_path))
        if committed:
            shutil.rmtree(path)
        else:
            pending.append(path)
    if not pending:
        return
    # At most one batch can be in flight, so at most one uncommitted
    # orphan exists; if several somehow do, the newest is the last
    # committed pre-fold state — keep it, drop the rest.
    for path in pending[:-1]:
        shutil.rmtree(path)
    newest = pending[-1]
    if os.path.exists(target_path):
        # Swap landed, marker did not: the target holds an UNRECORDED
        # fold — roll back to the pre-fold state and let the replay
        # fold it once. (A crash inside this rollback re-enters one of
        # the handled windows: no-target ⇒ restore, both ⇒ re-run.)
        shutil.rmtree(target_path)
    os.rename(newest, target_path)


def _commit_state(
    df: DataFrame,
    target_path: str,
    batch_id: int,
    marker: str | None = None,
) -> None:
    """The shared state-swap protocol: write the new fold to a STAGED
    directory (never read + overwrite one path in a single job), swap
    via rename, record the ledger ``marker`` (when the sink's algebra
    needs one), and only THEN drop the displaced state — the marker
    must land while the pre-fold state is still on disk, or a crash
    after the swap would leave an unrecorded fold that a replay
    double-counts and nothing to roll back to. Every crash window
    this leaves open is repaired by :func:`_recover_state`."""
    old = _swap_state_keep_old(df, target_path, batch_id)
    if marker is not None:
        with open(marker, "w") as f:
            f.write("")
    if os.path.exists(old):
        shutil.rmtree(old)


def _swap_state_keep_old(
    df: DataFrame, target_path: str, batch_id: int
) -> str:
    """The swap half of the protocol alone: stage, displace, rename —
    leaving the displaced ``.old-<id>`` state ON DISK and writing no
    marker, so a MULTI-state sink can swap each of its state paths and
    land ONE ledger marker after all of them (the curation composite).
    Until that marker lands, every swap remains rollback-able by
    :func:`_recover_state`; the caller removes the returned old dir
    after the marker. Returns the old-state path."""
    staged = f"{target_path}.staged-{batch_id}"
    df.write.mode("overwrite").parquet(staged)
    old = f"{target_path}.old-{batch_id}"
    if os.path.exists(old):
        # A leftover from a crashed attempt of this same batch that
        # recovery already resolved — garbage; drop it so the
        # displacement rename below cannot fail on an existing dir.
        shutil.rmtree(old)
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.rename(staged, target_path)
    return old


def _live_state_path(target_path: str) -> str:
    """READ-ONLY crash-window fallback for the estimate functions: a
    concurrent foreachBatch writer may be mid-swap, and a reader that
    renames directories would race the writer's own renames — so a
    reader never mutates. If the target is missing, read the newest
    orphan (the last committed state) in place."""
    if os.path.exists(target_path):
        return target_path
    orphans = _state_orphans(target_path)
    if orphans:
        parent = os.path.dirname(target_path) or "."
        return os.path.join(parent, orphans[-1])
    return target_path


def _read_state(spark, target_path: str) -> DataFrame:
    """Read the live state with ONE retry. :func:`_live_state_path` is
    check-then-read: a concurrent writer's rollback/swap can remove the
    resolved path between the ``exists`` check and Spark's file
    listing. The writer's swap is a bounded two-rename sequence, so by
    the time a failed read re-resolves, either the new target or its
    orphan is in place — a single re-resolution closes the practical
    window (a second consecutive miss means the state genuinely does
    not exist, and the error should surface)."""
    try:
        return spark.read.parquet(_live_state_path(target_path))
    except Exception:
        return spark.read.parquet(_live_state_path(target_path))


def merge_upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    keys: list[str],
    order_col: str | None = None,
) -> bool:
    """Apply one micro-batch as a keyed MERGE into the parquet table
    at ``target_path``; returns False (no-op) if ``batch_id`` is
    already in the ledger — the replay guard that turns at-least-once
    delivery into exactly-once table state.

    ``order_col``: when a batch can carry several rows per key, the
    row with the max ``order_col`` wins (latest-wins dedup via one
    in-batch window); None asserts the caller ships unique keys.

    Write protocol: merge into a STAGED directory (never read and
    overwrite the same path in one job), then swap via rename and only
    then record the marker. A crash before the marker re-runs the
    merge on replay — safe, because MERGE of the same updates is
    idempotent on table state.
    """
    spark = batch_df.sparkSession
    ledger = target_path + "_applied"
    os.makedirs(ledger, exist_ok=True)
    marker = os.path.join(ledger, f"batch-{batch_id}")
    if os.path.exists(marker):
        return False
    _recover_state(target_path, ledger)
    updates = batch_df
    if order_col is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
        updates = (
            updates.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") == 1)
            .drop("__rk")
        )
    if os.path.exists(target_path):
        merged = merge_upsert_df(spark.read.parquet(target_path), updates, keys)
    else:
        merged = updates
    _commit_state(merged, target_path, batch_id, marker)
    return True


def merge_upsert_sink(
    target_path: str, keys: list[str], order_col: str | None = None
):
    """``foreachBatch`` callable: ``writeStream.foreachBatch(
    merge_upsert_sink(path, ["k"], order_col="ts"))``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert_batch(batch_df, batch_id, target_path, keys, order_col)

    return sink


def hll_register_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    col: str,
    m: int = 64,
) -> None:
    """Fold one micro-batch into a persistent HLL register-state table
    — streaming distinct-count maintenance, the streaming face of the
    batch tier's sketch-merge proofs (aggregates.hll_daily_merge).

    The state is (reg, m_r): m rows max, regardless of stream volume.
    Unlike the MERGE sink above, NO batch-id ledger is needed for
    exactly-once state: register-max is a bounded join-semilattice
    (associative + commutative + IDEMPOTENT), so replaying a batch
    after a crash folds the same maxes in again and changes nothing.
    At-least-once delivery is automatically exactly-once table state —
    the property the proof query pins (`hll_daily_user_merge`) is
    precisely what makes this sink crash-safe by construction.

    Write protocol: fold into a staged directory, swap via rename
    (never read + overwrite one path in a single job). At 100 TB the
    per-batch cost is one map-side register fold over the batch plus a
    ≤m-row merge — the cheapest possible distinct-count maintenance.
    """
    from ..operators.aggregates import _hll_registers

    spark = batch_df.sparkSession
    regs = _hll_registers(batch_df, col, m, [])
    _recover_state(target_path)
    if os.path.exists(target_path):
        regs = (
            spark.read.parquet(target_path)
            .unionByName(regs)
            .groupBy("reg")
            .agg(F.max("m_r").alias("m_r"))
        )
    _commit_state(regs, target_path, batch_id)


def hll_register_sink(target_path: str, col: str, m: int = 64):
    """``foreachBatch`` callable maintaining a streaming HLL state:
    ``writeStream.foreachBatch(hll_register_sink(path, "user_id"))``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        hll_register_batch(batch_df, batch_id, target_path, col, m)

    return sink


def hll_state_estimate(spark, target_path: str, m: int = 64) -> DataFrame:
    """Assemble the distinct-count estimate from a register-state
    table maintained by :func:`hll_register_sink` — identical
    arithmetic to the batch sketch, so streamed state and a batch
    recompute over the same rows yield the SAME (approx, V, rho_sum)."""
    from ..operators.aggregates import _hll_estimate

    return _hll_estimate(_read_state(spark, target_path), m, [])


def cms_grid_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    col: str,
    depth: int = 4,
    width: int = 512,
) -> bool:
    """Fold one micro-batch's Count-Min grid into a persistent cell
    table by CELL-WISE ADDITION — the monoid counterpart of
    :func:`hll_register_batch`, and the case that shows when the
    batch-id ledger is genuinely REQUIRED: counter addition is
    associative and commutative but NOT idempotent, so a replayed
    batch would double-count every cell. The ledger (same recipe as
    the MERGE sink) turns at-least-once delivery back into
    exactly-once state; the paired test demonstrates the corruption
    when it is bypassed.

    State is <= depth*width (i, pos, cnt) rows regardless of volume;
    per-batch cost is one map-side grid fold plus a tiny-cell merge.
    Returns False if the batch was already applied.
    """
    from ..operators.aggregates import _cms_grid

    spark = batch_df.sparkSession
    ledger = target_path + "_applied"
    os.makedirs(ledger, exist_ok=True)
    marker = os.path.join(ledger, f"batch-{batch_id}")
    if os.path.exists(marker):
        return False
    _recover_state(target_path, ledger)
    grid = _cms_grid(batch_df, col, depth, width)
    if os.path.exists(target_path):
        grid = (
            spark.read.parquet(target_path)
            .unionByName(grid)
            .groupBy("i", "pos")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
    _commit_state(grid, target_path, batch_id, marker)
    return True


def cms_grid_sink(target_path: str, col: str, depth: int = 4, width: int = 512):
    """``foreachBatch`` callable maintaining a streaming CMS grid:
    ``writeStream.foreachBatch(cms_grid_sink(path, "user_id"))``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cms_grid_batch(batch_df, batch_id, target_path, col, depth, width)

    return sink


def kmv_state_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    col: str,
    k: int = 256,
) -> None:
    """Fold one micro-batch into a persistent KMV k-min hash state —
    the second IDEMPOTENT sketch sink: k-min-union (union the hash
    sets, keep the k smallest distinct) is, like HLL's register max,
    a bounded join-semilattice, so replaying a batch re-unions the
    same hashes and changes nothing. No batch-id ledger needed; state
    is <= k rows of (h) regardless of stream volume. Same staged-
    write + rename protocol as the other sinks.
    """
    from ..functions.hashing import md5_long

    spark = batch_df.sparkSession
    hashes = batch_df.select(
        md5_long(F.col(col).cast("string")).alias("h")
    ).distinct()
    _recover_state(target_path)
    if os.path.exists(target_path):
        hashes = spark.read.parquet(target_path).unionByName(hashes).distinct()
    state = hashes.orderBy(F.col("h").asc()).limit(k)
    _commit_state(state, target_path, batch_id)


def kmv_state_sink(target_path: str, col: str, k: int = 256):
    """``foreachBatch`` callable maintaining a streaming KMV state."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        kmv_state_batch(batch_df, batch_id, target_path, col, k)

    return sink


def kmv_state_estimate(spark, target_path: str, k: int = 256) -> DataFrame:
    """Distinct-count estimate from a :func:`kmv_state_sink` state —
    the same estimator as the batch sketch (aggregates.kmv_distinct),
    so streamed state and a batch recompute over the same rows agree
    exactly."""
    from ..operators.aggregates import KMV_HASH_SPACE

    topk = _read_state(spark, target_path)
    est = F.when(F.col("m") < k, F.col("m")).otherwise(
        F.round(
            F.lit(float((k - 1) * KMV_HASH_SPACE)) / F.col("hk").cast("double")
        ).cast("long")
    )
    return topk.agg(
        F.count(F.lit(1)).alias("m"), F.max("h").alias("hk")
    ).select(est.alias("est_distinct"))


def histogram_state_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    value_col: str,
    bin_width: float = 25.0,
) -> bool:
    """Fold one micro-batch's fixed-boundary value histogram into a
    persistent bucket table by COUNT ADDITION — the second MONOID
    sink: bucket counts, like CMS cells, add rather than max/union,
    so a replayed batch would double-count and the batch-id ledger is
    REQUIRED (same recipe as the MERGE and CMS sinks). State is one
    row per nonzero bucket; any later quantile probe reads the
    buckets, never the stream. Returns False if already applied.
    """
    spark = batch_df.sparkSession
    ledger = target_path + "_applied"
    os.makedirs(ledger, exist_ok=True)
    marker = os.path.join(ledger, f"batch-{batch_id}")
    if os.path.exists(marker):
        return False
    _recover_state(target_path, ledger)
    grid = (
        batch_df.where(F.col(value_col).isNotNull())
        .select(
            F.floor(F.col(value_col).cast("double") / F.lit(bin_width))
            .cast("long")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if os.path.exists(target_path):
        grid = (
            spark.read.parquet(target_path)
            .unionByName(grid)
            .groupBy("bucket")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
    _commit_state(grid, target_path, batch_id, marker)
    return True


def histogram_state_sink(target_path: str, value_col: str, bin_width: float = 25.0):
    """``foreachBatch`` callable maintaining a streaming histogram."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        histogram_state_batch(batch_df, batch_id, target_path, value_col, bin_width)

    return sink


# ---------------------------------------------------------------------------
# Streaming drift monitor: frozen-reference PSI per micro-batch
# ---------------------------------------------------------------------------

def _psi_bins(value_col: str, bin_width: float, n_bins: int):
    """The exact clamped-bin expression psi_drift uses."""
    return (
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(n_bins - 1),
                F.floor(F.col(value_col).cast("double") / F.lit(bin_width)),
            ),
        )
        .cast("int")
        .alias("bin")
    )


def freeze_psi_reference(
    ref_df: DataFrame,
    ref_path: str,
    value_col: str,
    bin_width: float = 25.0,
    n_bins: int = 20,
) -> None:
    """Materialize the FROZEN reference bin-count table a PSI monitor
    compares every micro-batch state against — built once from a
    trusted window (training data, last stable week), then never
    touched by the stream."""
    (
        ref_df.where(F.col(value_col).isNotNull())
        .select(_psi_bins(value_col, bin_width, n_bins))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .write.mode("overwrite")
        .parquet(ref_path)
    )


def psi_bin_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    value_col: str,
    bin_width: float = 25.0,
    n_bins: int = 20,
) -> bool:
    """Fold one micro-batch's clamped-bin counts into the monitor's
    cumulative state — a MONOID (counts add), so the batch-id ledger
    is REQUIRED for replay safety, same recipe as the CMS/histogram
    sinks. State is <= n_bins rows. Returns False if already applied.
    """
    spark = batch_df.sparkSession
    ledger = target_path + "_applied"
    os.makedirs(ledger, exist_ok=True)
    marker = os.path.join(ledger, f"batch-{batch_id}")
    if os.path.exists(marker):
        return False
    _recover_state(target_path, ledger)
    grid = (
        batch_df.where(F.col(value_col).isNotNull())
        .select(_psi_bins(value_col, bin_width, n_bins))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    if os.path.exists(target_path):
        grid = (
            spark.read.parquet(target_path)
            .unionByName(grid)
            .groupBy("bin")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
    _commit_state(grid, target_path, batch_id, marker)
    return True


def psi_monitor_sink(
    target_path: str,
    ref_path: str,
    value_col: str,
    bin_width: float = 25.0,
    n_bins: int = 20,
):
    """``foreachBatch`` drift monitor: fold the batch into the
    cumulative bin state, then score the state against the frozen
    reference with :func:`..operators.timeseries.psi_from_counts`
    and APPEND one (batch_id, n_ref, n_cur, psi) row to
    ``target_path + "_monitor"`` — the alert log a production drift
    dashboard tails (PSI reads: <0.1 stable, 0.1-0.25 drifting,
    >0.25 shifted). The monitor append rides the SAME ledger
    decision as the state fold, so a replayed batch adds neither
    counts nor a duplicate log row; term math is identical to the
    oracle-verified batch operator (event_value_psi), so the last
    monitor row over a replayed split reproduces the batch number
    bit-for-bit.
    """
    from ..operators.timeseries import psi_from_counts

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        applied = psi_bin_batch(
            batch_df, batch_id, target_path, value_col, bin_width, n_bins
        )
        if not applied:
            return
        spark = batch_df.sparkSession
        ref = spark.read.parquet(ref_path)
        cur = spark.read.parquet(target_path)
        (
            psi_from_counts(ref, cur, n_bins)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .select("batch_id", "n_ref", "n_cur", "psi")
            .write.mode("append")
            .parquet(target_path + "_monitor")
        )

    return sink


def freeze_conformal_calibration(
    calib_df: DataFrame,
    ref_path: str,
    group_col: str,
    value_col: str,
    id_col: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
) -> None:
    """Materialize the FROZEN per-group (mean, qhat) conformal
    calibration the coverage monitor scores every micro-batch against
    — built once from a trusted window, never touched by the stream
    (the freeze_psi_reference recipe applied to the conformal tier).
    """
    from ..operators.quality import conformal_calibrate

    (
        conformal_calibrate(
            calib_df, group_col, value_col, id_col,
            alpha_num=alpha_num, alpha_den=alpha_den,
        )
        .write.mode("overwrite")
        .parquet(ref_path)
    )


def conformal_cover_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    ref_path: str,
    group_col: str,
    value_col: str,
) -> bool:
    """Fold one micro-batch's per-group (n_seen, n_covered) counts
    into the monitor's cumulative state — a MONOID (counts add), so
    the batch-id ledger is REQUIRED for replay safety, same recipe as
    the PSI/CMS/histogram sinks. covered = |value − mean| ≤ qhat
    against the frozen broadcast calibration; state is |groups| rows.
    Returns False if the batch was already applied.
    """
    spark = batch_df.sparkSession
    ledger = target_path + "_applied"
    os.makedirs(ledger, exist_ok=True)
    marker = os.path.join(ledger, f"batch-{batch_id}")
    if os.path.exists(marker):
        return False
    _recover_state(target_path, ledger)
    ref = spark.read.parquet(ref_path).select(group_col, "mean_v", "qhat")
    grid = (
        batch_df.where(F.col(value_col).isNotNull())
        .join(F.broadcast(ref), group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seen"),
            F.sum(
                F.when(
                    F.abs(
                        F.col(value_col).cast("double") - F.col("mean_v")
                    )
                    <= F.col("qhat"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    if os.path.exists(target_path):
        grid = (
            spark.read.parquet(target_path)
            .unionByName(grid)
            .groupBy(group_col)
            .agg(
                F.sum("n_seen").cast("long").alias("n_seen"),
                F.sum("n_covered").cast("long").alias("n_covered"),
            )
        )
    _commit_state(grid, target_path, batch_id, marker)
    return True


def conformal_monitor_sink(
    target_path: str,
    ref_path: str,
    group_col: str,
    value_col: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
):
    """``foreachBatch`` conformal-coverage monitor: fold the batch
    into the cumulative per-group coverage state, then APPEND one
    (batch_id, group, n_seen, n_covered, coverage, breach) row per
    group to ``target_path + "_monitor"`` — the alert log that says
    whether the deployed interval still holds its ≥ 1−α guarantee on
    live data (a breach means the exchangeability assumption broke:
    drift). The breach test is EXACT integer arithmetic
    (n_covered·den < n_seen·(den−num)), no float thresholds; the
    monitor append rides the same ledger decision as the state fold,
    so a replayed batch adds neither counts nor a duplicate log row.
    The cumulative state over a replayed split reproduces the batch
    operator's (conformal_intervals) n_test/coverage bit-for-bit —
    pinned in tests/test_streaming_sinks.py.
    """
    cov_num = alpha_den - alpha_num

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        applied = conformal_cover_batch(
            batch_df, batch_id, target_path, ref_path, group_col, value_col
        )
        if not applied:
            return
        spark = batch_df.sparkSession
        cur = spark.read.parquet(target_path)
        (
            cur.select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                F.col(group_col),
                "n_seen",
                "n_covered",
                F.round(
                    F.col("n_covered").cast("double")
                    / F.col("n_seen").cast("double"),
                    6,
                ).alias("coverage"),
                (
                    F.col("n_covered") * F.lit(alpha_den)
                    < F.col("n_seen") * F.lit(cov_num)
                ).alias("breach"),
            )
            .write.mode("append")
            .parquet(target_path + "_monitor")
        )

    return sink


# ------------------------------------------------------------- dedup gate

def freeze_dedup_index(
    corpus_df: DataFrame,
    ref_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    bands: int = 4,
    n: int = 3,
) -> None:
    """Materialize the FROZEN corpus near-dup index the streaming gate
    probes every micro-batch: the slim (doc, band_id, key) banded
    MinHash relation at ``ref_path + "_keys"`` and the (doc, n_sh,
    shingles) verify relation at ``ref_path + "_shingles"`` — band
    keys computed exactly as minhash_lsh_pairs computes them, so a
    gate verdict equals the batch operator's on the same pair. Built
    once from the accepted corpus, never touched by the stream (the
    freeze_psi_reference recipe applied to the dedup tier)."""
    from ..operators.dedup import minhash_index_relations

    # The helper persists the shared shingle subtree so the two writes
    # shingle the corpus once; the scope frees it once both are on disk.
    with storage_scope():
        keys, sh = minhash_index_relations(
            corpus_df, id_col, text_col, k=k, bands=bands, n=n
        )
        keys.write.mode("overwrite").parquet(ref_path + "_keys")
        sh.write.mode("overwrite").parquet(ref_path + "_shingles")


def neardup_gate_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    ref_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
) -> bool:
    """Gate one micro-batch of incoming documents against the frozen
    corpus index: batch band keys bucket-join the index keys
    (candidates), candidates verify with exact Jaccard on the shingle
    sets (zero false positives — LSH only bounds recall), and the
    (n_seen, n_dups) counts fold into the cumulative MONOID state at
    ``target_path`` under the batch-id ledger (replay-safe). Verified
    rejects append to ``target_path + "_rejects"`` — (batch_id,
    doc_id, matched_doc, jaccard), the quarantine log an ingestion
    pipeline reviews — riding the same ledger decision, so a replayed
    batch adds neither counts nor duplicate log rows.
    Returns False if the batch was already applied."""
    from ..operators.dedup import neardup_gate_log

    spark = batch_df.sparkSession
    ledger = target_path + "_applied"
    os.makedirs(ledger, exist_ok=True)
    marker = os.path.join(ledger, f"batch-{batch_id}")
    if os.path.exists(marker):
        return False
    _recover_state(target_path, ledger)
    ikeys = spark.read.parquet(ref_path + "_keys")
    ish = spark.read.parquet(ref_path + "_shingles")
    # ONE shared probe construction (candidates by band-key bucket
    # join + exact-Jaccard verify) for the streaming gate and the
    # batch registry twin — bit-identical by having one copy.
    rejects = neardup_gate_log(
        batch_df, ikeys, ish, id_col, text_col,
        k=k, bands=bands, n=n, threshold=threshold,
    )
    rejects = track_persist(rejects)
    grid = batch_df.agg(
        F.count(F.lit(1)).cast("long").alias("n_seen")
    ).crossJoin(
        F.broadcast(
            rejects.agg(
                F.countDistinct("doc_in").cast("long").alias("n_dups")
            )
        )
    )
    if os.path.exists(target_path):
        grid = (
            spark.read.parquet(target_path)
            .unionByName(grid)
            .agg(
                F.sum("n_seen").cast("long").alias("n_seen"),
                F.sum("n_dups").cast("long").alias("n_dups"),
            )
        )
    _commit_state(grid, target_path, batch_id, marker)
    # Quarantine-log append AFTER the commit (swap + marker), like
    # the psi/conformal monitor appends: a crash between the marker
    # and this append loses this batch's log rows but never
    # double-counts the fold (a crash before the marker now ROLLS
    # BACK via _recover_state and replays cleanly) — the module's
    # established trade.
    rejects.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
        "append"
    ).parquet(target_path + "_rejects")
    return True


def neardup_gate_sink(
    target_path: str,
    ref_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
):
    """``foreachBatch`` streaming near-duplicate gate — incremental
    dedup at the ingestion boundary: every incoming document is
    checked against the FROZEN accepted-corpus LSH index (candidates
    by band-key bucket join, verified with exact Jaccard — the same
    algebra as the batch minhash_lsh_pairs, so gate verdicts match
    the batch operator's pair set on the same data, pinned in
    tests/test_streaming_sinks.py), verified rejects land in the
    quarantine log, and the cumulative (n_seen, n_dups) monoid tracks
    the live dup rate. Replay-safe via the batch-id ledger."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        with storage_scope():
            neardup_gate_batch(
                batch_df, batch_id, target_path, ref_path,
                id_col=id_col, text_col=text_col,
                k=k, bands=bands, n=n, threshold=threshold,
            )

    return sink


def pack_stream_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    seq_len: int = 512,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack",
) -> bool:
    """Fold one micro-batch of documents into the STREAMING sequence
    packer — incremental training-batch assembly at the ingestion
    boundary, the streaming twin of ``packing.pack_sequences``
    (reference has no streaming tier; this extends SURVEY §2.10's
    batch/stream no-drift discipline to the packing family).

    State at ``target_path``: one (shard, cum_tokens) row per shard —
    each shard's committed token-stream length. The batch's docs get
    the SAME (shard, n_tokens) projection as the batch packer (the
    shared ``packing.pack_base``, so stream and batch cannot drift),
    a within-batch running offset per shard (one balanced window, the
    batch operator's exact shape), and a start_offset = carry +
    within-batch offset. pack_id = start_offset // seq_len, exactly
    the batch formula — so a stream whose batches arrive in id order
    assigns BYTE-IDENTICAL packs to ``pack_sequences`` over the
    concatenated input (pinned in tests/test_streaming_sinks.py).

    Exactly-once: the batch-id ledger + the shared two-rename state
    swap (crash windows repaired by ``_recover_state``). The per-batch
    assignment log lands in ``<target>_assignments/batch-<id>`` BEFORE
    the state commit: a replay recomputes it from the same pre-fold
    carry and overwrites the same directory with the same bytes, so
    every crash window leaves the log deterministic.

    Scale shape: state is ``n_shards`` rows forever; the only shuffle
    is the batch-sized window partitioned on shard (balanced by the
    uniform content hash); the carry join broadcasts ``n_shards``
    rows. Nothing grows with stream volume except the append-only
    assignment log — which is the product.
    """
    spark = batch_df.sparkSession
    ledger = target_path + "_applied"
    os.makedirs(ledger, exist_ok=True)
    marker = os.path.join(ledger, f"batch-{batch_id}")
    if os.path.exists(marker):
        return False
    _recover_state(target_path, ledger)

    carry = _pack_carry(spark, target_path)
    asg = _pack_fold(batch_df, carry, seq_len, n_shards, id_col, text_col, salt)
    log_dir = os.path.join(target_path + "_assignments", f"batch-{batch_id}")
    asg.write.mode("overwrite").parquet(log_dir)

    new_state = _pack_state_fold(spark, carry, log_dir)
    _commit_state(new_state, target_path, batch_id, marker)
    return True


def _pack_carry(spark, target_path: str) -> DataFrame:
    """The packer's committed per-shard carry, or the empty monoid."""
    if os.path.exists(target_path):
        return spark.read.parquet(_live_state_path(target_path))
    return spark.createDataFrame([], "shard int, cum_tokens long")


def _pack_fold(
    batch_df: DataFrame,
    carry: DataFrame,
    seq_len: int,
    n_shards: int,
    id_col: str,
    text_col: str,
    salt: str,
) -> DataFrame:
    """ONE copy of the streaming packer's per-batch assignment algebra
    (shared ``packing.pack_base`` projection + the balanced per-shard
    window + carry join), extracted so :func:`pack_stream_batch` and
    the curation composite fold identically — the same no-drift
    discipline as ``pack_base`` itself."""
    from pyspark.sql import Window

    from ..operators.packing import pack_base

    base = pack_base(batch_df, id_col, text_col, n_shards, salt)
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    return (
        base.withColumn("_within", within)
        .join(F.broadcast(carry), "shard", "left")
        .select(
            id_col,
            "shard",
            "n_tokens",
            (F.coalesce("cum_tokens", F.lit(0)) + F.col("_within"))
            .cast("long")
            .alias("start_offset"),
        )
        .withColumn(
            "pack_id",
            F.floor(F.col("start_offset") / F.lit(seq_len)).cast("long"),
        )
    )


def _pack_state_fold(spark, carry: DataFrame, log_dir: str) -> DataFrame:
    """Fold one batch's WRITTEN assignment log into the carry monoid —
    reading the log back (not re-deriving it) so the committed state
    and the on-disk assignments can never disagree."""
    batch_tot = (
        spark.read.parquet(log_dir)
        .groupBy("shard")
        .agg(F.sum("n_tokens").cast("long").alias("add_tokens"))
    )
    return (
        carry.join(batch_tot, "shard", "full")
        .select(
            "shard",
            (
                F.coalesce("cum_tokens", F.lit(0))
                + F.coalesce("add_tokens", F.lit(0))
            )
            .cast("long")
            .alias("cum_tokens"),
        )
    )


def pack_stream_sink(
    target_path: str,
    seq_len: int = 512,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """``foreachBatch`` callable for the streaming sequence packer:
    ``writeStream.foreachBatch(pack_stream_sink(path))``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        pack_stream_batch(
            batch_df, batch_id, target_path,
            seq_len=seq_len, n_shards=n_shards,
            id_col=id_col, text_col=text_col,
        )

    return sink


def pack_stream_assignments(
    spark,
    target_path: str,
    id_col: str = "doc_id",
    id_type: str = "long",
) -> DataFrame:
    """Read the streaming packer's cumulative assignment log (every
    committed batch's (id, shard, n_tokens, start_offset, pack_id)
    rows). An uncommitted batch directory may appear after a crash;
    its content is deterministic and the replay overwrites it with
    identical bytes, so readers never see torn assignments — UNLESS
    the stream never resumes, in which case the last crash-window
    batch stays visible here (deterministic, but its state fold never
    committed; resuming the stream repairs it).

    A never-started stream (no batch ever committed) reads as an EMPTY
    assignment relation, not a path error — the same empty-relation
    posture as the rest of the engine's degenerate-input contract.
    ``id_col``/``id_type`` only shape that empty schema (the packer's
    id column passes through with its source type)."""
    root = target_path + "_assignments"
    if not os.path.isdir(root) or not any(
        name.startswith("batch-") for name in os.listdir(root)
    ):
        return spark.createDataFrame(
            [],
            f"{id_col} {id_type}, shard int, n_tokens int, "
            "start_offset long, pack_id long",
        )
    return spark.read.parquet(os.path.join(root, "batch-*"))


# --------------------------------------------------------------------------
# Streaming curation composite: scrub -> quality -> near-dup gate -> packer
# --------------------------------------------------------------------------


def curate_stream_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    ref_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_min: float = 0.45,
    min_tokens: int = 5,
    max_tokens: int = 5000,
    seq_len: int = 512,
    n_shards: int = 8,
    salt: str = "pack",
    k: int = 12,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
) -> bool:
    """The END-TO-END streaming curation composite — the streaming
    twin of the batch ``curated_documents`` → ``pack_sequences``
    chain, assembled from the SAME shared constructions so stream and
    batch cannot drift (pinned in tests/test_streaming_sinks.py):

    1. **Scrub / incremental exact dedup** — every arriving doc's
       normalized md5 fingerprint (``dedup.fingerprint``, the
       ``curated_documents`` keep-CTE's exact hash) folds into the
       cumulative SEEN-fingerprint state; a doc survives only if its
       fingerprint is new to the corpus AND it is the min-id claimant
       within its batch. ALL arriving fingerprints are folded —
       including quality-rejected docs' — because the batch semantics
       let a low-quality first arrival claim the fingerprint (keep =
       min(doc_id) per fingerprint over the WHOLE corpus).
    2. **Quality gate** — ``textops.quality_features`` score >=
       ``quality_min`` and token count in [min_tokens, max_tokens]:
       the identical predicate ``curated_documents`` applies.
    3. **Near-dup gate** (optional, ``ref_path``) — survivors probe
       the FROZEN accepted-corpus LSH index via the one
       ``dedup.neardup_gate_log`` construction; verified matches are
       dropped. Frozen index ⇒ a doc's verdict is a property of the
       doc alone, so per-batch gating equals gating the batch twin's
       whole curated relation.
    4. **Packer** — survivors fold into the per-shard sequence-packer
       carry via the SAME ``_pack_fold`` the standalone
       ``pack_stream_batch`` uses.

    ONE ledger marker governs the batch's BOTH state folds (seen
    fingerprints at ``<target>_fps``, packer carry at
    ``<target>_pack``): each state swaps via
    ``_swap_state_keep_old`` and the marker lands only after both —
    any crash before it rolls BOTH states back (``_recover_state``
    sees marker-absent orphans), so a replay recomputes the SAME
    survivors from the same pre-fold state. This is why the composite
    cannot reuse two independent sinks: with per-subsystem ledgers, a
    crash between commits would replay the batch against a
    fingerprint state that already contains the batch's own
    fingerprints, silently scrubbing every doc.

    Per-batch logs (deterministic overwrite, written BEFORE the
    swaps, byte-identical on replay): accepted docs at
    ``<target>_curated/batch-<id>`` and pack assignments at
    ``<target>_assignments/batch-<id>`` (readable with
    :func:`pack_stream_assignments`).

    Scale shape: fingerprint state is the distinct-content ledger
    (16-byte keys — the honest linear cost of exact incremental
    dedup; joins shuffle hashes, never text); packer state is
    ``n_shards`` rows forever; gate probes are band-key bucket joins
    against the frozen index. Nothing else grows with stream volume
    except the append-only logs, which are the product.
    """
    from ..operators.dedup import fingerprint

    spark = batch_df.sparkSession
    ledger = target_path + "_applied"
    os.makedirs(ledger, exist_ok=True)
    marker = os.path.join(ledger, f"batch-{batch_id}")
    if os.path.exists(marker):
        return False
    fp_path = target_path + "_fps"
    pk_path = target_path + "_pack"
    _recover_state(fp_path, ledger)
    _recover_state(pk_path, ledger)

    if os.path.exists(fp_path):
        seen = spark.read.parquet(_live_state_path(fp_path))
    else:
        seen = spark.createDataFrame([], "fp string")

    # (1) scrub: first-arrival (min id) per UNSEEN fingerprint.
    fps = batch_df.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fp")
    )
    # The scope frees the batch's persists even when a Spark action
    # throws mid-batch, so a failed foreachBatch retry leaks nothing.
    with storage_scope():
        firsts = track_persist(
            fps.groupBy("fp")
            .agg(F.min(id_col).alias(id_col))
            .join(seen, "fp", "left_anti")
        )
        return _curate_stream_batch_body(
            batch_df, batch_id, target_path, ref_path, spark, seen,
            firsts, marker, fp_path, pk_path, id_col, text_col,
            quality_min, min_tokens, max_tokens, seq_len, n_shards,
            salt, k, bands, n, threshold,
        )


def _curate_stream_batch_body(
    batch_df, batch_id, target_path, ref_path, spark, seen, firsts,
    marker, fp_path, pk_path, id_col, text_col, quality_min,
    min_tokens, max_tokens, seq_len, n_shards, salt, k, bands, n,
    threshold,
) -> bool:
    from ..operators import textops as tx
    from ..operators.dedup import neardup_gate_log

    scrubbed = batch_df.join(firsts.select(id_col), id_col, "left_semi")

    # (2) quality gate — the curated_documents predicate.
    q = tx.quality_features(scrubbed, id_col, text_col).filter(
        (F.col("quality_score") >= quality_min)
        & F.col("n_tokens").between(min_tokens, max_tokens)
    )
    gated = scrubbed.join(q.select(id_col), id_col, "left_semi")

    # (3) near-dup gate against the frozen accepted-corpus index.
    if ref_path is not None:
        ikeys = spark.read.parquet(ref_path + "_keys")
        ish = spark.read.parquet(ref_path + "_shingles")
        rejects = neardup_gate_log(
            gated, ikeys, ish, id_col, text_col,
            k=k, bands=bands, n=n, threshold=threshold,
        )
        survivors = gated.join(
            rejects.select(F.col("doc_in").alias(id_col)).distinct(),
            id_col,
            "left_anti",
        )
    else:
        survivors = gated

    # (4) packer fold over the survivors (shared _pack_fold algebra).
    carry = _pack_carry(spark, pk_path)
    asg = _pack_fold(
        survivors, carry, seq_len, n_shards, id_col, text_col, salt
    )

    # Deterministic per-batch logs BEFORE any state swap: a replay
    # recomputes them from the rolled-back pre-fold state and
    # overwrites the same directories with the same bytes.
    cur_dir = os.path.join(target_path + "_curated", f"batch-{batch_id}")
    survivors.write.mode("overwrite").parquet(cur_dir)
    asg_dir = os.path.join(target_path + "_assignments", f"batch-{batch_id}")
    asg.write.mode("overwrite").parquet(asg_dir)

    # Both state folds, then the ONE marker, then cleanup.
    new_fp = seen.unionByName(firsts.select("fp")).distinct()
    new_pk = _pack_state_fold(spark, carry, asg_dir)
    old_fp = _swap_state_keep_old(new_fp, fp_path, batch_id)
    old_pk = _swap_state_keep_old(new_pk, pk_path, batch_id)
    with open(marker, "w") as f:
        f.write("")
    for old in (old_fp, old_pk):
        if os.path.exists(old):
            shutil.rmtree(old)
    return True


def versioned_append_sink(target_table: str):
    """``foreachBatch`` callable appending each micro-batch to a
    manifest-versioned table (operators/versioned.py) exactly once —
    the Delta streaming-sink idempotence model (``txnAppId``/
    ``txnVersion``) jar-free: the manifest commit carries the stream's
    ``batch_id``; a crash-replayed batch (same id) is detected and
    skipped, so at-least-once delivery + idempotent commit =
    exactly-once table state, AND every micro-batch is a time-
    travelable version (``read_version_diff`` gives a downstream
    consumer the per-batch increment).

    Usage::

        stream.writeStream.foreachBatch(versioned_append_sink(path))
    """
    from ..operators.versioned import append_versioned_stream

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        append_versioned_stream(batch_df, target_table, batch_id)

    return sink


def curate_stream_sink(
    target_path: str,
    ref_path: str | None = None,
    **kwargs,
):
    """``foreachBatch`` callable for the streaming curation composite:
    ``writeStream.foreachBatch(curate_stream_sink(path, ref))``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        curate_stream_batch(batch_df, batch_id, target_path, ref_path, **kwargs)

    return sink


def curate_stream_curated(
    spark, target_path: str, schema: str | None = None
) -> DataFrame:
    """Read the composite's cumulative accepted-document log (every
    committed batch's survivor rows, full batch schema).

    A never-started stream reads as an EMPTY relation. Committed
    batches pass through whatever schema the stream carries, so the
    empty relation must carry the SAME one (ADVICE r14) — pass
    ``schema`` (DDL string) when the stream's schema differs from the
    default documents-table shape
    (``doc_id/text/lang/source/n_chars``), else a reader that unions
    or schema-matches the empty result against later logs mismatches.
    """
    root = target_path + "_curated"
    if not os.path.isdir(root) or not any(
        nm.startswith("batch-") for nm in os.listdir(root)
    ):
        return spark.createDataFrame(
            [],
            schema
            or "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )
    return spark.read.parquet(os.path.join(root, "batch-*"))
