"""The benchmark's workloads and the closed loop that drives them.

One client in one process: each op starts only after the previous one
has finished. Registry workloads repeat passes over their op list, in an
order the seed shuffles anew for every pass; ``lakehouse_writes``
repeats a seeded cycle of commits and reads on a versioned table, each
cycle starting from the same committed state.
"""

from __future__ import annotations

import datetime
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa

from checks import LakeReplay, Oracle, spark_fingerprint
from datagen import PRIORITIES
from tracing import Tracer, plan_counters

# Star-schema dashboard rows. Table loads (each launches a parquet schema
# job), plan build and planning take about a third of each op at sf0.1.
DASHBOARD = [
    "top_regions_by_orders",
    "weekday_activity",
    "pricing_summary",
    "nation_market_share",
    "priority_status_cube",
    "asof_latest_order",
    "user_sessions",
]
# name -> (registry ops or None for the versioned-table cycle, scale factor)
WORKLOADS = {
    "dashboard": (DASHBOARD, 0.1),
    "lakehouse_writes": (None, 0.1),
}
# Untimed cycles before the window opens. They also commit the state every
# measured cycle starts from.
LAKE_WARMUP_CYCLES = 1
# The versioned table holds the orders of this many latest months, one
# partition each: every commit and read costs about the same per file
# whatever the rows, so fewer months give more cycles in a window.
LAKE_MONTHS = 24


@dataclass
class Run:
    """State of one benchmark run: the session, its inputs, the tracer
    and everything measured."""

    spark: object
    root: str
    data_dir: str
    work_dir: str
    seconds: float
    trace: bool
    rng: object
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    check_s: float = 0.0  # time spent checking outputs, not the program's
    on_start: object = None  # called when the measured window opens
    t_first_op: float = 0.0
    setup_check_s: float = 0.0
    recording: bool = False  # false during warm-up
    # op name -> latencies in ms, of untraced and of traced ops
    lat: dict = field(default_factory=dict)
    lat_traced: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED {what}", file=sys.stderr)

    def record(self, name: str, ms: float) -> None:
        if self.recording:
            lat = self.lat_traced if self.tracer.enabled else self.lat
            lat.setdefault(name, []).append(ms)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_read(run: Run, name: str, build, layer: str, sink=_noop):
    """One read op: build the DataFrame, execute it into ``sink`` and
    release the session's tracked persists. Returns whether the op
    succeeded, and what the sink returned."""
    from yelp_data_pipeline_spark.session import release_tracked

    tr = run.tracer
    run.attempted += 1
    t0 = time.perf_counter()
    try:
        with tr.span("op", op=name):
            with tr.span(layer):
                df = build()
            if tr.enabled:
                with tr.span("plan") as s:
                    s.update(plan_counters(df))
            with tr.span("exec"):
                out = sink(df)
            with tr.span("session") as s:
                released = release_tracked()
                if tr.enabled:
                    s["released"] = released
                    s["leaked_rdds"] = run.spark.sparkContext._jsc.getPersistentRDDs().size()
    except Exception:
        traceback.print_exc()
        run.fail(name)
        return False, None
    run.record(name, (time.perf_counter() - t0) * 1000.0)
    return True, out


# Seconds past the window the loop waits for an op that keeps failing to
# give a sample before it stops anyway.
_GRACE_S = 30.0


def closed_loop(run: Run, one_pass, names: list[str]) -> None:
    """Run passes of ops (``one_pass()`` yields after each op) until
    ``run.seconds`` have elapsed and every op in ``names`` has a sample.
    A traced run alternates untraced and traced passes, so it measures
    its own tracing overhead."""
    run.t_first_op = time.perf_counter()
    run.setup_check_s = run.check_s
    if run.on_start is not None:
        run.on_start()
    run.recording = True
    end = run.t_first_op + run.seconds

    def done() -> bool:
        now = time.perf_counter()
        wanted = (run.lat, run.lat_traced) if run.trace else (run.lat,)
        return now >= end + _GRACE_S or now >= end and all(
            all(n in lat for n in names) for lat in wanted
        )

    i = 0
    while not done():
        run.tracer.enabled = run.trace and i % 2 == 1
        for _ in one_pass():
            if done():
                break
        i += 1
    run.tracer.enabled = False
    run.recording = False


# --------------------------------------------------------------------------
# Registry workloads
# --------------------------------------------------------------------------


def _traced_loads(run: Run) -> None:
    """Record ``load_table`` calls as ``tables`` spans. Registry modules
    call it through the name bound in ``registry/core.py``, so that name
    is wrapped as well as the defining one."""
    from yelp_data_pipeline_spark import tables
    from yelp_data_pipeline_spark.registry import core

    core.load_table = run.tracer.wrap("tables", core.load_table)
    tables.load_table = run.tracer.wrap("tables", tables.load_table)


def registry_workload(run: Run, ops: list[str]) -> None:
    from yelp_data_pipeline_spark import TABLES
    from yelp_data_pipeline_spark.queries import registry
    from yelp_data_pipeline_spark.session import release_tracked

    specs = {s.name: s for s in registry()}
    if run.trace:
        _traced_loads(run)
    oracle = Oracle(run.root, run.data_dir, TABLES, os.path.join(run.data_dir, "_oracle"))
    try:
        # Warm-up pass, which is also the output check: each op's result
        # is collected once and compared with its oracle.
        for name in ops:
            spec = specs[name]
            run.attempted += 1
            try:
                df = spec.fn(run.spark, run.data_dir)
                cols = df.columns
                rows = [tuple(r) for r in df.collect()]
                release_tracked()
            except Exception:
                traceback.print_exc()
                run.fail(name)
                continue
            t0 = time.perf_counter()
            try:
                problems = oracle.compare(spec.oracle, cols, rows)
            except duckdb.Error as e:
                problems = [f"oracle error: {e}"]
            run.check_s += time.perf_counter() - t0
            if problems:
                run.fail(f"{name}: {'; '.join(problems)}")
    finally:
        oracle.close()

    def one_pass():
        order = list(ops)
        run.rng.shuffle(order)
        for name in order:
            run_read(
                run, name,
                lambda fn=specs[name].fn: fn(run.spark, run.data_dir),
                "registry",
            )
            yield

    # The check pass is the only warm-up. The JVM keeps getting faster over
    # the next few passes, which the window's per-op medians absorb: in
    # runs alternated on one host, spending the time of untimed passes on
    # a longer window instead gave steadier medians across runs.
    closed_loop(run, one_pass, ops)


# --------------------------------------------------------------------------
# lakehouse_writes
# --------------------------------------------------------------------------

_ORDER_COLS = [
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")),
    ("o_orderpriority", pa.string()),
    ("o_month", pa.int32()),
]


def _month_start(m: int) -> datetime.datetime:
    return datetime.datetime(m // 100, m % 100, 1)


def _dir_sizes(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for nm in names:
            p = os.path.join(root, nm)
            out[p] = os.path.getsize(p)
    return out


class Lake:
    """The versioned orders table and the seeded op sequence run on it."""

    def __init__(self, run: Run):
        from pyspark.sql import functions as F
        from yelp_data_pipeline_spark.tables import load_table

        self.run = run
        self.table = os.path.join(run.work_dir, "lake", "orders")
        t0 = time.perf_counter()
        self.replay = LakeReplay(os.path.join(run.data_dir, "orders.parquet"), LAKE_MONTHS)
        self.months = [r[0] for r in self.replay.con.execute(
            "SELECT DISTINCT o_month FROM t0 ORDER BY 1").fetchall()]
        run.check_s += time.perf_counter() - t0
        self.src = load_table(run.spark, run.data_dir, "orders").withColumn(
            "o_month",
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("int"),
        ).filter(F.col("o_month").isin(self.months))
        t0 = time.perf_counter()
        self.n_cust, self.next_key = self.replay.con.execute(
            "SELECT (SELECT count(*) FROM read_parquet(?)), max(o_orderkey) + 1 FROM t0",
            [os.path.join(run.data_dir, "customer.parquet")],
        ).fetchone()
        run.check_s += time.perf_counter() - t0
        self.log: list[dict] = []
        self.commit_ms: list[float] = []
        self.written_bytes = 0
        self.scanned_ratios: list[float] = []
        self._files: dict[str, int] = {}
        self.cycles = 0
        # The committed state each measured cycle starts from: a copy of
        # the table directory, and the files in it.
        self.base = os.path.join(run.work_dir, "lake", "base")
        self._base_files: dict[str, int] | None = None
        # Manifest counters of the measured commits, summed cycle by cycle
        # because a reset deletes the cycle's manifests.
        self._counted = 0
        self._manifests = {"commits": 0, "written": 0, "rewritten": 0, "kept": 0, "bytes": 0}

    def _new_rows(self, n: int, months: list[int]) -> pa.Table:
        rng = self.run.rng
        cols: dict[str, list] = {c: [] for c, _ in _ORDER_COLS}
        for _ in range(n):
            m = rng.choice(months)
            cols["o_orderkey"].append(self.next_key)
            self.next_key += 1
            cols["o_custkey"].append(rng.randrange(self.n_cust))
            cols["o_orderstatus"].append(rng.choice("FOP"))
            cols["o_totalprice"].append(rng.randrange(100_000, 50_000_000) / 100)
            cols["o_orderdate"].append(_month_start(m) + datetime.timedelta(days=rng.randrange(28)))
            cols["o_orderpriority"].append(rng.choice(PRIORITIES))
            cols["o_month"].append(m)
        return pa.table({c: pa.array(cols[c], t) for c, t in _ORDER_COLS})

    def _spark_rows(self, rows: pa.Table):
        return self.run.spark.createDataFrame(
            [tuple(r.values()) for r in rows.to_pylist()], self.src.schema
        )

    def create(self) -> None:
        from yelp_data_pipeline_spark.operators import versioned as vt

        vt.create_versioned(self.src, self.table, partition_by=["o_month"])
        self.log.append({"kind": "create", "version": 0})
        self._files = _dir_sizes(self.table)

    def snapshot(self) -> None:
        """Make the table as it stands the state every later cycle starts
        from."""
        shutil.copytree(self.table, self.base)
        self._base_files = dict(self._files)
        self.log.append({"kind": "snapshot"})

    def _reset(self) -> None:
        """Put the table back to the snapshot, so every measured cycle runs
        its ops on the same number of files, versions and deletion vectors
        however many cycles the window holds."""
        self._count_manifests()
        shutil.rmtree(self.table)
        shutil.copytree(self.base, self.table)
        self._files = dict(self._base_files)
        self.log.append({"kind": "reset"})

    def _commit(self, kind: str, fn, entry: dict) -> None:
        from yelp_data_pipeline_spark.operators import versioned as vt

        run, tr = self.run, self.run.tracer
        before = vt.latest_version(self.table)
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=kind):
                with tr.span(f"versioned.{kind}"):
                    fn()
        except Exception:
            traceback.print_exc()
            run.fail(kind)
            return
        ms = (time.perf_counter() - t0) * 1000.0
        run.record(kind, ms)
        after = vt.latest_version(self.table)
        entry.update(kind=kind, measured=run.recording,
                     version=after if after != before else None)
        self.log.append(entry)
        if entry["version"] is not None:
            files = _dir_sizes(self.table)
            if run.recording:
                self.commit_ms.append(ms)
                self.written_bytes += sum(
                    s for p, s in files.items() if p not in self._files
                )
            self._files = files

    def cycle(self):
        """One seeded cycle of commits and reads; yields after each op."""
        from pyspark.sql import functions as F
        from yelp_data_pipeline_spark.operators import versioned as vt

        run, rng, spark, t = self.run, self.run.rng, self.run.spark, self.table
        if self._base_files is not None:
            self._reset()
        # MERGE of one or two months, alternately: a quarter of their
        # orders repriced, plus new orders. Alternating (rather than
        # drawing) the count keeps the cost of a run's few cycles the same
        # across seeds.
        self.cycles += 1
        months = rng.sample(self.months, 1 + self.cycles % 2)
        start = vt.latest_version(t)
        r, delta = rng.randrange(4), float(rng.randint(1, 9))
        rows = self._new_rows(10, months)
        updates = (
            self.src.filter(F.col("o_month").isin(months) & (F.col("o_orderkey") % 4 == r))
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(delta))
            .unionByName(self._spark_rows(rows))
        )
        self._commit(
            "merge",
            lambda: vt.merge_versioned(spark, updates, t, keys=["o_orderkey"]),
            {"months": months, "r": r, "delta": delta, "rows": rows},
        )
        yield
        # File-pruned UPDATE inside one month.
        m, status = rng.choice(self.months), rng.choice("FOP")
        where = f"o_month = {m} AND o_orderpriority = '{rng.choice(PRIORITIES)}'"
        self._commit(
            "update",
            lambda: vt.update_versioned(spark, t, where, {"o_orderstatus": f"'{status}'"}),
            {"where": where, "set_duck": f"o_orderstatus = '{status}'"},
        )
        yield
        # Deletion-vector DELETE of a slice of one month.
        where_d = f"o_month = {rng.choice(self.months)} AND o_custkey % 13 = {rng.randrange(13)}"
        self._commit(
            "delete",
            lambda: vt.delete_versioned(spark, t, where_d, mode="dv"),
            {"where": where_d},
        )
        yield
        # APPEND into one month, then OPTIMIZE that month's files.
        m_app = rng.choice(self.months)
        rows_a = self._new_rows(50, [m_app])
        appended = self._spark_rows(rows_a)
        self._commit("append", lambda: vt.append_versioned(appended, t), {"rows": rows_a})
        yield
        self._commit(
            "optimize",
            lambda: vt.optimize_versioned(spark, t, partition_filter={"o_month": m_app}),
            {},
        )
        yield
        # Reads: the latest snapshot, the snapshot this cycle started from
        # (time travel), and a stats-pruned date range of the latest
        # snapshot. Each computes the snapshot's fingerprint, which the
        # check compares.
        latest = vt.latest_version(t)
        self._read("read_latest", lambda: vt.read_version(spark, t), latest)
        yield
        self._read("read_version", lambda: vt.read_version(spark, t, start), start)
        yield
        lo = _month_start(rng.choice(self.months))
        hi = lo + datetime.timedelta(days=30)
        conds = {"o_orderdate": (lo, hi)}
        self._read(
            "read_pruned", lambda: vt.read_version_pruned(spark, t, conds), latest,
            where=f"o_orderdate BETWEEN TIMESTAMP '{lo}' AND TIMESTAMP '{hi}'",
        )
        if run.recording:
            m_latest = vt.read_manifest(t, latest)
            kept = vt.prune_files_by_stats(m_latest, conds)
            self.scanned_ratios.append(len(kept) / max(len(m_latest["files"]), 1))
        yield

    def _read(self, name: str, build, version: int, where: str | None = None) -> None:
        layer = "versioned.read_pruned" if where else "versioned.read"
        ok, fp = run_read(self.run, name, build, layer, sink=spark_fingerprint)
        if ok:
            self.log.append({"kind": "read", "op": name, "version": version,
                             "where": where, "fp": fp})

    def check(self) -> tuple[int, int]:
        """Compare every read's fingerprint, and that of the final
        snapshot, with the DuckDB replay of the logged ops. Returns the
        user rows the measured commits changed and the rows live at the
        end."""
        from yelp_data_pipeline_spark.operators import versioned as vt

        run = self.run
        final = vt.latest_version(self.table)
        self.log.append({
            "kind": "read", "op": "final snapshot", "version": final, "where": None,
            "fp": spark_fingerprint(vt.read_version(run.spark, self.table, final)),
        })
        history = {0: self.replay.fingerprint()}
        base_history = history
        user_rows = 0
        for e in self.log:
            if e["kind"] == "snapshot":
                self.replay.save_base()
                base_history = dict(history)
            elif e["kind"] == "reset":
                self.replay.restore_base()
                history = dict(base_history)
            elif e["kind"] == "read":
                expected = (
                    self.replay.fingerprint(e["where"]) if e["where"]
                    else history[e["version"]]
                )
                run.attempted += 1
                if e["fp"] != expected:
                    run.fail(f"lakehouse {e['op']} of v{e['version']}: "
                             f"spark={e['fp']} duckdb={expected}")
            elif e["kind"] != "create":
                n = self.replay.apply(e)
                if e["version"] is not None:
                    history[e["version"]] = self.replay.fingerprint()
                    if e["measured"]:
                        user_rows += n
        return user_rows, history[final][0]

    def amplification(self, user_rows: int, live_rows: int) -> dict:
        """Bytes written per byte of user rows changed, and bytes on disk
        per byte of the latest snapshot's files; a row's bytes are those
        of the latest snapshot's files over its live rows."""
        from yelp_data_pipeline_spark.operators import versioned as vt

        m = vt.read_manifest(self.table, vt.latest_version(self.table))
        live = sum(os.path.getsize(os.path.join(self.table, f)) for f in m["files"])
        on_disk = sum(_dir_sizes(self.table).values())
        row_bytes = live / max(live_rows, 1)
        return {
            "versioned.write_amp": self.written_bytes / max(user_rows * row_bytes, 1.0),
            "versioned.space_amp": on_disk / max(live, 1),
        }

    def _count_manifests(self) -> None:
        """Add the files written, rewritten and re-referenced, and the
        manifest sizes, of the measured commits not counted yet."""
        from yelp_data_pipeline_spark.operators import versioned as vt

        c = self._manifests
        for e in self.log[self._counted:]:
            v = e.get("version")
            if not e.get("measured") or v is None:
                continue
            prev = set(vt.read_manifest(self.table, v - 1)["files"])
            cur = set(vt.read_manifest(self.table, v)["files"])
            c["commits"] += 1
            c["written"] += len(cur - prev)
            c["rewritten"] += len(prev - cur)
            c["kept"] += len(prev & cur)
            c["bytes"] += os.path.getsize(os.path.join(self.table, "_manifest", f"v{v:08d}.json"))
        self._counted = len(self.log)

    def manifest_counters(self) -> dict:
        """Files written, rewritten and re-referenced per commit, and
        manifest sizes, over the commits the window measured."""
        self._count_manifests()
        c = self._manifests
        n = max(c["commits"], 1)
        return {
            "versioned.files_written": c["written"] / n,
            "versioned.files_rewritten_ratio": c["rewritten"] / max(c["kept"], 1),
            "versioned.manifest_bytes": c["bytes"] / n,
            "versioned.files_scanned_ratio": (
                sum(self.scanned_ratios) / max(len(self.scanned_ratios), 1)
            ),
        }


COMMITS = ["merge", "update", "delete", "append", "optimize"]
LAKE_READS = ["read_latest", "read_version", "read_pruned"]


def lakehouse_workload(run: Run) -> Lake:
    lake = Lake(run)
    lake.create()
    for _ in range(LAKE_WARMUP_CYCLES):
        for _ in lake.cycle():
            pass
    lake.snapshot()
    closed_loop(run, lake.cycle, COMMITS + LAKE_READS)
    return lake
