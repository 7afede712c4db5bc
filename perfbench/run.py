"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. It generates the inputs from the
seed, starts the program's default session (``get_spark()`` at
``local[<cpus>]``), runs the workload in a closed loop for ``--seconds``,
checks the outputs and prints one JSON object as the last line of
standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs separately with spans at each layer boundary and
reports the per-layer metrics, writing the per-op records to
``.perfbench_out/``. The generated tables and the oracle's results on
them are kept in ``.perfbench_cache/`` for the next run; everything else
the run writes lives in ``.perfbench_work/`` and is deleted when the run
ends. Exits 1 when an output is wrong, 2 when the checkout holds no
program to measure.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import (  # noqa: E402
    COMMITS, LAKE_READS, WORKLOADS, Run, lakehouse_workload, registry_workload,
)

WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
CACHE = os.path.join(ROOT, ".perfbench_cache")

# Environment variables through which the program's session would
# depart from its defaults.
_SESSION_OVERRIDES = (
    "SPARK_MASTER",
    "SPARK_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_ANSI",
    "SPARK_EXCLUDED_OPTIMIZER_RULES",
    "SPARK_DRIVER_MEMORY",
)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _source_hash() -> str:
    """Digest of the package sources, which names the measured code where
    the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "yelp_data_pipeline_spark")
    for dirpath, dirnames, names in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for nm in sorted(n for n in names if n.endswith(".py")):
            path = os.path.join(dirpath, nm)
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _inputs(sf: float) -> tuple[str, float]:
    """Directory of the generated tables at ``sf``, and the seconds spent
    generating them. The tables depend only on the generator, its seed
    and ``sf``, so a checkout generates them once."""
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        key = hashlib.sha256(f.read() + f"/{datagen.DATA_SEED}/{sf}".encode()).hexdigest()[:16]
    data_dir = os.path.join(CACHE, f"data-{key}")
    if os.path.isdir(data_dir):
        return data_dir, 0.0
    tmp = f"{data_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "datagen.py"), tmp, str(datagen.DATA_SEED), str(sf)],
        check=True, timeout=120,
    )
    os.rename(tmp, data_dir)
    return data_dir, time.perf_counter() - t0


def _hwm_kb(pid: str = "self") -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _steal_total() -> tuple[int, int]:
    """Jiffies the hypervisor stole from this VM, and all jiffies."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _reset_hwm(pid: str = "self") -> None:
    """Restart peak-RSS tracking of ``pid`` from its current RSS."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass  # the peak then also covers set-up


def _stop(spark) -> None:
    """Stop the session and wait for its JVM, and with it the Python
    workers, to exit; the JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _environment(cpus: int) -> None:
    """Point the program, its JVM and its Python workers at the checkout
    and keep every scratch file inside the run's work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    for k in _SESSION_OVERRIDES:
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Executor Python workers import the package from here, whatever the
    # working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # No hsperfdata file: the JVM would write it under /tmp whatever
    # java.io.tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = tmp
    os.chdir(WORK)


def _result(correct, attempted, failed, metrics: dict, units: dict) -> dict:
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _trace_metrics(run: Run, cpus: int, log_dir: str) -> tuple[dict, list]:
    """Per-layer metrics from the traced passes, and the per-op records."""
    jobs, tasks = tracing.read_event_log(log_dir)
    spans = run.tracer.spans
    tracing.assign_jobs(spans, jobs)
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out = [s]
        for c in children.get(s["id"], []):
            out.extend(subtree(c))
        return out

    records = []
    for root in (s for s in spans if s["name"] == "op"):
        wall = (root["t1"] - root["t0"]) * 1000.0
        rec = {"op": root["op"], "wall_ms": wall,
               "coverage": 1.0 - tracing.self_ms(root, children.get(root["id"], [])) / max(wall, 1e-9)}
        layer_self: dict[str, float] = {}
        layer_jobs: dict[str, int] = {}
        for s in subtree(root)[1:]:
            name = s["name"]
            layer_self[name] = layer_self.get(name, 0.0) + tracing.self_ms(s, children.get(s["id"], []))
            layer_jobs[name] = layer_jobs.get(name, 0) + len(s["jobs"])
            if name == "tables":
                rec["tables.load_calls"] = rec.get("tables.load_calls", 0) + 1
            elif name == "plan":
                rec.update({k: v for k, v in s.items() if k.startswith("plan.")})
            elif name == "exec":
                rec.update(tracing.exec_counters(
                    s["jobs"], tasks, (s["t1"] - s["t0"]) * 1000.0, cpus))
            elif name == "session":
                rec["session.release_ms"] = (s["t1"] - s["t0"]) * 1000.0
                rec["session.released"] = s["released"]
                rec["session.leaked_rdds"] = s["leaked_rdds"]
        rec["self_ms"] = layer_self
        rec["jobs"] = layer_jobs
        rec["tables.load_ms"] = layer_self.get("tables", 0.0)
        rec["tables.jobs"] = layer_jobs.get("tables", 0)
        rec["registry.build_ms"] = layer_self.get("registry", 0.0)
        rec["registry.build_jobs"] = layer_jobs.get("registry", 0)
        records.append(rec)

    # Counters and times per op, averaged over the traced ops.
    m = {k: _mean([r.get(k, 0) for r in records]) for k in tracing.PER_LAYER
         if k.split(".")[0] in ("tables", "registry", "plan", "exec", "session")}
    execs = [r for r in records if "exec.ms" in r]
    m["exec.task_skew"] = max((r["exec.task_skew"] for r in execs), default=1.0)
    m["exec.slot_util"] = sum(r["exec.task_busy_ms"] for r in execs) / max(
        sum(r["exec.ms"] for r in execs) * cpus, 1.0)
    m["trace.coverage"] = min((r["coverage"] for r in records), default=0.0)
    # Versioned ops: latency per op type, of the whole op.
    for kind in ("merge", "update", "delete", "append", "optimize", "read", "read_pruned"):
        m[f"versioned.{kind}_ms"] = _mean(
            [r["wall_ms"] for r in records if f"versioned.{kind}" in r["self_ms"]])
    commits = [r for r in records if r["op"] in COMMITS]
    m["versioned.jobs_per_commit"] = _mean([sum(r["jobs"].values()) for r in commits])
    m["trace.overhead_pct"] = (
        (_pass_s(run.lat_traced) / _pass_s(run.lat) - 1.0) * 100.0
        if run.lat and run.lat_traced else 0.0)
    return m, records


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _pass_s(lat: dict) -> float:
    """One pass over the op list: the sum of each op's median latency."""
    return sum(stats.median(v) for v in lat.values()) / 1000.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor in place of the workload's own (tests)")
    args = ap.parse_args(argv)

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    for need in ("yelp_data_pipeline_spark/__init__.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"no program to measure: {need} is missing under {ROOT}", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ops, sf = WORKLOADS[args.workload]
    sf = args.sf or sf
    cpus = _cpus()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    cwd = os.getcwd()
    spark = None
    try:
        _environment(cpus)
        data_dir, gen_s = _inputs(sf)

        sys.path.insert(0, ROOT)
        from yelp_data_pipeline_spark.session import get_spark

        log_dir = os.path.join(WORK, "eventlog")
        extra = None
        if args.trace:
            os.makedirs(log_dir)
            extra = tracing.event_log_conf(log_dir)
        spark = get_spark(extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_PROCESS - gen_s
        run = Run(
            spark=spark, root=ROOT, data_dir=data_dir, work_dir=WORK,
            seconds=args.seconds, trace=bool(args.trace),
            rng=random.Random(args.seed), tracer=tracing.Tracer(False),
        )
        jvm_pid = str(spark.sparkContext._gateway.proc.pid)

        cpu_at_start: list[int] = []

        def window_opens() -> None:
            _reset_hwm()
            _reset_hwm(jvm_pid)
            cpu_at_start.extend(_steal_total())

        run.on_start = window_opens
        lake = None
        if ops is None:
            lake = lakehouse_workload(run)
        else:
            registry_workload(run, ops)
        peak_mb = (_hwm_kb() + _hwm_kb(jvm_pid)) / 1024.0
        steal, total = (a - b for a, b in zip(_steal_total(), cpu_at_start))
        t0 = time.perf_counter()
        if lake is not None:
            lake_m = {**lake.amplification(*lake.check()), **lake.manifest_counters(),
                      "versioned.commit_p50_ms": stats.median(lake.commit_ms)}
            lake.replay.close()
        run.check_s += time.perf_counter() - t0
        _stop(spark)
        spark = None

        setup_s = run.t_first_op - T_PROCESS - gen_s - run.setup_check_s
        ok = run.failed == 0
        host = {
            "workload": args.workload, "seed": args.seed, "sf": sf, "nproc": cpus,
            "spark": __import__("pyspark").__version__, "python": platform.python_version(),
            "commit": _git_commit(), "source_sha256": _source_hash(), "seconds": args.seconds, "trace": args.trace,
            "samples": sum(len(v) for v in run.lat.values()), "input_gen_s": gen_s,
            "session_s": session_s, "check_s": run.check_s,
            # Share of CPU time the hypervisor took from this VM during the
            # window: a busy host slows every op.
            "window_steal_pct": 100.0 * steal / max(total, 1),
            "op_ms": {k: [round(x) for x in v] for k, v in run.lat.items()},
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        if not args.trace:
            reads = [run.lat[n] for n in (ops or LAKE_READS) if n in run.lat]
            metrics = {
                "setup_s": setup_s,
                "pass_s": _pass_s(run.lat),
                # Geometric mean over read ops of each op's median latency:
                # every op weighs the same however often the window ran it,
                # and a change to any one op moves it.
                "read_geomean_ms": stats.geomean([stats.median(v) for v in reads]) if reads else 0.0,
            }
            try:
                host["read_p90_ms"] = stats.tail([x for v in reads for x in v], 0.9)
            except ValueError as e:
                host["read_p90_ms"] = f"not reported: {e}"
        else:
            metrics, records = _trace_metrics(run, cpus, log_dir)
            metrics["session.peak_rss_mb"] = peak_mb
            metrics.update(lake_m if lake is not None else {
                k: 0.0 for k in tracing.PER_LAYER
                if k.startswith("versioned.") and k not in metrics})
            os.makedirs(OUT, exist_ok=True)
            out = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
            with open(out, "w") as f:
                json.dump({"host": host, "metrics": metrics, "ops": records,
                           "spans": run.tracer.spans}, f, default=str)
            host["trace_file"] = os.path.relpath(out, ROOT)
        print(json.dumps(host))
        for k, v in metrics.items():
            print(f"{k:34s} {v:14.4f} {units[k]}")
        print(json.dumps(_result(ok, run.attempted, run.failed, metrics, units)))
        return 0 if ok else 1
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(cwd)
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
