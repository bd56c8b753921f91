"""Layered lakehouse benchmark: one closed-loop client on local[nproc].

Usage (from the repository root)::

    python3 perfbench/run.py --workload headline_mix --seed 1 --seconds 8 --trace 0

Workloads are defined in ``perfbench/workloads.py`` and listed with their
reasons in ``BENCHMARK.json``. One process and one thread issue every
operation, each after the previous one finished. A run:

1. pins the host (cores, memory, local and scratch dirs inside the
   checkout) and writes the input tables (``perfbench/datagen.py``) and
   the engine's derived-table caches once per checkout, before any clock
   starts;
2. starts a session and registers the workload's schema families
   ``SETUP_ROUNDS`` times, then warms the last session up with untimed
   passes that also check every output; ``setup_s`` is the median round
   plus the warm-up;
3. runs whole passes until ``--seconds`` have elapsed, checking each
   operation's row count or aggregate;
4. for ``lakehouse_write``, checks from a fresh session that every head
   equals DuckDB's recomputation and every unexpired version is readable.

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics, and the spans and
``Workload_log_BASE_<pass>.ndjson`` records go to
``.perfbench/out/<workload>-seed<seed>/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DATA_DIR = os.path.join(WORK, "data", "sf0.1")
SETUP_ROUNDS = 3
DRIVER_MEM_MB = 4096
WORKLOADS = ("headline_mix", "lakehouse_write")


def pin_host() -> dict:
    """Environment for the engine and Spark, set before either is imported.
    Every directory Spark, the engine or Python writes to lies in WORK."""
    cores = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem_mb = min(DRIVER_MEM_MB, phys_mb // 3)
    dirs = {k: os.path.join(WORK, k) for k in ("spark-local", "scratch", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_SCRATCH_DIR": dirs["scratch"],
        "SPARK_GRAFT_SF_DIR": DATA_DIR,
        "TMPDIR": dirs["tmp"],
        # Every JVM the run starts (the spark-submit launcher too) keeps its
        # temp files in the checkout and writes no /tmp/hsperfdata.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {"cores": cores, "driver_mem_mb": mem_mb, "phys_mem_mb": phys_mb}


SESSION_CONF = {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}


def source_stamp() -> dict:
    """Provenance: git HEAD when the tree is a repository, and a hash of
    the engine sources either way (the benchmark's checkout is not a git
    repository)."""
    git_head = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                  capture_output=True, text=True, timeout=10)
            git_head = head.stdout.strip() or None
        except OSError:
            pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "lakehouse_variance_spark")
    for base, dirs, names in os.walk(pkg):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(base, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return {"git_head": git_head, "engine_sha256": h.hexdigest()[:16]}


def ensure_prepared(stamp: dict) -> float:
    """Builds the derived-table caches in a child process when the engine
    sources changed since the last build in this checkout, so no timed
    run (and no ``setup_s``) pays a cold cache build. Returns its time."""
    marker = os.path.join(WORK, "prepared.json")
    try:
        with open(marker) as fh:
            if json.load(fh) == stamp:
                return 0.0
    except (OSError, ValueError):
        pass
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare"],
                   check=True, timeout=900, stdout=sys.stderr)
    with open(marker, "w") as fh:
        json.dump(stamp, fh)
    return time.perf_counter() - t0


def prepare() -> None:
    from lakehouse_variance_spark.session import build_session
    from perfbench.workloads import family_registrars

    spark = build_session(app_name="perfbench-prepare",
                          extra_conf=SESSION_CONF)
    try:
        for fn in family_registrars():
            fn(spark, DATA_DIR)
    finally:
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stops the session, then the JVM, and waits for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Runner:
    """Owns the session, the setup rounds and the timed loop of one run."""

    def __init__(self, args, host: dict):
        from perfbench import workloads

        self.args = args
        self.host = host
        self.wl = workloads.make(args.workload, args.seed, DATA_DIR,
                                 os.path.join(WORK, "work"))
        self.spark = None
        self.retired = []  # stopped sessions stay referenced: no id() reuse
        self.session_s: list[float] = []
        self.rounds_s: list[float] = []
        self.register_s: list[float] = []
        self.warm_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.spans: list[dict] = []

    def new_session(self) -> None:
        from lakehouse_variance_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
            self.retired.append(self.spark)
        t0 = time.perf_counter()
        self.spark = build_session(app_name=f"perfbench-{self.args.workload}",
                                   extra_conf=SESSION_CONF)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s.append(time.perf_counter() - t0)

    def ctx(self):
        from perfbench.workloads import Ctx

        return Ctx(self.spark, DATA_DIR)

    def set_up(self, t_process: float) -> float:
        """Returns ``setup_s``: the median of ``SETUP_ROUNDS`` rounds of
        session start and schema-family registration, plus the untimed
        warm-up that follows in the last session. The first round is timed
        from process start, so it also holds the engine import and the JVM
        start. The warm-up checks every output (see the workloads) and
        brings the session and the JVM's JIT to the plateau the timed
        passes measure."""
        from lakehouse_variance_spark import registry

        for r in range(SETUP_ROUNDS):
            t0 = t_process if r == 0 else time.perf_counter()
            if r == 0:
                registry.load_all()
            self.new_session()
            t_reg = time.perf_counter()
            self.wl.register(self.ctx())
            self.register_s.append(time.perf_counter() - t_reg)
            self.rounds_s.append(time.perf_counter() - t0)
        t_warm = time.perf_counter()
        n, failed = self.wl.warm_up(self.ctx())
        self.warm_s = time.perf_counter() - t_warm
        self.attempted += n
        self.failed += failed
        return statistics.median(self.rounds_s) + self.warm_s

    def timed(self, seconds: float, traced: bool) -> tuple[list[dict], float]:
        from perfbench.trace import OpClock, StoreReader, op_layers

        spark = self.spark
        sc = spark.sparkContext
        ctx = self.ctx()
        reader = StoreReader(spark) if traced else None
        ops: list[dict] = []
        n_pass = 0
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < seconds:
            n_pass += 1
            for label, item in self.wl.next_pass():
                op_id = len(ops)
                group = f"perfbench-op-{op_id}"
                sc.setJobGroup(group, label)
                clock = OpClock(op_id, label)
                err = None
                try:
                    out = self.wl.run_op(ctx, item, clock)
                except Exception as exc:  # noqa: BLE001 - counted as failed
                    out, err = {}, str(exc).splitlines()[0][:300] if str(exc) else repr(exc)
                    clock.mark("error", "error")
                rec = {"op": op_id, "pass": n_pass, "query_id": label,
                       "kind": out.get("kind", "query"), "wall_s": clock.wall,
                       "ok": err is None, **{k: v for k, v in out.items() if k != "kind"}}
                if err:
                    rec["error"] = err
                    print(f"# op failure {label}: {err}", flush=True)
                if traced:
                    rec["family"] = catalog_family(spark)
                    rec["spans"] = clock.durations()
                    layers, store_spans = op_layers(
                        clock, reader.new_executions(), reader.group_jobs(group),
                        self.host["cores"])
                    rec.update(layers)
                    self.spans += [s.as_dict() for s in clock.spans + store_spans]
                ops.append(rec)
        elapsed = time.perf_counter() - t_start
        sc.setJobGroup("", "")
        self.attempted += len(ops)
        self.failed += sum(1 for r in ops if not r["ok"])
        return ops, elapsed

    def verify_lakehouse(self) -> list[str]:
        """From a fresh session: heads against DuckDB, versions readable."""
        from perfbench.workloads import verify_head, verify_versions

        self.new_session()
        ctx = self.ctx()
        errors = []
        for ep in self.wl.episodes:
            errors += verify_head(ctx, ep)
            errors += verify_versions(ctx, ep)
        self.attempted += 2 * len(self.wl.episodes)
        self.failed += len(errors)
        return errors


def catalog_family(spark) -> str:
    """Which schema family owns the shared view names right now, read
    from the catalog layer's ownership token."""
    from lakehouse_variance_spark.plans.synth_common import catalog_state_get

    token = catalog_state_get(spark)
    if not token:
        return "none"
    if token[0] == "defs":
        return os.path.basename(os.path.dirname(token[1]))
    return str(token[0])


def ops_per_min(ops: list[dict]) -> float:
    """Throughput of the median pass: every pass runs the same operations,
    so one pass slowed by a neighbour on the host does not move it."""
    spans: dict[int, list[float]] = {}
    for r in ops:
        spans.setdefault(r["pass"], []).append(r["wall_s"])
    per_pass = [len(v) * 60.0 / sum(v) for v in spans.values() if sum(v) > 0]
    return statistics.median(per_pass) if per_pass else 0.0


def op_p50_gmean(ops: list[dict]) -> float:
    """Geometric mean over the workload's operations of each operation's
    median latency. Every pass runs the same few operations, so the median
    of all latencies would be one operation's value that jumps when the
    order of two operations with close latencies flips; this weighs each
    operation once."""
    by_op: dict[str, list[float]] = {}
    for r in ops:
        by_op.setdefault(r["query_id"], []).append(r["wall_s"])
    meds = [statistics.median(v) for v in by_op.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else 0.0


def end_to_end(setup_s: float, ops: list[dict]) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_gmean_s": (op_p50_gmean(ops), "s"),
        "op_p90_s": (percentile([r["wall_s"] for r in ops], 90), "s"),
        "ops_per_min": (ops_per_min(ops), "1/min"),
    }


def peak_rss_mb() -> float:
    """VmHWM of the driver JVM plus this process. Printed, not gated: the
    JVM's heap growth moves it by up to half between runs."""
    from pyspark import SparkContext

    return vm_hwm_mb(SparkContext._gateway.proc.pid) + vm_hwm_mb("self")


def lakehouse_extras(runner: Runner, ops: list[dict]) -> dict:
    eps = runner.wl.episodes
    commits = [r["wall_s"] for r in ops if r["kind"] == "append"]
    reads = [r["wall_s"] for r in ops if r["kind"] == "read"]
    return {
        "commit_p50_s": (percentile(commits, 50), "s"),
        "read_p50_s": (percentile(reads, 50), "s"),
        "write_amp": (statistics.median(ep.write_amp() for ep in eps), "ratio"),
        "space_amp": (statistics.median(ep.space_amp() for ep in eps), "ratio"),
    }


def per_layer(runner: Runner, ops: list[dict]) -> dict:
    """Per-layer metrics of the traced run: means per operation unless the
    name says otherwise. Every workload reports every metric; a layer a
    workload does not reach reads 0."""
    n = max(1, len(ops))

    def mean(key: str, rows=ops) -> float:
        return sum(r.get(key, 0.0) for r in rows) / max(1, len(rows))

    def span_mean(name: str) -> float:
        rows = [r for r in ops if name in r.get("spans", {})]
        return sum(r["spans"][name] for r in rows) / max(1, len(rows))

    writes = [r for r in ops if r["kind"] in ("append", "delete", "optimize")]
    eps = getattr(runner.wl, "episodes", [])
    rewritten = [x for ep in eps for x in ep.rewritten]
    per_read = [x for ep in eps for x in ep.reads]
    exec_total = sum(r.get("exec_s", 0.0) for r in ops)
    run_total = sum(r.get("task_run_s", 0.0) for r in ops)
    families = [r.get("family") for r in ops]
    switches = sum(1 for a, b in zip(families, families[1:]) if a != b)
    sum_err = max((abs(sum(r.get(k, 0.0) for k in LAYER_KEYS) - r["wall_s"])
                   / r["wall_s"] * 100.0 for r in ops if r["wall_s"] > 0), default=0.0)
    m = {
        "session.start_s": (statistics.median(runner.session_s), "s"),
        "catalog.s": (mean("catalog_s"), "s"),
        "catalog.view_execs": (mean("view_execs"), "count"),
        "catalog.family_switches": (switches / n, "count"),
        "builder.s": (mean("builder_s"), "s"),
        "builder.eager_exec_s": (mean("builder_eager_exec_s"), "s"),
        "builder.jobs": (mean("builder_jobs"), "count"),
        "catalyst.plan_s": (mean("catalyst_s"), "s"),
        "exec.s": (mean("exec_s"), "s"),
        "exec.sql_execs": (mean("sql_execs"), "count"),
        "exec.jobs": (mean("jobs"), "count"),
        "exec.stages": (mean("stages"), "count"),
        "exec.tasks": (mean("tasks"), "count"),
        "exec.task_run_s": (mean("task_run_s"), "s"),
        "exec.task_cpu_s": (mean("task_cpu_s"), "s"),
        "exec.core_util": (run_total / (exec_total * runner.host["cores"])
                           if exec_total else 0.0, "ratio"),
        "exec.input_mb": (mean("input_mb"), "MB"),
        "exec.shuffle_read_mb": (mean("shuffle_read_mb"), "MB"),
        "exec.shuffle_write_mb": (mean("shuffle_write_mb"), "MB"),
        "exec.spill_mb": (mean("spill_mb"), "MB"),
        "driver.residual_s": (mean("driver_residual_s"), "s"),
        "snapshots.s": (mean("snapshots_s"), "s"),
        "snapshots.append_s": (span_mean("write_snapshot"), "s"),
        "snapshots.delete_s": (span_mean("delete_from_snapshot"), "s"),
        "snapshots.optimize_s": (span_mean("optimize_snapshot"), "s"),
        "snapshots.expire_s": (span_mean("expire_snapshots"), "s"),
        "snapshots.read_s": (span_mean("read_snapshot"), "s"),
        "snapshots.files_written": (mean("files", writes), "count"),
        "snapshots.bytes_written_mb": (mean("bytes", writes) / 2**20, "MB"),
        "snapshots.files_rewritten_per_delete": (
            sum(rewritten) / len(rewritten) if rewritten else 0.0, "count"),
        "snapshots.files_per_read": (
            sum(per_read) / len(per_read) if per_read else 0.0, "count"),
        "trace.layer_sum_err_pct": (sum_err, "%"),
        "trace.op_p50_gmean_s": (op_p50_gmean(ops), "s"),
        "trace.ops_per_min": (ops_per_min(ops), "1/min"),
    }
    return m


# Self-time fields that partition an operation's wall time.
LAYER_KEYS = ("builder_s", "snapshots_s", "catalyst_s", "catalog_s", "exec_s",
              "driver_residual_s", "error_s")


def write_trace(runner: Runner, ops: list[dict], out_dir: str) -> None:
    """Spans plus one ``Workload_log_BASE_<pass>.ndjson`` per pass, then the
    paper's Table-1 variance row per layer over those logs."""
    from pyspark.sql import functions as F

    from lakehouse_variance_spark.analytics.traces import (
        load_workload_logs,
        summarize_single_config,
    )
    from perfbench.trace import write_ndjson

    write_ndjson(os.path.join(out_dir, "spans.ndjson"), runner.spans)
    passes = sorted({r["pass"] for r in ops})
    for p in passes:
        recs = []
        for r in ops:
            if r["pass"] != p:
                continue
            ok = r["ok"]
            recs.append({
                "query_id": r["query_id"],
                "Runtime (s)": r["wall_s"] if ok else -1,
                "planning_s": r.get("catalyst_s", 0.0) if ok else -1,
                "execution_s": (r.get("exec_s", 0.0) + r.get("driver_residual_s", 0.0))
                if ok else -1,
                **{k: r[k] for k in r if k not in ("query_id", "spans", "ok")},
            })
        write_ndjson(os.path.join(out_dir, f"Workload_log_BASE_{p}.ndjson"), recs)
    # Table-1 statistics need the same sample count for every query: the
    # passes completed by every operation of the workload.
    per_pass = {p: sum(1 for r in ops if r["pass"] == p) for p in passes}
    complete = [p for p in passes if per_pass[p] == max(per_pass.values())]
    if len(complete) < 2:
        print("# table1: fewer than two complete passes, no variance row", flush=True)
        return
    log = load_workload_logs(runner.spark, out_dir).filter(
        f"run IN ({', '.join(repr(f'Run {p}') for p in complete)})")
    for col in ("runtime_s",) + tuple(k for k in LAYER_KEYS if k != "error_s"):
        if col not in log.columns:
            continue
        # CV is undefined for a query whose layer time is 0 in every pass
        # (a commit never plans); such rows are left out of that layer.
        layer_log = log.filter(F.col(col) > 0)
        row = summarize_single_config(layer_log, runtime_col=col,
                                      required_samples=len(complete)).collect()[0]
        print(f"# table1 {col}: " + " ".join(
            f"{k}={row[k]}" for k in ("mean_runtime_avg_s", "cv_avg_pct",
                                      "cv_p50_pct", "cv_p99_pct", "queries")),
            flush=True)


def emit(title: str, metrics: dict) -> None:
    for name, (value, unit) in metrics.items():
        shown = (f"{value:.6g}" if isinstance(value, float)
                 else " ".join(f"{v:.4g}" for v in value) if isinstance(value, list)
                 else str(value))
        print(f"# {title} {name} = {shown} {unit}", flush=True)


def main(argv: list[str]) -> int:
    if argv[:1] == ["--prepare"]:
        pin_host()
        prepare()
        return 0
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lakehouse_variance_spark", "registry.py")):
        print(f"error: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    host = pin_host()
    from perfbench import datagen

    t_prep = time.perf_counter()
    datagen.ensure_tables(DATA_DIR)
    stamp = source_stamp()
    ensure_prepared({"engine_sha256": stamp["engine_sha256"],
                     "data_seed": datagen.DATA_SEED})
    prepare_s = time.perf_counter() - t_prep
    t_process = time.perf_counter()
    print("# host " + json.dumps({**host,
                                   **stamp, "seed": args.seed,
                                   "workload": args.workload,
                                   "prepare_s": round(prepare_s, 3)}), flush=True)

    runner = Runner(args, host)
    setup_s = runner.set_up(t_process)
    ops, elapsed = runner.timed(args.seconds, traced=bool(args.trace))
    errors = []
    if args.workload == "lakehouse_write":
        errors = runner.verify_lakehouse()
        for e in errors:
            print(f"# check failure: {e}", flush=True)
    metrics = end_to_end(setup_s, ops)
    info = {"error_rate": (runner.failed / runner.attempted, "ratio"),
            "peak_rss_mb": (peak_rss_mb(), "MB"),
            "timed_ops": (len(ops), "count"), "timed_s": (elapsed, "s")}
    if args.workload == "lakehouse_write":
        info.update(lakehouse_extras(runner, ops))
    if args.trace:
        layers = per_layer(runner, ops)
        out_dir = os.path.join(WORK, "out", f"{args.workload}-seed{args.seed}")
        write_trace(runner, ops, out_dir)
    stop_spark(runner.spark)

    emit("end_to_end" if not args.trace else "traced_end_to_end", metrics)
    info["setup_rounds_s"] = (runner.rounds_s, "s")
    info["session_start_s"] = (runner.session_s, "s")
    info["register_s"] = (runner.register_s, "s")
    info["warm_up_s"] = (runner.warm_s, "s")
    emit("info", info)
    if args.trace:
        emit("per_layer", layers)
    result = metrics if not args.trace else layers
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
