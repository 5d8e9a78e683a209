"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run generates its inputs from
`--seed` under `.perfbench_work/`, starts one Spark session through
`db_core_spark.session.get_spark` with a pinned environment, warms up,
runs the workload as a closed loop with one client for `--seconds`
seconds, checks every result, and prints one JSON object as the last line
of stdout: `correct`, `attempted`, `failed` and `metrics` — the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. The line
before it, `report: {...}`, carries the pinned environment, sample counts
and the workload's own figures. Progress and failures go to stderr.

Exit code 2 without a result when `db_core_spark` is not next to this
directory (the benchmark measures the checkout it sits in).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("analytics", "versioned_txn")
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
}
SELF_LAYERS = ("bench", "queries", "objects", "plans", "sources")
DRIVER_MEM = "2g"  # below physical RAM; get_spark's default is 24g
DEFAULT_SF = 0.01


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    from workloads import ANALYTICS

    units = {
        "session.start_s": "s",
        "session.warm_s": "s",
        "session.peak_rss_mb": "MB",
        "tables.create_s": "s",
        "queries.build_s": "s",
        "queries.action_s": "s",
        "queries.driver_s": "s",
        "queries.jobs": "count",
        "queries.tasks": "count",
        "queries.executor_run_s": "s",
        "queries.executor_cpu_s": "s",
        "queries.gc_s": "s",
        "queries.shuffle_mb": "MB",
        "queries.spill_mb": "MB",
        "queries.stage_skew": "ratio",
    }
    units.update({f"queries.{q}_s": "s" for q in ANALYTICS})
    units.update({
        "operators.python_run_s": "s",
        "operators.python_start_s": "s",
        "operators.to_python_mb": "MB",
        "operators.from_python_mb": "MB",
        "plans.commit_s": "s",
        "plans.commit_jobs": "count",
        "plans.snapshot_plan_s": "s",
        "plans.checkpoint_s": "s",
        "plans.checkpoints": "count",
        "plans.open_s": "s",
        "plans.recovery_s": "s",
        "plans.manifests": "count",
        "plans.data_files": "count",
        "plans.conflicts": "count",
        "plans.bytes_per_user_byte": "ratio",
        "objects.put_s": "s",
        "objects.write_at_s": "s",
        "objects.read_at_s": "s",
        "objects.read_at_p90_s": "s",
        "objects.read_at_tasks": "count",
        "objects.read_snapshot_s": "s",
        "sources.append_s": "s",
        "sources.scan_s": "s",
        "sources.executor_run_s": "s",
        "sources.to_python_mb": "MB",
        "sources.from_python_mb": "MB",
    })
    units.update({f"self.{layer}_s": "s" for layer in SELF_LAYERS})
    units.update({
        "trace.wall_s": "s",
        "trace.self_sum_s": "s",
        "trace.coverage": "ratio",
        "trace.pass_s": "s",
        "trace.untraced_pass_s": "s",
        "trace.overhead_s": "s",
    })
    return units


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF, help="input scale factor")
    ap.add_argument(
        "--corrupt-expected", action="store_true",
        help="alter one expected result before checking (self-check only)",
    )
    return ap.parse_args(argv)


def pin_env(work: str, cpus: int, trace: bool) -> dict[str, str]:
    """Set the environment the program runs under, before the JVM starts
    (Python workers inherit it from the JVM). Returns what was set."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{events}",
            "--conf spark.eventLog.compress=false",
        ]
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # without it every Python UDF fails in the workers with
        # ModuleNotFoundError: db_core_spark
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }
    os.environ.update(pinned)
    return pinned


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def steal_s() -> float:
    """CPU time the hypervisor has given to other guests while this one's
    CPUs were runnable, summed over CPUs, since boot (0 where not known)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM launched for it, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ loop


def timed_loop(step, seconds: float, min_steps: int, unit: int, traced=None, tracing=None):
    """Call `step(i)` for i = 0, 1, ... until `seconds` have passed, at
    least `min_steps` untraced steps ran and the step count is a multiple
    of `unit`. `traced = (first, count)` runs steps first .. first+count-1
    between `tracing(True)` and `tracing(False)`. Returns (ops, steps,
    wall seconds, traced window as [epoch start, epoch end, perf start,
    perf end] or None)."""
    first, count = traced or (0, 0)
    ops, i = [], 0
    t0 = time.perf_counter()
    window = None
    while True:
        if count and i == first:
            tracing(True)
            window = [time.time(), None, time.perf_counter(), None]
        ops.extend(step(i))
        i += 1
        if count and i == first + count:
            tracing(False)
            window[1], window[3] = time.time(), time.perf_counter()
        done = i - count if i >= first + count else 0
        if done >= min_steps and i % unit == 0 and time.perf_counter() - t0 >= seconds:
            break
    return ops, i, time.perf_counter() - t0, window


def query_pass_s(ops, names) -> float:
    return sum(median(o.seconds for o in ops if o.kind == n and o.ok) for n in names)


def txn_pass_s(ops, iterations: int) -> float:
    """One 8-iteration cycle of the op mix: per-kind medians times their
    count per cycle, plus checkpoint time amortized over the iterations."""
    from workloads import CYCLE

    def med(kind):
        return median(o.seconds for o in ops if o.kind.startswith(kind) and o.ok)

    ckpt = sum(o.seconds for o in ops if o.kind == "checkpoint")
    return (
        CYCLE * (med("txn") + med("read_at"))
        + 2 * med("read_snapshot") + med("scan") + med("append")
        + CYCLE * ckpt / max(iterations, 1)
    )


# ----------------------------------------------------------------- main


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "db_core_spark", "__init__.py")):
        print(f"perfbench: no db_core_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    t_begin = time.perf_counter()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_env(work, cpus, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        return run(args, work, cpus, env, t_begin)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def run(args, work: str, cpus: int, env: dict, t_begin: float) -> int:
    import workloads as wl
    from spans import SpanLog

    from db_core_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    setup = {"session.start_s": time.perf_counter() - t}
    spans = SpanLog(spark.sparkContext, f"{args.workload}-{args.seed}")
    try:
        return measure(args, work, cpus, env, t_begin, spark, spans, setup, wl)
    finally:
        spans.unwrap_all()
        stop_spark(spark)


def measure(args, work, cpus, env, t_begin, spark, spans, setup, wl) -> int:
    import datagen

    queries = args.workload != "versioned_txn"
    t = time.perf_counter()
    if queries:
        data_dir = os.path.join(work, "data")
        datagen.generate(data_dir, args.sf, args.seed)
        names = wl.ANALYTICS
        workload = wl.QueryWorkload(spark, names, data_dir, args.seed, spans, cpus)
    else:
        workload = wl.VersionedTxnWorkload(spark, os.path.join(work, "store"), args.seed, spans, cpus)
        workload.create()
    setup["tables.create_s"] = time.perf_counter() - t
    t = time.perf_counter()
    warm_ops = workload.warm_up()
    setup["session.warm_s"] = time.perf_counter() - t
    setup_s = time.perf_counter() - t_begin
    wl.log(f"setup {setup_s:.1f}s " + json.dumps({k: round(v, 2) for k, v in setup.items()}))

    if queries:
        order: list[str] = []

        def step(i):
            if i % len(names) == 0:
                order[:] = workload.pass_order()
            return [workload.run_op(order[i % len(names)])]

        # whole passes only, so every run times the same query mix; the
        # traced run puts its traced pass between two untraced ones, so
        # that the JIT's warming over the passes does not read as overhead
        n = len(names)
        min_steps, unit, traced = 2 * n, n, (n, n)
    else:
        step = workload.iteration
        # two rounds of 1-, 2- and 3-operation transactions at least;
        # iteration 0 has every op kind, and the traced segment is
        # iterations 0 and 1, so that its op mix is the same on every run
        min_steps, unit, traced = (2 if args.trace else 6), 1, (0, 2)

    def tracing(on: bool) -> None:
        from db_core_spark.plans.objects import ObjectStore
        from db_core_spark.plans.versioned import Transaction, VersionedTable

        if on:
            for attr in ("snapshot", "checkpoint", "maybe_checkpoint"):
                spans.wrap(VersionedTable, attr, "plans")
            spans.wrap(Transaction, "commit", "plans")
            for attr in ("put", "write_at", "read_at", "read_snapshot"):
                spans.wrap(ObjectStore, attr, "objects")
        else:
            spans.unwrap_all()
        spans.enabled = on

    steal0 = steal_s()
    ops, steps, loop_s, window = timed_loop(
        step, args.seconds, min_steps, unit, traced if args.trace else None, tracing
    )
    loop_steal_s = steal_s() - steal0

    extra: dict[str, float] = {}
    if queries:
        checks, failed_checks = workload.check(ops, corrupt=names[0] if args.corrupt_expected else None)
    else:
        if args.corrupt_expected:
            oid = next(iter(workload.model))
            workload.model[oid] = workload.model[oid][::-1] + b"!"
        open_s, recovery_s, checks, failed_checks = workload.recover()
        extra = workload.disk_stats()
        extra.update(recovery_s=recovery_s, open_s=open_s, conflicts=workload.conflicts)

    from pyspark import SparkContext

    jvm_pid = SparkContext._jvm.ProcessHandle.current().pid()
    peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    extra["peak_rss_mb"] = peak_rss_mb

    all_ops = warm_ops + ops
    attempted = len(all_ops) + checks
    failed = sum(1 for o in all_ops if not o.ok) + failed_checks
    timed = [o for o in ops if not o.traced]
    primary = timed if queries else [o for o in timed if o.kind.startswith("txn")]
    ok_primary = [o.seconds for o in primary if o.ok]
    untraced_steps = steps - (traced[1] if args.trace else 0)
    if queries:
        pass_s = query_pass_s(timed, names)
    else:
        pass_s = txn_pass_s(timed, untraced_steps)
    e2e = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "op_p50_ms": median(ok_primary) * 1000.0,
        "ops_per_s": len(ok_primary) / loop_s,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "sf": args.sf if queries else None,
        "nproc": cpus,
        "env": env,
        "steps": steps,
        "untraced_steps": untraced_steps,
        "primary_samples": len(ok_primary),
        "op_p90_ms": p90(ok_primary) * 1000.0,
        "kinds": {
            k: [sum(1 for o in timed if o.kind == k), median(o.seconds for o in timed if o.kind == k)]
            for k in sorted({o.kind for o in timed})
        },
        "error_rate": failed / attempted,
        # a shared host's contention: it slows every op of a run alike
        "loop_steal_s": loop_steal_s,
        "peak_rss_mb": peak_rss_mb,
        "setup": setup,
    }
    if not queries:
        reads = [o.seconds for o in timed if o.kind == "read_at" and o.ok]
        report["versioned"] = {
            "txn_per_s": e2e["ops_per_s"],
            "txn_p50_ms": e2e["op_p50_ms"],
            "txn_p90_ms": p90(ok_primary) * 1000.0,
            "read_p50_ms": median(reads) * 1000.0,
            "read_p90_ms": p90(reads) * 1000.0,
            "read_samples": len(reads),
            "scan_s": median(o.seconds for o in timed if o.kind == "scan" and o.ok),
            **extra,
        }
    if args.trace:
        # the event log is complete once the context stops
        spark.sparkContext.stop()
        layers = layer_metrics(spans, os.path.join(work, "events"), workload, ops, window, setup, extra)
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print("report: " + json.dumps(report, sort_keys=True), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def layer_metrics(spans, events_dir, workload, ops, window, setup, extra) -> dict[str, float]:
    """Per-layer figures of the traced segment (see README.md): times and
    counts summed over the segment, latencies as the median per call."""
    import spans as sp_mod

    jobs = sp_mod.parse_event_log(events_dir)
    sp_mod.attach_jobs(spans.spans, jobs)
    t0, t1, p0, p1 = window
    seg = spans.spans
    traced = [o for o in ops if o.traced]
    untraced = [o for o in ops if not o.traced and o.ok]

    children: dict[str | None, list] = {}
    for s in seg:
        children.setdefault(s.parent, []).append(s)

    def subtree_jobs(s):
        out = list(s.jobs)
        for c in children.get(s.id, []):
            out.extend(subtree_jobs(c))
        return out

    def named(prefix):
        return [s for s in seg if s.name.startswith(prefix)]

    def total(prefix):
        return sum(s.duration for s in named(prefix))

    def per_call(prefix, fn=median):
        return fn(s.duration for s in named(prefix))

    q_jobs = [j for s in seg if s.layer == "queries" for j in s.jobs]
    other_jobs = [j for s in seg if s.layer != "queries" for j in s.jobs]
    driver = 0.0
    for s in named("queries.run:"):
        ivs = [(max(j.start, s.start), min(j.end, s.end)) for j in subtree_jobs(s)]
        driver += s.duration - sp_mod.union_length([iv for iv in ivs if iv[1] > iv[0]])
    reads = named("objects.read_at")
    m = dict(setup)
    m.update({
        "queries.build_s": total("queries.build"),
        "queries.action_s": total("queries.action"),
        "queries.driver_s": driver,
        "queries.jobs": len(q_jobs),
        "queries.tasks": sum(j.tasks for j in q_jobs),
        "queries.executor_run_s": sum(j.run_s for j in q_jobs),
        "queries.executor_cpu_s": sum(j.cpu_s for j in q_jobs),
        "queries.gc_s": sum(j.gc_s for j in q_jobs),
        "queries.shuffle_mb": sum(j.shuffle_b for j in q_jobs) / 1e6,
        "queries.spill_mb": sum(j.spill_b for j in q_jobs) / 1e6,
        "queries.stage_skew": max((j.skew for j in q_jobs), default=0.0),
        "operators.python_run_s": sum(j.py_run_s for j in q_jobs),
        "operators.python_start_s": sum(j.py_start_s for j in q_jobs),
        "operators.to_python_mb": sum(j.py_sent_b for j in q_jobs) / 1e6,
        "operators.from_python_mb": sum(j.py_returned_b for j in q_jobs) / 1e6,
        "plans.commit_s": total("plans.commit"),
        "plans.commit_jobs": sum(len(subtree_jobs(s)) for s in named("plans.commit")),
        "plans.snapshot_plan_s": total("plans.snapshot"),
        "plans.checkpoint_s": total("plans.checkpoint"),
        "plans.checkpoints": len(named("plans.checkpoint")),
        "session.peak_rss_mb": extra["peak_rss_mb"],
        "plans.open_s": extra.get("open_s", 0.0),
        "plans.recovery_s": extra.get("recovery_s", 0.0),
        "plans.manifests": extra.get("manifests", 0),
        "plans.data_files": extra.get("data_files", 0),
        "plans.conflicts": extra.get("conflicts", 0),
        "plans.bytes_per_user_byte": extra.get("bytes_per_user_byte", 0.0),
        "objects.put_s": per_call("objects.put"),
        "objects.write_at_s": per_call("objects.write_at"),
        "objects.read_at_s": per_call("objects.read_at"),
        "objects.read_at_p90_s": per_call("objects.read_at", p90),
        "objects.read_at_tasks": (
            sum(j.tasks for s in reads for j in subtree_jobs(s)) / len(reads) if reads else 0.0
        ),
        "objects.read_snapshot_s": per_call("objects.read_snapshot"),
        "sources.append_s": per_call("sources.append"),
        "sources.scan_s": per_call("sources.scan"),
        # the event log has no Python-worker time for DataSource scans and
        # writes; their tasks' run time is the Python reader and writer
        "sources.executor_run_s": sum(j.run_s for j in other_jobs),
        "sources.to_python_mb": sum(j.py_sent_b for j in other_jobs) / 1e6,
        "sources.from_python_mb": sum(j.py_returned_b for j in other_jobs) / 1e6,
    })
    for o in traced:
        m[f"queries.{o.kind}_s"] = o.seconds

    selfs = sp_mod.self_times(seg, t0, t1)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    m["trace.wall_s"] = p1 - p0
    m["trace.self_sum_s"] = sum(selfs.values())
    m["trace.coverage"] = m["trace.self_sum_s"] / m["trace.wall_s"]

    # the traced segment's ops priced at the untraced loop's per-kind
    # medians; kinds the untraced loop did not run, and checkpoints (a
    # no-op or a full checkpoint depending on the commit count), are
    # priced at their traced time
    def untraced_price(o):
        same = [u.seconds for u in untraced if u.kind == o.kind]
        return median(same) if same and o.kind != "checkpoint" else o.seconds

    m["trace.pass_s"] = sum(o.seconds for o in traced)
    m["trace.untraced_pass_s"] = sum(untraced_price(o) for o in traced)
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.untraced_pass_s"]
    return m


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
