"""Clip-validation benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 13 --trace 0

Run from the repository root. One closed-loop client drives the package's
public API: the next op starts only after the last one returned and its
outputs were checked. The run times the first op in a fresh JVM, runs a
fixed number of warm-up ops, then times ``--seconds / nominal op time``
ops, so every run of a workload times the same op positions. It does the
cold set-up (JVM launch, session, Python workers, input registration)
twice, once before the ops and once in a new JVM after them, and reports
the median. The last line of stdout is the result JSON; the line before
it holds run details (master, CPU count, per-op times, warm-up drift,
host steal ticks, counts).

``--trace 1`` alternates untraced and traced rounds in the timed window,
reports the per-layer metrics from the traced rounds, and ``trace.overhead``
as traced over untraced clips per second.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.getcwd())  # the package is built from the checkout

import tracing  # noqa: E402

MASTER = "local[2]"         # 4-CPU host: leave cores for the Python workers
SLOTS = 2                   # concurrent tasks under MASTER
DRIVER_MEM = "2g"
SETUPS = 2                  # cold set-ups per run, each in a new JVM


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warm-ops", type=int, default=None,
                    help="override the workload's warm-up op count")
    ap.add_argument("--ops", type=int, default=None,
                    help="override the timed op count (plateau recordings)")
    return ap.parse_args(argv)


def start_session(work: str, n: int):
    """A fresh SparkContext (the first call also launches the JVM) with the
    driver heap pinned to its maximum, so the heap does not grow during
    the timed window, and its event log under ``work``."""
    from remark_lint_frontmatter_schema_spark import get_spark
    ev = f"{work}/eventlog/{n}"
    os.makedirs(ev)
    return get_spark(master=MASTER, app_name="perfbench",
                     shuffle_partitions=SLOTS, extra_conf={
        "spark.driver.memory": DRIVER_MEM,
        # without -XX:-UsePerfData the JVM writes its perf-data file outside
        # the checkout
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": ev,
        "spark.eventLog.logBlockUpdates.enabled": "true",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    })


def warm_workers(spark) -> None:
    """Start the Python worker daemon and one worker per task slot."""
    spark.range(0, SLOTS, numPartitions=SLOTS).mapInPandas(
        lambda it: it, "id long").collect()


def setup(spark, wl) -> None:
    """Python worker warm-up and input registration."""
    spark.sparkContext.setLogLevel("ERROR")
    warm_workers(spark)
    wl.register(spark)


def shutdown_jvm() -> None:
    """Stop the JVM, so that the next session launches a new one."""
    import gc

    from pyspark import SparkContext
    from pyspark.sql.udf import UserDefinedFunction
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    # UDF objects made at import (the package's Arrow header check) keep
    # their JVM-side function; make them build it again in the next JVM
    for o in gc.get_objects():
        if isinstance(o, UserDefinedFunction):
            o._judf_placeholder = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def codegen_ms(spark) -> float:
    """Total whole-stage codegen compile time this JVM has recorded."""
    h = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
         .METRIC_COMPILATION_TIME())
    return float(sum(h.getSnapshot().getValues()))


def run(args) -> dict:
    import inputs
    from workloads import WORKLOADS, CheckFailed

    root = os.getcwd()
    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(f"{work}/{d}")
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"

    counter = tracing.Py4jCounter() if args.trace else None
    tracer = tracing.Tracer(counter)
    spark = None
    try:
        pool = inputs.ensure_pool(state)
        cls = WORKLOADS[args.workload]
        n_timed = args.ops or cls.timed_ops(args.seconds)
        if args.trace:
            n_timed *= 2  # untraced and traced rounds alternate
        warm_ops = cls.warm_ops if args.warm_ops is None else args.warm_ops
        roles = cls.schedule(warm_ops, n_timed)
        wl = cls(work, pool, args.seed, tracer, len(roles))

        t0 = time.perf_counter()
        spark = start_session(work, 0)
        session_start = time.perf_counter() - t0
        setup(spark, wl)
        setups = [time.perf_counter() - t0]
        if counter:
            counter.install(spark)
            wl.wrap(tracer)
        me = os.getpid()

        attempted = failed = 0
        first_op_s = None
        codegen0 = codegen_ms(spark)
        first_codegen = None
        timed = []        # (round, Round, cpu_s, py_cpu_s, traced)
        steal0 = t_timed0 = None
        n_timed_rounds = 0
        for k, role in enumerate(roles):
            if role == "timed" and steal0 is None:
                steal0, t_timed0 = tracing.steal_ticks(), time.time()
            traced = (bool(args.trace) and role == "timed"
                      and n_timed_rounds % 2 == 1)
            wl.prepare_round(k)
            tracer.op, tracer.enabled = k, traced
            c0, p0 = _cpu(me)
            st0 = tracing.steal_ticks()
            r = ok = None
            try:
                r = wl.round(k)
            except Exception:  # counted as failed ops; the loop goes on
                if role == "first":
                    raise      # without a first op there is no run
                traceback.print_exc()
            tracer.enabled = False
            c1, p1 = _cpu(me)
            if r is not None:
                r.extra["steal_ticks"] = [tracing.steal_ticks() - st0]
                try:
                    wl.check(k, r)
                    ok = True
                except CheckFailed as e:
                    print(f"round {k}: {e}", file=sys.stderr)
            n_ops = wl.ops_in_round(k)
            attempted += n_ops
            if not ok:
                failed += n_ops
            if role == "first":
                first_op_s = r.op_s[0]
                first_codegen = (codegen_ms(spark) - codegen0) / 1000
            elif role == "timed":
                n_timed_rounds += 1
                if ok:
                    timed.append((k, r, c1 - c0, p1 - p0, traced))
            wl.finish_round(k)
        steal = tracing.steal_ticks() - steal0
        t_timed1 = time.time()
        py_rss = tracing.python_peak_rss_mb(
            tracing.python_pids(tracing.tree(me), exclude=me))
        tracer.restore()
        if counter:
            counter.uninstall()
        spark.stop()
        spark = None
        log = tracing.read_event_log(f"{work}/eventlog/0")
        # The other cold set-ups each launch a new JVM. They come after the
        # ops so that the ops run in the process's first JVM and context,
        # as a nightly job's would.
        for n in range(1, SETUPS):
            shutdown_jvm()
            t0 = time.perf_counter()
            spark = start_session(work, n)
            setup(spark, wl)
            setups.append(time.perf_counter() - t0)
            spark.stop()
            spark = None
        if args.trace:
            tracer.dump(os.path.join(
                state, f"spans-{args.workload}-{args.seed}-{me}.jsonl"))
        return summarize(args, tracer, log, timed, setups,
                         session_start, first_op_s, first_codegen,
                         attempted, failed, py_rss, steal,
                         (t_timed0, t_timed1), warm_ops)
    finally:
        tracer.restore()
        if counter:
            counter.uninstall()
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _cpu(me: int) -> tuple[float, float]:
    """CPU-s of the whole process tree, and of its Python workers alone."""
    pids = tracing.tree(me)
    return (tracing.cpu_seconds(pids),
            tracing.cpu_seconds(tracing.python_pids(pids, exclude=me)))


def _exec_metrics(log, windows) -> dict:
    """exec.* per op over the given op windows, from the event log."""
    jobs = {j for j, ms in log.jobs.items()
            if tracing.in_windows(ms, windows) is not None}
    tasks = [t for t in log.tasks if t.job in jobs]
    n = max(1, len(windows))
    by_stage: dict = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    skews = [max(v) / max(1, statistics.median(v))
             for v in by_stage.values() if len(v) >= 2]
    storage = [b for ms, b in log.storage
               if tracing.in_windows(ms, windows) is not None]
    return {
        "exec.jobs": len(jobs) / n,
        "exec.task_s": sum(t.run_ms for t in tasks) / 1000 / n,
        "exec.shuffle_write_mb": sum(t.shuffle_write for t in tasks) / 2**20 / n,
        "exec.spill_mb": sum(t.spill for t in tasks) / 2**20 / n,
        "exec.task_skew": _median(skews),
        "exec.peak_execution_mb":
            max((t.peak_exec for t in tasks), default=0) / 2**20,
        "_storage_mb": max(storage, default=0) / 2**20,
    }


def summarize(args, tracer, log, timed, setups, session_start,
              first_op_s, first_codegen, attempted, failed, py_rss, steal,
              window, warm_ops) -> dict:
    op_s = [s for _, r, _, _, _ in timed for s in r.op_s]
    clips = max(1, sum(c for _, r, _, _, _ in timed for c in r.clips))
    busy = sum(op_s) or float("inf")  # no timed op passed: rates read 0
    windows = [w for _, r, _, _, _ in timed for w in r.windows]
    ex = _exec_metrics(log, windows)
    # over rounds: a drain's first micro-batch also carries its compile and
    # query start, so a stream's op times fall within every round
    rounds = [sum(r.op_s) for _, r, *_ in timed]
    third = max(1, len(rounds) // 3)
    drift = (_median(rounds[-third:]) / _median(rounds[:third]) - 1
             if rounds else 0.0)
    peak_mem = ex["_storage_mb"] + SLOTS * ex["exec.peak_execution_mb"] + py_rss
    e2e = {
        "setup_s": (_median(setups), "s"),
        "first_op_s": (first_op_s, "s"),
        "clips_per_s": (clips / busy, "clips/s"),
        "op_p50_s": (_median(op_s), "s"),
        "cpu_s_per_kclip": (sum(c for *_, c, _, _ in timed) / clips * 1000,
                            "s/kclip"),
        "bytes_out_per_clip": (sum(r.bytes_out for _, r, *_ in timed) / clips,
                               "B/clip"),
        "peak_mem_mb": (peak_mem, "MB"),
        "ok_op_share": ((attempted - failed) / attempted, "share"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "master": MASTER,
        "nproc": len(os.sched_getaffinity(0)), "timed_ops": len(op_s),
        "warm_ops": warm_ops, "op_s": [round(x, 4) for x in op_s],
        "drift": drift, "window_steal_ticks": steal,
        "timed_window_s": window[1] - window[0],
        "setups_s": setups, **{k: v for k, v in ex.items()},
        "python_peak_rss_mb": py_rss,
        **{key: [x for _, r, *_ in timed for x in r.extra.get(key, [])]
           for key in ("round_s", "steal_ticks")},
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if args.trace:
        layers, info = per_layer(tracer, log, timed, session_start,
                                 first_codegen, ex)
        detail.update(info)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    print(json.dumps(detail))
    return {"correct": failed == 0 and attempted > 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def per_layer(tracer, log, timed, session_start, first_codegen, ex):
    traced = [(k, r, py) for k, r, _, py, t in timed if t]
    untraced = [r for _, r, _, _, t in timed if not t]
    ops_t = {k for k, _, _ in traced}
    n_ops = sum(len(r.op_s) for _, r, _ in traced)

    def spans(name):
        return tracer.of(name, ops_t)

    def med_dur(name):
        return _median([s.end - s.start for s in spans(name)])

    def med_py4j(name):
        return _median([s.py4j for s in spans(name)])

    def per_op_sum(name):
        return sum(s.end - s.start for s in spans(name)) / max(1, n_ops)

    tc = spans("table_checks.build")
    tc_windows = [(s.start, s.end) for s in tc]
    tc_jobs = sum(1 for ms in log.jobs.values()
                  if tracing.in_windows(ms, tc_windows) is not None)
    ingest_idx = [i for i, s in enumerate(tracer.spans)
                  if s.name == "ingest" and s.op in ops_t]

    def rate(rs):
        return (sum(sum(r.clips) for r in rs)
                / max(1e-9, sum(sum(r.op_s) for r in rs)))

    extra = lambda key: [x for _, r, _ in traced for x in r.extra.get(key, [])]
    layers = {
        "plans.compile_s": (med_dur("plans.compile"), "s"),
        "plans.compile_py4j": (med_py4j("plans.compile"), "count"),
        "validate.build_s": (med_dur("validate.build"), "s"),
        "validate.build_py4j": (med_py4j("validate.build"), "count"),
        "table_checks.build_s": (med_dur("table_checks.build"), "s"),
        "table_checks.build_py4j": (med_py4j("table_checks.build"), "count"),
        "table_checks.build_jobs": (tc_jobs / max(1, len(tc)), "count"),
        "table_checks.cache_mb": (ex["_storage_mb"], "MB"),
        "ingest.self_s": (_median([tracer.self_time(i) for i in ingest_idx]),
                          "s"),
        "exec.python_task_s": (sum(py for _, _, py in traced) / max(1, n_ops),
                               "s"),
        "sinks.write_s": (per_op_sum("sinks.write"), "s"),
        "sinks.bytes_out": (sum(r.bytes_out for _, r, _ in traced)
                            / max(1, n_ops), "B"),
        "manifest.s": (per_op_sum("manifest"), "s"),
        "ingest.partitions_skipped": (_median(
            extra("ingest.partitions_skipped")), "count"),
        "stream.plan_s": (_median(extra("stream.plan_s")), "s"),
        "stream.add_batch_s": (_median(extra("stream.add_batch_s")), "s"),
        "session.start_s": (session_start, "s"),
        "exec.codegen_s": (first_codegen, "s"),
        **{k: (v, u) for k, u in (
            ("exec.jobs", "count"), ("exec.task_s", "s"),
            ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"),
            ("exec.task_skew", "ratio"), ("exec.peak_execution_mb", "MB"))
           for v in (ex[k],)},
        "trace.overhead": (rate([r for _, r, _ in traced]) / rate(untraced)
                           if untraced else 0.0, "ratio"),
    }
    info = {"traced_ops": n_ops,
            "py4j_per_op": {n: [s.py4j for s in spans(n)] for n in (
                "plans.compile", "validate.build", "table_checks.build")}}
    return layers, info


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        import remark_lint_frontmatter_schema_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
