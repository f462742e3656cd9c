"""Benchmark of workbench_spark through its public API.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload interactive_serving --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): ``interactive_serving`` and
``batch_pipeline``. Each run generates its input tables from ``--seed``,
starts the session, sets the system up three times (session restart and
artifact creation) and reports the cold start plus the median round as
``setup_s``, runs the workload's warm-up rounds, then drives a closed loop
for ``--seconds`` seconds of operation time, checking every answer outside
the timed section. ``--trace 1`` adds a second, traced loop that
wraps the program's public functions (tracing.py) and reports per-layer
metrics instead of the end-to-end ones.

Every run works in a private directory ``.perfbench_tmp/run-<pid>`` of
the checkout (warehouse, Spark local dirs, temp files) and removes it at
exit; spans of a traced run are written to ``.perfbench_out/``. The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.01  # input scale: 15k orders, ~60k lineitem, 10k events, 500 docs/vectors
SETUP_ROUNDS = 3
DRIVER_MEM = "2g"
WORKLOAD_NAMES = ("interactive_serving", "batch_pipeline")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(tmp: str) -> dict[str, str]:
    """Point every temporary location of the program and of Spark into tmp."""
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(tmp, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.join(tmp, "tmp"),
    }
    for key in ("SPARK_GRAFT_WAREHOUSE", "SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    for key in ("SPARK_MASTER", "SPARK_GRAFT_HOSTILE_PARTS"):
        os.environ.pop(key, None)
    return env


def spark_conf(tmp: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData",
        # keep every job of a traced loop visible to the status tracker
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its JVM child, in MiB."""
    total_kb = 0
    pids = [os.getpid()] + jvm_pids()
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def jvm_pids() -> list[int]:
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if int(fields[1]) == me and comm == "java":
            out.append(int(entry))
    return out


def cpu_ticks() -> list[int]:
    """The machine's aggregate CPU tick counters from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_share(before: list[int], after: list[int]) -> str:
    """Busy, idle and stolen shares of the machine's CPU time between two readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    idle, steal = d[3] + d[4], d[7] if len(d) > 7 else 0
    return (f"busy {(total - idle - steal) / total:.2f} idle {idle / total:.2f} "
            f"steal {steal / total:.2f}")


class Record:
    __slots__ = ("kind", "cls", "metric", "seconds", "rows", "error")

    def __init__(self, op, seconds, error):
        self.kind, self.cls, self.metric = op.kind, op.cls, op.metric
        self.seconds, self.rows, self.error = seconds, op.rows, error


def run_loop(ctx, rounds, seconds: float, jobs=None) -> list[Record]:
    """Run whole rounds, at least one, until the summed operation time
    reaches ``seconds``."""
    from workloads import verify

    tracer = ctx.tracer
    recs: list[Record] = []
    busy = 0.0
    while True:
        for op in next(rounds):
            tracer.op = len(recs)
            if jobs is not None:
                jobs.start(len(recs), op.kind)
            error, result = None, None
            t0 = time.perf_counter()
            try:
                with tracer.span(f"client.{op.kind}"):
                    result = op.fn()
            except Exception:  # a failing operation is counted, not fatal
                error = traceback.format_exc(limit=3)
            dt = time.perf_counter() - t0
            if jobs is not None:
                jobs.stop()
            if error is None:
                error = verify(op, result)
            if error is not None:
                print(f"# FAILED {op.kind}: {error}", file=sys.stderr)
            recs.append(Record(op, dt, error))
            busy += dt
        if busy >= seconds:
            return recs


def kind_table(recs: list[Record]) -> str:
    """Median latency per operation kind."""
    by_kind: dict[str, list[float]] = {}
    for r in recs:
        by_kind.setdefault(r.kind, []).append(r.seconds)
    return "\n".join(
        f"# {kind:40s} p50 {statistics.median(xs):8.3f}s n={len(xs)}"
        for kind, xs in sorted(by_kind.items()))


def end_to_end(recs: list[Record], setup_times: list[float], start_s: float, failed: int,
               attempted: int):
    """The untraced metrics. ``setup_s`` is the cold session start, paid
    once per process, plus the median of the set-up rounds."""
    from stats import Metrics, percentile

    m = Metrics()
    prim = [r for r in recs if r.cls == "primary"]
    lat = [r.seconds for r in prim]
    busy = sum(lat)
    m.add("setup_s", start_s + statistics.median(setup_times), "s", len(setup_times))
    m.add("latency_p50_s", percentile(lat, 50), "s", len(lat))
    m.add("latency_p90_s", percentile(lat, 90), "s", len(lat))
    m.add("ops_per_s", len(prim) / busy, "1/s", len(prim))
    m.add("rows_per_s", sum(r.rows for r in prim) / busy, "rows/s", len(prim))
    for cls, name in (("append", "append_p50_s"), ("drift", "drift_check_p50_s")):
        xs = [r.seconds for r in recs if r.cls == cls]
        m.add(name, percentile(xs, 50), "s", len(xs))
    m.add("ok_ratio", 1.0 - failed / attempted, "ratio", attempted)
    m.add("peak_rss_mb", peak_rss_mb(), "MiB", 1)
    return m


def per_layer(tracer, jobs_totals, recs, untraced, start_s):
    """Per-layer metrics of the traced loop; 0 where a workload never calls the layer."""
    from stats import Metrics, percentile
    from tracing import LAYERS

    m = Metrics()
    n_ops = len(recs)

    def med(xs):
        return percentile(xs, 50) if xs else 0.0

    def span(metric, name):
        xs = tracer.durations(name)
        m.add(metric, med(xs), "s", len(xs))

    def per_op(metric, count):
        m.add(metric, count / n_ops, "count", n_ops)

    c = tracer.counts
    span("api.data_source.query_prepare_s", "api.data_source.query")
    span("api.feature_set.query_prepare_s", "api.feature_set.query")
    per_op("api.registry.meta_reads_per_op", c["registry_reads"])
    per_op("api.registry.meta_writes_per_op", c["registry_writes"])
    per_op("session.parquet_resolves_per_op", c["reader_calls"])
    span("functions.athena_sql.translate_s", "functions.athena_sql.translate")
    span("spark.action_s", "spark.action")
    per_op("spark.jobs_per_op", jobs_totals.get("jobs", 0))
    per_op("spark.stages_per_op", jobs_totals.get("stages", 0))
    per_op("spark.tasks_per_op", jobs_totals.get("tasks", 0))
    m.add("spark.failed_tasks", jobs_totals.get("failed_tasks", 0), "count", n_ops)
    m.add("session.start_s", start_s, "s", 1)
    span("api.model.pipeline_load_s", "api.model.pipeline_load")
    span("operators.metrics.regression_metrics_s", "operators.metrics.regression_metrics")
    span("streaming.capture_s", "streaming.capture")
    calls = c["capture_calls"]
    m.add("streaming.capture_files_per_op", c["capture_files"] / calls if calls else 0.0,
          "count", calls)
    rows = c["capture_rows"]
    m.add("streaming.capture_bytes_per_row", c["capture_bytes"] / rows if rows else 0.0,
          "B/row", rows)
    span("streaming.check_drift_s", "streaming.check_drift")
    drifts = c["drift_calls"]
    m.add("streaming.capture_files_scanned",
          c["drift_files_scanned"] / drifts if drifts else 0.0, "count", drifts)
    span("api.feature_set.append_s", "api.feature_set.append")
    span("api.feature_set.snapshot_s", "api.feature_set.snapshot")
    ingest = tracer.durations("api.data_source.ingest") + [
        total - onboard for total, onboard in
        tracer.children_named("api.data_source.construct", "api.data_source.onboard")]
    m.add("api.data_source.ingest_s", med(ingest), "s", len(ingest))
    span("api.data_source.onboard_s", "api.data_source.onboard")
    per_op("sources.files_written", c["files_written"])
    for f in ("column_stats", "sample_rows", "outliers", "smart_sample", "value_counts",
              "descriptive_stats"):
        span(f"operators.eda.{f}_s", f"operators.eda.{f}")
    named = ["queries.q3", "queries.q9", "queries.q18", "queries.w_sessionize_events",
             "operators.dedup.minhash_lsh_pairs", "operators.similarity.knn_cosine",
             "operators.text.bm25_topk"]
    for metric in named:
        xs = [r.seconds for r in recs if r.metric == metric]
        m.add(f"{metric}_s", med(xs), "s", len(xs))
    self_time = tracer.self_times()
    for layer in LAYERS:
        m.add(f"{layer}.self_s_per_op", self_time.get(layer, 0.0) / n_ops, "s", n_ops)
    traced = [r.seconds for r in recs if r.cls == "primary"]
    plain = [r.seconds for r in untraced if r.cls == "primary"]
    m.add("trace.overhead_ratio", (sum(traced) / len(traced)) / (sum(plain) / len(plain)),
          "ratio", len(traced))
    return m


def start_session(tmp: str, spark=None):
    from workbench_spark.session import get_spark

    if spark is not None:
        spark.stop()
    return get_spark("perfbench", extra_conf=spark_conf(tmp))


def stop_jvm() -> None:
    """Stop Spark and the JVM this process started, and wait for it to end."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(args, tmp: str) -> str:
    env = isolate(tmp)
    sys.path.insert(0, ROOT)
    import datagen
    from stats import highest_supported
    from tracing import JobCounter, Tracer
    from workloads import WORKLOADS, Ctx

    phase = {}
    data_dir = os.path.join(tmp, "data")
    counts = datagen.write_tables(data_dir, SF, args.seed)
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} sf={SF} cpus={env['SPARK_GRAFT_CPUS']} "
          f"driver_mem={DRIVER_MEM} rows={counts}")

    ctx = Ctx(None, data_dir, Tracer(False))
    wl = WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    spark = ctx.spark = start_session(tmp)
    start_s = phase["start"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare(os.path.join(tmp, "fixture"))
    phase["prepare"] = time.perf_counter() - t0
    # set-up, several times: session restart + artifact creation. A traced
    # run reports no setup_s and sets up once.
    setup_times = []
    for k in range(1 if args.trace else SETUP_ROUNDS):
        t0 = time.perf_counter()
        spark = ctx.spark = start_session(tmp, spark)
        wl.setup(os.path.join(tmp, "wh", f"setup{k}"))
        setup_times.append(time.perf_counter() - t0)
    phase["setup"] = sum(setup_times)
    print(f"# setup rounds: {[round(x, 3) for x in setup_times]} session start {start_s:.3f}s")

    rounds = wl.rounds(random.Random(args.seed))
    t0 = time.perf_counter()
    recs = []  # every operation of the run, warm-up included
    for _ in range(wl.warm_rounds):  # whole rounds, checked but not timed
        recs += run_loop(ctx, rounds, 0.0)
    phase["warm"] = time.perf_counter() - t0
    cpu0, t0 = cpu_ticks(), time.perf_counter()
    measured = run_loop(ctx, rounds, args.seconds)
    recs += measured
    phase["loop"] = time.perf_counter() - t0
    print(f"# cpu during the measured loop: {cpu_share(cpu0, cpu_ticks())}")
    if args.trace:
        # trace.overhead_ratio compares the traced loop with the untraced
        # loop just before it, which is about as warm
        measured = run_loop(ctx, rounds, args.seconds)
        recs += measured
        tracer = Tracer(True)
        ctx.tracer = tracer
        jobs = JobCounter(spark)
        tracer.install()
        try:
            traced = run_loop(ctx, rounds, args.seconds, jobs)
        finally:
            tracer.uninstall()
        recs += traced
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
    print("# phases: " + " ".join(f"{k} {v:.2f}s" for k, v in phase.items()))
    ctx.oracle.close()
    attempted = len(recs)
    failed = sum(r.error is not None for r in recs)
    if args.trace:
        metrics = per_layer(tracer, jobs.totals(), traced, measured, start_s)
    else:
        metrics = end_to_end(measured, setup_times, start_s, failed, attempted)
    print(kind_table(measured))
    n = sum(r.cls == "primary" for r in measured)
    top = highest_supported(n)
    print(f"# {n} primary samples support "
          + (f"percentiles up to p{top:g}" if top else "no percentile (fewer than 20)"))
    print(metrics.table())
    print(f"# failed_ratio {failed / attempted:.6f} ({failed} of {attempted} operations)")
    return metrics.result_line(attempted, failed)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "workbench_spark")):
        print(f"perfbench: no workbench_spark package under {ROOT}", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    try:
        line = run(args, tmp)
    finally:
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
