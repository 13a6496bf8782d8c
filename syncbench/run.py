#!/usr/bin/env python3
"""Benchmark of the sync engine through its public Python API.

    python3 syncbench/run.py --workload snapshot_copy --seed 1 --seconds 12 --trace 0

Workloads: snapshot_copy, cdc_upsert, vector_ingest (see README.md).
The inputs are generated from --seed before the engine is imported.
With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 it holds the per-layer metrics of a separate traced run.
Run it from the repository root; it exits 2 without a result when the
engine package is not beside this directory.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mysql_clickhouse_sync_spark"
WORK_ROOT = os.path.join(ROOT, ".syncbench_work")
OUT_DIR = os.path.join(ROOT, ".syncbench_out")

END_TO_END = (
    ("setup_s", "s"),
    ("rows_per_s", "rows/s"),
    ("read_p50_s", "s"),
    ("freshness_p50_s", "s"),
    ("stored_bytes_per_source_byte", "ratio"),
    ("peak_rss_mb", "MB"),
)
LAYERS = (
    ("session.start_s", "s"),
    ("snapshot.table_s", "s"),
    ("snapshot.copy_s", "s"),
    ("snapshot.output_bytes", "bytes"),
    ("verify.counts_s", "s"),
    ("verify.diff_s", "s"),
    ("sources.input_rows", "count"),
    ("sources.input_bytes", "bytes"),
    ("lookup.input_bytes", "bytes"),
    ("cdc.initial_sync_s", "s"),
    ("cdc.drain_s", "s"),
    ("cdc.microbatches", "count"),
    ("cdc.microbatch_s", "s"),
    ("cdc.query_overhead_s", "s"),
    ("cdc.files_written", "count"),
    ("live.read_s", "s"),
    ("live.rows_scanned_per_live_row", "ratio"),
    ("compact.s", "s"),
    ("compact.files_in", "count"),
    ("compact.files_out", "count"),
    ("compact.bytes_rewritten", "bytes"),
    ("ivf.build_s", "s"),
    ("ivf.append_s", "s"),
    ("ivf.search_s", "s"),
    ("ivf.postings_files", "count"),
    ("screen.s", "s"),
    ("screen.pairs", "count"),
)


def per_layer_names() -> list[tuple[str, str]]:
    from spans import COUNTERS, PHASES

    return list(LAYERS) + [
        (f"{p}.{c}", u) for p in PHASES for c, u in COUNTERS
    ]


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(ctx, rss_mb: float) -> dict[str, float]:
    s = ctx.samples
    return {
        "setup_s": ctx.setup_s,
        "rows_per_s": _median(s["rows_per_s"]),
        "read_p50_s": _median(s["read"]),
        "freshness_p50_s": _median(s["fresh"]),
        "stored_bytes_per_source_byte": _median(s["stored_ratio"]),
        "peak_rss_mb": rss_mb,
    }


def layer_metrics(ctx, spans, jobs, session_s: float) -> dict[str, float]:
    """Per-round totals, median over the timed rounds; set-up layers
    (session, initial sync, index build) are single values."""
    from collections import defaultdict

    from spans import COUNTERS, PHASES, phase_counters, self_time
    from workloads import COLD

    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    total = defaultdict(float)
    own = defaultdict(float)
    for s in spans:
        key = (s["round"], s["name"])
        total[key] += s["end"] - s["start"]
        own[key] += self_time(s, children[s["id"]])
    per = phase_counters(spans, jobs)
    stats = ctx.round_stats
    rounds = range(ctx.rounds)

    def med(f) -> float:
        return _median([f(r) for r in rounds])

    def ratio(a, b) -> float:
        return a / b if b else 0.0

    out = {
        "session.start_s": session_s,
        "cdc.initial_sync_s": total[(COLD, "cdc.initial_sync")],
        "ivf.build_s": total[(COLD, "ivf.build")],
    }
    for name, span in (("snapshot.table_s", "snapshot.table"),
                       ("verify.counts_s", "verify.counts"),
                       ("verify.diff_s", "verify.diff"),
                       ("cdc.drain_s", "cdc.drain"),
                       ("cdc.microbatch_s", "cdc.microbatch"),
                       ("live.read_s", "live.read"),
                       ("compact.s", "compact"),
                       ("ivf.append_s", "ivf.append"),
                       ("ivf.search_s", "ivf.search"),
                       ("screen.s", "screen")):
        out[name] = med(lambda r, sp=span: total[(r, sp)])
    out["snapshot.copy_s"] = med(lambda r: own[(r, "snapshot.table")])
    out["cdc.query_overhead_s"] = med(lambda r: own[(r, "cdc.drain")])
    for name in ("snapshot.output_bytes", "cdc.microbatches",
                 "cdc.files_written", "compact.files_in", "compact.files_out",
                 "compact.bytes_rewritten", "ivf.postings_files",
                 "screen.pairs"):
        out[name] = med(lambda r, n=name: stats[r][n])
    out["sources.input_rows"] = med(
        lambda r: sum(per[(r, p)]["input_rows"] for p in PHASES))
    out["sources.input_bytes"] = med(
        lambda r: sum(per[(r, p)]["input_bytes"] for p in PHASES))
    out["lookup.input_bytes"] = med(lambda r: per[(r, "lookup")]["input_bytes"])
    out["live.rows_scanned_per_live_row"] = med(
        lambda r: ratio(per[(r, "live.read")]["input_rows"], stats[r]["live.rows"]))
    for p in PHASES:
        for c, _unit in COUNTERS:
            out[f"{p}.{c}"] = med(lambda r, p=p, c=c: per[(r, p)][c])
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers under it,
    and wait until each has ended."""
    import signal

    from pyspark import SparkContext

    from host import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed below
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def _count_files(path: str) -> int:
    return sum(len(files) for _r, _d, files in os.walk(path))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("snapshot_copy", "cdc_upsert", "vector_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0,
                    help="SPARK_GRAFT_CPUS for the session (default: nproc)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"syncbench: engine package {PACKAGE!r} not found in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import host
    import workloads
    from oracle import Oracle
    from spans import Tracer, read_event_log, write_trace

    hostrec = host.HostRecord()
    cpus = args.cpus or hostrec.nproc
    root_before = set(os.listdir(ROOT))
    work = os.path.join(
        WORK_ROOT, f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    )
    tmp = os.path.join(work, "tmp")
    event_dir = os.path.join(work, "eventlog")
    for d in (tmp, os.path.join(work, "local"), os.path.join(work, "inputs")):
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # At the engine's 8g default the JVM's resident size follows G1's
    # heap growth, whose steps differ from run to run (README.md).
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # the pandas workers of vector_ingest import the engine package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
    ]
    if args.trace:
        os.makedirs(event_dir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(x) for x in submit + ["pyspark-shell"]
    )
    os.chdir(work)

    result = None
    run = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "cpus": cpus}
    spark = oracle = None
    try:
        # the checker process writes the inputs before the engine is imported
        t = time.time()
        oracle = Oracle(args.workload, os.path.join(work, "inputs"), args.seed)
        gen_s = time.time() - t
        run["input_gen_s"] = gen_s
        peak = host.PeakRss(skip=oracle.proc.pid)
        from mysql_clickhouse_sync_spark.session import get_spark

        t = time.time()
        spark = get_spark()
        session_s = time.time() - t
        spark.sparkContext.setLogLevel("ERROR")
        run["event_log"] = spark.conf.get("spark.eventLog.enabled", "false") == "true"
        tracer = Tracer(spark, bool(args.trace))
        ctx = workloads.Context(spark, tracer, oracle, work, args.seconds,
                                PROCESS_START + gen_s)
        workloads.WORKLOADS[args.workload](ctx)
        rss = peak.stop_mb()
        oracle.close()
        stop_spark(spark)
        spark = None
        t_session = PROCESS_START + gen_s
        run.update(
            rounds=ctx.rounds,
            samples=dict(ctx.samples),
            rss_at_peak_mb=peak.at_peak,
            **ctx.notes,
            setup_parts={"session_s": session_s,
                         "cold_s": ctx.marks["cold_end"] - t_session - session_s,
                         "warmup_s": ctx.marks["warmup_end"] - ctx.marks["cold_end"]},
            window_s=time.time() - ctx.marks["warmup_end"],
        )
        if args.trace:
            # the same end-to-end figures, for the tracing overhead
            run["end_to_end"] = end_to_end(ctx, rss)
            jobs = read_event_log(event_dir)
            metrics = layer_metrics(ctx, tracer.spans, jobs, session_s)
            names = per_layer_names()
            write_trace(
                os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace.json"),
                {"run": run, "spans": tracer.spans,
                 "jobs": list(jobs.values()),
                 "round_stats": {str(k): v for k, v in ctx.round_stats.items()}},
            )
        else:
            metrics = end_to_end(ctx, rss)
            names = END_TO_END
        result = {
            "correct": ctx.wrong == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {n: {"value": metrics[n], "unit": u} for n, u in names},
        }
    finally:
        if oracle is not None:
            oracle.close()
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)
        stray = set(os.listdir(ROOT)) - root_before - {
            os.path.basename(OUT_DIR), os.path.basename(WORK_ROOT)}
        run["files_left_behind"] = (
            (_count_files(work) if os.path.exists(work) else 0) + len(stray)
        )
        run["host"] = hostrec.finish()
        # the run record goes to stdout only ahead of a result
        print(json.dumps({"syncbench_run": run}), flush=True,
              file=sys.stdout if result is not None else sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
