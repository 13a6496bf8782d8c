"""The three workloads.  Each is a closed loop with one client: the next
operation starts only after the previous one returned.

A run is a set-up (session start, the cold start, one warm-up round)
and then whole rounds until the timed window is used up.  Every timed
round does the same operations on the same inputs, starting from the
same state.  Each answer is checked in the checker process
(``oracle.py``) after the operation was timed.  Engine modules are
imported inside the functions.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import defaultdict
from functools import reduce

import gen

# Nominal length of one timed round at SPARK_GRAFT_CPUS=4 on a 4-core host;
# --seconds divided by it gives the number of timed rounds.
SNAPSHOT_ROUND_S, CDC_ROUND_S, VEC_ROUND_S = 11.0, 8.0, 9.0

WARMUP, COLD = -1, -2


def dir_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


class Context:
    """What a workload shares with the runner: the session, the tracer,
    the checker process, the samples it measures and the operations it
    counts."""

    def __init__(self, spark, tracer, oracle, work: str, seconds: float,
                 process_start: float) -> None:
        self.spark = spark
        self.tracer = tracer
        self.oracle = oracle
        self.inputs = oracle.inputs
        self.work = work
        self.seconds = seconds
        self.process_start = process_start
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.round_stats: dict[int, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        self.attempted = self.failed = self.wrong = 0
        self.timed = False
        self.setup_s = None
        self.rounds = 0
        self.marks: dict[str, float] = {}  # set-up milestones, epoch seconds
        self._moved: list[tuple[int, float]] = []
        self.notes: dict[str, float] = {}  # extra facts for the run record

    def sample(self, name: str, value: float) -> None:
        """One operation's value, or one round's (``stored_ratio``, and
        snapshot_copy's means); the metric is the median over the timed
        window."""
        if self.timed:
            self.samples[name].append(value)

    def moved(self, rows: int, seconds: float) -> None:
        """Rows moved in ``seconds``; a round contributes its rows per
        second of that time to ``rows_per_s``."""
        if self.timed:
            self._moved.append((rows, seconds))

    def close_round(self) -> None:
        if self._moved:
            rows, secs = zip(*self._moved)
            self.samples["rows_per_s"].append(sum(rows) / sum(secs))
        self._moved.clear()

    def stat(self, round_: int, name: str, value: float) -> None:
        self.round_stats[round_][name] += value

    def op(self, what: str, fn):
        """Run one operation and time it.  Returns (answer, start, end),
        in perf_counter seconds; the answer is None when the operation
        raised, which counts as a failure and aborts a run still in
        set-up."""
        if self.timed:
            self.attempted += 1
        start = time.perf_counter()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - one failed operation, counted
            if not self.timed:
                raise
            self.failed += 1
            print(f"FAILED {what}:\n{traceback.format_exc()[-3000:]}",
                  file=sys.stderr)
            out = None
        return out, start, time.perf_counter()

    def check(self, what: str, answer, checker) -> bool:
        """Check an operation's answer apart from the engine, after it was
        timed.  A wrong answer turns the operation into a failure and
        aborts a run still in set-up.  Returns whether the answer is
        right; a failed operation has none."""
        if answer is None:
            return False
        problems = checker(answer)
        if not problems:
            return True
        if not self.timed:
            raise RuntimeError(f"wrong answer during set-up, {what}: {problems}")
        self.failed += 1
        self.wrong += 1
        print(f"WRONG {what}: {problems}", file=sys.stderr)
        return False

    def rounds_loop(self, one_round, round_s: float) -> None:
        """Cold start is the caller's; then the warm-up round, then the
        timed window.

        The window is a whole number of rounds: ``seconds`` divided by
        the workload's nominal round length ``round_s`` (a timed round at
        SPARK_GRAFT_CPUS=4 on a 4-core host, README.md), at least one.
        So every run with one ``--seconds`` measures the same operations,
        and a slow host stretches the window instead of measuring less,
        earlier work."""
        self.marks["cold_end"] = time.time()
        one_round(WARMUP)
        self.marks["warmup_end"] = time.time()
        self.timed = True
        self.setup_s = time.time() - self.process_start
        self.rounds = max(1, int(self.seconds / round_s + 0.5))
        for r in range(self.rounds):
            one_round(r)
            self.close_round()


# ---------------------------------------------------------------------------
# snapshot_copy
# ---------------------------------------------------------------------------

def _table_specs():
    from mysql_clickhouse_sync_spark.schema.mysql_types import (
        ColumnSpec,
        TableSpec,
    )

    specs = {}
    for name, decl in gen.SNAPSHOT_TABLES.items():
        cols = tuple(
            ColumnSpec(c, t, is_nullable=nullable,
                       column_key="PRI" if c in decl["pks"] else "",
                       numeric_precision=p, numeric_scale=s,
                       is_unsigned=unsigned)
            for c, t, nullable, unsigned, p, s in decl["columns"]
        )
        specs[name] = TableSpec(name, cols, tuple(decl["pks"]))
    return specs


def _lookup(spark, path: str, pks, value_col: str, q) -> set:
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    k = [F.col(c) for c in pks]
    if q[0] == "point":
        cond = reduce(lambda a, b: a & b,
                      [c == F.lit(v) for c, v in zip(k, q[1])])
    elif len(pks) == 1:
        cond = k[0].between(q[1][0], q[2][0])
    else:
        (lo1, lo2), (hi1, hi2) = q[1], q[2]
        cond = ((k[0] > lo1) | ((k[0] == lo1) & (k[1] >= lo2))) & (
            (k[0] < hi1) | ((k[0] == hi1) & (k[1] <= hi2))
        )
    rows = df.filter(cond).select(*pks, value_col).collect()
    # Decimal and int compare and hash alike, so DECIMAL(20,0) meets uint64
    return {(tuple(r[c] for c in pks), r[value_col]) for r in rows}


def snapshot_copy(ctx: Context) -> None:
    import mysql_clickhouse_sync_spark.pipeline.snapshot as snapmod

    spark, tr, oracle = ctx.spark, ctx.tracer, ctx.oracle
    specs = _table_specs()

    if tr.enabled:
        for fname, span in (("verify_counts", "verify.counts"),
                            ("verify_diff", "verify.diff")):
            orig = getattr(snapmod, fname)

            def timed(*a, _orig=orig, _span=span, **kw):
                with tr.span(_span, phase="verify"):
                    return _orig(*a, **kw)

            setattr(snapmod, fname, timed)

    # No cold start of its own: the warm-up round is the first copy, on
    # the half-size warm-up tables.
    def one_round(r: int) -> None:
        which = "warm" if r == WARMUP else "main"
        inp = ctx.inputs[which]

        def reader(table: str):
            return spark.read.parquet(os.path.join(inp["source_dir"], table))

        target = os.path.join(ctx.work, f"snapshot_r{r}")
        rep = snapmod.SnapshotReplicator(spark, reader, target, specs)
        rows = copy_s = 0.0
        # The three tables differ too much in size for a median over
        # their operations to be steady: a round gives the mean of its
        # lookups and of its tables' freshness.
        reads, fresh = [], []
        for table, decl in gen.SNAPSHOT_TABLES.items():
            n = inp["rows"][table]
            with tr.span("snapshot.table", phase="snapshot.copy", round_=r,
                         trace=f"r{r}"):
                res, t0, t1 = ctx.op(f"replicate {table}",
                                     lambda: rep.replicate_table(table))
            if not ctx.check(
                f"replicate {table}", res,
                lambda res: [] if (res.success and res.source_count == n
                                   and res.target_count == n)
                else [f"replicate {table}: {res}"],
            ):
                continue
            rows += n
            copy_s += t1 - t0
            path = os.path.join(target, table)
            for i, q in enumerate(inp["lookups"][table]):
                with tr.span("lookup", phase="lookup", round_=r, trace=f"r{r}"):
                    got, a, b = ctx.op(
                        f"lookup {table} {q}",
                        lambda: _lookup(spark, path, decl["pks"],
                                        gen.SNAPSHOT_VALUE_COL[table], q))
                ctx.check(f"lookup {table} {q}", got,
                          lambda got: oracle("check_lookup", which, table, i, got))
                reads.append(b - a)
                if i == 0:
                    fresh.append(b - t0)
            if ctx.timed:
                # the copy against its source, through DuckDB
                ctx.check(f"copy of {table}", path,
                          lambda path: oracle("check_table", which, table, path))
        if reads:
            ctx.sample("read", sum(reads) / len(reads))
            ctx.sample("fresh", sum(fresh) / len(fresh))
        out_bytes, _ = dir_bytes(target)
        ctx.stat(r, "snapshot.output_bytes", out_bytes)
        if copy_s:
            ctx.moved(rows, copy_s)
        ctx.sample("stored_ratio", out_bytes / inp["source_bytes"])
        shutil.rmtree(target)

    ctx.rounds_loop(one_round, SNAPSHOT_ROUND_S)


# ---------------------------------------------------------------------------
# cdc_upsert
# ---------------------------------------------------------------------------

def _changelog_schema():
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType([
        StructField("op", StringType()),
        StructField("seq", LongType()),
        StructField("order_id", LongType()),
        StructField("customer_id", IntegerType()),
        StructField("status", StringType()),
        StructField("amount_cents", LongType()),
        StructField("note", StringType()),
    ])


def _live_queries(pipeline, probe_keys):
    """The reader queries run after every wave, each on a fresh live()."""
    from pyspark.sql import functions as F

    return {
        "count": lambda: pipeline.live().count(),
        "point": lambda: {
            tuple(r) for r in pipeline.live().filter(
                F.col("order_id").isin(probe_keys)
            ).select(*gen.CDC_COLUMNS).collect()
        },
        "by_status": lambda: {
            r["status"]: (r["n"], r["s"]) for r in pipeline.live()
            .groupBy("status")
            .agg(F.count("*").alias("n"), F.sum("amount_cents").alias("s"))
            .collect()
        },
    }


def cdc_upsert(ctx: Context) -> None:
    from mysql_clickhouse_sync_spark.pipeline.compact import (
        execute_compaction,
        plan_table_compaction,
    )
    from mysql_clickhouse_sync_spark.streaming.cdc_pipeline import (
        CDCStreamPipeline,
        run_initial_sync_then_stream,
    )

    spark, tr, oracle, inp = ctx.spark, ctx.tracer, ctx.oracle, ctx.inputs
    schema = _changelog_schema()

    # cold start: the initial sync into a pristine base every round copies
    pristine = os.path.join(ctx.work, "cdc_pristine")
    pipe = CDCStreamPipeline(spark, "orders", ["order_id"], schema, pristine)
    empty = os.path.join(ctx.work, "cdc_empty_changelog")
    os.makedirs(empty)
    with tr.span("cdc.initial_sync", phase=None, round_=COLD, trace="cold"):
        run_initial_sync_then_stream(
            pipe, spark.read.parquet(inp["snapshot_path"]), empty
        )

    # the warm-up round lands the same waves as a timed round
    def one_round(r: int) -> None:
        base = os.path.join(ctx.work, f"cdc_r{r}")
        shutil.copytree(pipe.target_dir, os.path.join(base, "orders_cdc"))
        p = CDCStreamPipeline(spark, "orders", ["order_id"], schema, base)
        changelog = os.path.join(base, "changelog")
        os.makedirs(changelog)
        drain_span: list = [None]
        if tr.enabled:
            orig = p.apply_microbatch

            def microbatch(df, batch_id):
                ctx.stat(r, "cdc.microbatches", 1)
                with tr.span("cdc.microbatch", phase="cdc.drain",
                             parent=drain_span[0]):
                    orig(df, batch_id)

            p.apply_microbatch = microbatch
        landed_bytes = 0
        for w, wave in enumerate(inp["waves"]):
            stage = os.path.join(base, f"stage{w}")
            os.makedirs(stage)
            staged = [os.path.join(stage, os.path.basename(f)) for f in wave["files"]]
            for src, dst in zip(wave["files"], staged):
                shutil.copyfile(src, dst)
                landed_bytes += os.path.getsize(dst)
            _b, files_before = dir_bytes(p.target_dir)
            t_land = time.perf_counter()
            for f in staged:
                os.rename(f, os.path.join(changelog, f"w{w}-{os.path.basename(f)}"))
            trace = f"r{r}w{w}"

            def drain():
                q = p.start(changelog, available_now=True)
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                return True

            with tr.span("cdc.drain", phase="cdc.drain", round_=r,
                         trace=trace) as sp:
                drain_span[0] = sp
                ok, a, b = ctx.op(f"drain wave {w}", drain)
            if ok:
                ctx.moved(wave["events"], b - a)
            _b, files_after = dir_bytes(p.target_dir)
            ctx.stat(r, "cdc.files_written", files_after - files_before)
            for i, (name, fn) in enumerate(
                    _live_queries(p, wave["probe_keys"]).items()):
                with tr.span("live.read", phase="live.read", round_=r,
                             trace=trace, query=name):
                    got, a, b = ctx.op(f"live {name} after wave {w}", fn)
                ctx.check(f"live {name} after wave {w}", got,
                          lambda got, name=name: oracle(
                              "check_read", w, name, got))
                ctx.sample("read", b - a)
                ctx.stat(r, "live.rows", wave["live_rows"])
                if i == 0:
                    ctx.sample("fresh", b - t_land)
            if (w + 1) % gen.CDC_COMPACT_EVERY == 0:
                with tr.span("compact", phase="compact", round_=r, trace=trace):
                    plan = plan_table_compaction(p.target_dir)
                    res, _a, _b = ctx.op(f"compact after wave {w}",
                                         lambda: execute_compaction(spark, plan))
                if ctx.check(f"compact after wave {w}", res,
                             lambda res: [f"compaction errors: {res.errors}"]
                             if res.errors else []):
                    ctx.stat(r, "compact.files_in", plan.n_input_files)
                    ctx.stat(r, "compact.files_out", res.files_written)
                    ctx.stat(r, "compact.bytes_rewritten",
                             sum(bn.total_bytes for bn in plan.bins))
        stored, _ = dir_bytes(p.target_dir)
        ctx.sample("stored_ratio", stored / (inp["snapshot_bytes"] + landed_bytes))
        shutil.rmtree(base)

    ctx.rounds_loop(one_round, CDC_ROUND_S)


# ---------------------------------------------------------------------------
# vector_ingest
# ---------------------------------------------------------------------------

def vector_ingest(ctx: Context) -> None:
    from pyspark.sql import functions as F

    from mysql_clickhouse_sync_spark.operators.similarity import (
        bucket_cosine_pairs_vs_index_vectorized,
        ivf_build_index,
        ivf_index_append,
        ivf_topk_vs_index,
    )

    spark, tr, oracle, inp = ctx.spark, ctx.tracer, ctx.oracle, ctx.inputs
    pristine = os.path.join(ctx.work, "vec_pristine")
    pristine_postings = os.path.join(pristine, "postings")
    cent_dir = os.path.join(pristine, "centroids")
    with tr.span("ivf.build", phase=None, round_=COLD, trace="cold"):
        centroids, postings = ivf_build_index(
            spark.read.parquet(inp["base_path"]), n_centroids=gen.VEC_CELLS
        )
        postings.write.partitionBy("_cid").parquet(pristine_postings)
        centroids.write.parquet(cent_dir)
    cents = [
        [float(x) for x in row["cu"]]
        for row in spark.read.parquet(cent_dir).orderBy("cid").collect()
    ]
    cent_bytes, _ = dir_bytes(cent_dir)
    oracle("set_centroids", cents)
    ctx.check("index build", pristine_postings,
              lambda path: oracle("check_index", path))
    queries = spark.read.parquet(inp["query_path"])

    def search_check(rows):
        problems, recall = oracle("check_search", rows)
        ctx.notes["min_recall"] = min(recall, ctx.notes.get("min_recall", 1.0))
        return problems

    # A round lands the wave on a fresh copy of the built index; the
    # warm-up round is one such round.
    def one_round(r: int) -> None:
        w = 0
        wave_in = inp["waves"][w]
        base = os.path.join(ctx.work, f"vec_r{r}")
        pdir = os.path.join(base, "postings")
        shutil.copytree(pristine_postings, pdir)
        incoming = os.path.join(base, "incoming")
        os.makedirs(incoming)
        trace = f"r{r}"
        landed = os.path.join(incoming, "wave.parquet")
        t_land = time.perf_counter()
        shutil.copyfile(wave_in["path"], landed)
        wave = spark.read.parquet(landed)

        def screen():
            stored = spark.read.parquet(pdir)
            assigned = ivf_index_append(cents, stored.limit(0), wave)
            combined = stored.select("vec_id", "_cid", "_cv").withColumn(
                "_is_new", F.lit(False)
            ).unionByName(
                assigned.select("vec_id", "_cid", "_cv")
                .withColumn("_is_new", F.lit(True))
            )
            return {
                (int(x["id_a"]), int(x["id_b"]))
                for x in bucket_cosine_pairs_vs_index_vectorized(
                    combined, "_cid", "vec_id", "_cv", "_is_new",
                    threshold=gen.VEC_THRESHOLD,
                ).collect()
            }

        with tr.span("screen", phase="screen", round_=r, trace=trace):
            pairs, a, b = ctx.op("screen wave", screen)
        if pairs is None:
            shutil.rmtree(base)
            return
        ctx.stat(r, "screen.pairs", len(pairs))
        # a pair's larger id is always a new row: it is the duplicate
        drop = {max(x) for x in pairs}

        def append():
            stored = spark.read.parquet(pdir)
            ivf_index_append(
                cents, stored.limit(0),
                wave.filter(~F.col("vec_id").isin(sorted(drop))),
            ).write.mode("append").partitionBy("_cid").parquet(pdir)
            return True

        with tr.span("ivf.append", phase="ivf.append", round_=r, trace=trace):
            ok, c, d = ctx.op("append wave", append)
        if not ok:
            shutil.rmtree(base)
            return
        ctx.moved(wave_in["n"], (b - a) + (d - c))
        with tr.span("ivf.search", phase="ivf.search", round_=r, trace=trace):
            rows, e, f = ctx.op(
                "search after the wave",
                lambda: [
                    (x["query_id"], x["neighbor_id"], x["cosine_sim"], x["rnk"])
                    for x in ivf_topk_vs_index(
                        cents, spark.read.parquet(pdir), queries,
                        k=gen.VEC_K, nprobe=gen.VEC_NPROBE, prune_cells=True,
                    ).collect()
                ])
        ctx.sample("read", f - e)
        ctx.sample("fresh", f - t_land)
        # Checked only now, so that no check runs inside the freshness
        # interval; the screen is checked against the index before the
        # append.
        oracle("begin_round")
        ctx.check("screen wave", pairs, lambda got: oracle("check_screen", w, got))
        n_indexed = oracle("appended", w, drop)
        ctx.check("search after the wave", rows, search_check)
        ctx.check("append wave", pdir, lambda path: oracle("check_index", path))
        post_bytes, post_files = dir_bytes(pdir)
        ctx.stat(r, "ivf.postings_files", post_files)
        ctx.sample("stored_ratio",
                   (post_bytes + cent_bytes) / (n_indexed * gen.VEC_DIM * 4))
        shutil.rmtree(base)

    ctx.rounds_loop(one_round, VEC_ROUND_S)


WORKLOADS = {
    "snapshot_copy": snapshot_copy,
    "cdc_upsert": cdc_upsert,
    "vector_ingest": vector_ingest,
}
