#!/usr/bin/env python3
"""erbench: end-to-end and per-layer benchmark of the spark-er engine.

Run from the repository root:

    python3 erbench/run.py --workload er_batch --seed 1 --seconds 5 --trace 0

Every workload is a closed loop: the Spark driver runs one pipeline job or
one micro-batch at a time, on a single-process local[nproc] session
configured by erbench/settings.json. Inputs come from the engine's
seeded page generator and are written to parquet during set-up; the
engine only sees those pages.

  er_batch     plans.pipeline.run_pipeline (resume=False, default
               PipelineConfig) over generate_pages(BATCH_ENTITIES): the
               production job's shape, led by the keyed stage and the
               fixed cost of its many small Spark jobs.
  er_stream    streaming.er_stream (max_files_per_trigger=1,
               compact_every=STREAM_COMPACT_EVERY) over one history file
               of 60-80% of the pages, then small files of STREAM_FILE_PAGES
               pages, one micro-batch each: new-vs-corpus
               resolve.find_candidates, incremental CC deltas, corpus
               appends and compaction. The history and the first small
               file are loaded in set-up; the next one is timed.

er_batch runs pipeline jobs until --seconds have passed; er_stream
times one micro-batch, about 9 s on a 4-core host: a second one in the
same process moved the spread between runs no lower. A traced run times
a plain, a traced and a plain job or micro-batch, at least.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 they are the per-layer ones, from a
run with the Spark event log on and spans around each layer call.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from datetime import datetime

import procs
import tracing

T_PROCESS = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".erbench_work")

BATCH_ENTITIES = 1000
STREAM_ENTITIES = 500  # about 1,200 pages
STREAM_COMPACT_EVERY = 1  # every micro-batch is a full compaction cycle
STREAM_FILE_PAGES = 120  # pages of each small file; the rest is history
HARD_LIMIT_S = 165  # stop starting new work this long after process start
F1_GATE = 0.99
KERNEL_PAGES, KERNEL_PAIRS = 2000, 4000
SPAN_GAP_LIMIT = 0.03


class CheckFailed(Exception):
    pass


def log(msg: str) -> None:
    print(f"[erbench {time.monotonic() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


class Bench:
    """One benchmark process: work directory, Spark session, RSS sampler
    and the captured driver log. close() stops every process started."""

    def __init__(self, args, settings: dict):
        self.args = args
        self.trace = bool(args.trace)
        self.work = os.path.join(WORK, args.workload)
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "events"):
            os.makedirs(os.path.join(self.work, d))
        cores = len(os.sched_getaffinity(0))  # nproc
        self.master = f"local[{cores}]"
        tmp = os.path.join(self.work, "tmp")
        os.environ.update(settings["env"])
        os.environ.update(
            {
                "SPARK_GRAFT_CPUS": str(cores),
                "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
                "TMPDIR": tmp,
                # Python workers import the engine from the checkout
                "PYTHONPATH": os.pathsep.join(
                    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
                ),
            }
        )
        tempfile.tempdir = tmp
        self.conf = dict(settings["spark_conf"])
        self.conf.update(
            {
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={os.path.join(self.work, 'derby')}",
            }
        )
        if self.trace:
            self.conf.update(settings["trace_spark_conf"])
            self.conf["spark.eventLog.dir"] = "file:" + os.path.join(self.work, "events")
        self.driver_log = os.path.join(self.work, "spark-driver.log")
        self.spark = None
        self._gateway_proc = None
        self.rss = None

    def start(self) -> float:
        """Start the driver JVM; returns its start-up wall seconds. The
        JVM's stderr (the Spark driver log) goes to driver_log."""
        from aml_entity_resolution_assignment_spark.session import get_spark

        t0 = time.monotonic()
        saved = os.dup(2)
        with open(self.driver_log, "wb") as f:
            os.dup2(f.fileno(), 2)
            try:
                self.spark = get_spark(
                    f"erbench-{self.args.workload}", master=self.master, extra_conf=self.conf
                )
            finally:
                os.dup2(saved, 2)
                os.close(saved)
        self._gateway_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.rss = procs.RssSampler()
        self.rss.start()
        if self.trace:
            self.event_log(False)
        return time.monotonic() - t0

    def event_log(self, on: bool) -> None:
        """Attach or detach Spark's event-log listener, so only the traced
        iterations of a traced run pay for (and appear in) the log."""
        sc = self.spark.sparkContext._jsc.sc()
        listener = sc.eventLogger().get()
        if on:
            sc.listenerBus().addToEventLogQueue(listener)
        else:
            sc.listenerBus().removeListener(listener)

    def error_log_lines(self) -> int:
        with open(self.driver_log, errors="replace") as f:
            return sum(1 for line in f if " ERROR " in line[:40])

    def driver_log_tail(self, n: int = 40) -> str:
        try:
            with open(self.driver_log, errors="replace") as f:
                return "".join(f.readlines()[-n:])
        except OSError:
            return ""

    def stop_spark(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers exit."""
        if self.spark is None:
            return
        pids = procs.descendants(os.getpid())
        if self.rss is not None:
            self.rss.stop()
        self.spark.stop()
        self.spark = None
        proc = self._gateway_proc
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        procs.wait_gone(pids, timeout_s=20)

    def close(self) -> None:
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)

    def time_left(self) -> float:
        return HARD_LIMIT_S - (time.monotonic() - T_PROCESS)


# ---------------------------------------------------------------------------
# Inputs (set-up)
# ---------------------------------------------------------------------------


def write_pages(b: Bench, gen_fn) -> tuple[float, int]:
    """Generate the pages (with their truth column) into one parquet
    table; returns (seconds taken, page count)."""
    t0 = time.monotonic()
    gen_fn().write.parquet(os.path.join(b.work, "generated"))
    n = b.spark.read.parquet(os.path.join(b.work, "generated")).count()
    return time.monotonic() - t0, n


def read_inputs(b: Bench):
    """(pages the engine sees, url -> true entity id)."""
    df = b.spark.read.parquet(os.path.join(b.work, "generated"))
    return df.drop("entity_id"), df.select("url", "entity_id")


# ---------------------------------------------------------------------------
# Checks
# ---------------------------------------------------------------------------


def check_assignment(assign, pages, n_pages: int) -> int:
    """Every page gets exactly one entity id. Returns a content hash of
    the (url, entity id) table."""
    from pyspark.sql import functions as F

    r = assign.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("url").alias("urls"),
        F.count("predicted_entity_id").alias("ids"),
        F.bit_xor(F.xxhash64("url", "predicted_entity_id")).alias("h"),
    ).collect()[0]
    stray = assign.join(pages.select("url"), "url", "left_anti").count()
    if not (r["n"] == r["urls"] == r["ids"] == n_pages and stray == 0):
        raise CheckFailed(
            f"entity assignment: rows={r['n']} urls={r['urls']} ids={r['ids']} "
            f"stray={stray}, expected {n_pages} pages with one id each"
        )
    return int(r["h"])


def check_pairs(pairs, cols: tuple[str, ...] = ()) -> int:
    """Pair ids are unique with id_a < id_b. Returns a content hash over
    (id_a, id_b, *cols)."""
    from pyspark.sql import functions as F

    r = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("id_a", "id_b").alias("distinct"),
        F.sum((F.col("id_a") >= F.col("id_b")).cast("long")).alias("bad"),
        F.bit_xor(F.xxhash64("id_a", "id_b", *cols)).alias("h"),
    ).collect()[0]
    if r["n"] != r["distinct"] or (r["bad"] or 0) != 0:
        raise CheckFailed(
            f"pairs: {r['n']} rows, {r['distinct']} distinct, "
            f"{r['bad']} with id_a >= id_b"
        )
    return int(r["h"] or 0)


def cluster_stats(assign) -> tuple[int, int]:
    from pyspark.sql import functions as F

    sizes = assign.groupBy("predicted_entity_id").count()
    r = sizes.agg(F.count(F.lit(1)).alias("n"), F.max("count").alias("mx")).collect()[0]
    return int(r["n"]), int(r["mx"])


# ---------------------------------------------------------------------------
# Batch workload
# ---------------------------------------------------------------------------


class BatchLoop:
    """run_pipeline over the set-up pages, one job at a time. Each job
    gets its own work dir; all of them go with the run's work dir."""

    def __init__(self, b: Bench, n_pages: int):
        self.b = b
        self.pages, self.truth = read_inputs(b)
        self.n_pages = n_pages
        self.i = 0
        self.out = None  # outputs of the latest job
        self.fingerprint = None  # output hashes of the warm-up job

    def iteration(self, recorder=None) -> tuple[float, dict, str]:
        """One pipeline job; with a span recorder it is traced. Returns
        (pipeline wall, the job's own metrics table when traced, work
        dir)."""
        from aml_entity_resolution_assignment_spark.plans.pipeline import (
            PipelineConfig,
            read_metrics,
            run_pipeline,
        )

        self.i += 1
        work_dir = os.path.join(self.b.work, f"run{self.i}")
        cfg = PipelineConfig(work_dir=work_dir, resume=False)
        if recorder is None:
            t0 = time.monotonic()
            self.out = run_pipeline(self.b.spark, self.pages, cfg, run_id=f"it{self.i}")
            wall = time.monotonic() - t0
        else:
            with tracing.stage_spans(recorder), recorder.span("pipeline"):
                t0 = time.monotonic()
                self.out = run_pipeline(self.b.spark, self.pages, cfg, run_id=f"it{self.i}")
                wall = time.monotonic() - t0
        stats = {}
        if recorder is not None:
            stats = {
                (r["stage"], r["metric"]): r["value"]
                for r in read_metrics(self.b.spark, work_dir).collect()
            }
        return wall, stats, work_dir

    def check(self) -> None:
        """The latest job gave every page one entity id, unique pairs
        with id_a < id_b, and the same outputs as the warm-up job."""
        fp = (
            check_assignment(self.out["entity_map"], self.pages, self.n_pages),
            check_pairs(self.out["classified"], ("match_type",)),
        )
        if self.fingerprint is None:
            self.fingerprint = fp
        elif fp != self.fingerprint:
            raise CheckFailed("pipeline output differs from the warm-up job's")

    def f1(self) -> tuple[float, float]:
        """(pair F1, cluster F1) of the latest job's outputs."""
        from aml_entity_resolution_assignment_spark.operators import evaluate

        return (
            evaluate.evaluate_labeled_pairs(self.out["classified"], self.truth).f1,
            evaluate.evaluate_clusters(self.out["entity_map"], self.truth)[0].f1,
        )


def er_batch(b: Bench) -> dict:
    from aml_entity_resolution_assignment_spark.sources.generator import generate_pages

    jvm_s = b.start()
    data_s, n_pages = write_pages(
        b, lambda: generate_pages(b.spark, n_entities=BATCH_ENTITIES, seed=b.args.seed)
    )
    loop = BatchLoop(b, n_pages)
    log(f"{n_pages} pages; jvm {jvm_s:.1f}s data {data_s:.1f}s")
    # warm-up: one untimed job pays for class loading, JIT, Spark code
    # generation and Python worker start-up; its checked outputs are the
    # fingerprint every measured job must reproduce
    t0 = time.monotonic()
    wall, _, _ = loop.iteration()
    loop.check()
    setup_s = jvm_s + data_s + (time.monotonic() - t0)
    log(f"warm-up: {wall:.2f}s; setup {setup_s:.1f}s")

    walls, traced, plain = [], [], []
    attempted = failed = 0
    b.rss.reset()
    t0 = time.monotonic()
    last_traced_dir = None
    while True:
        attempted += 1
        trace_this = b.trace and attempted % 2 == 0
        recorder = tracing.SpanRecorder() if trace_this else None
        try:
            if trace_this:
                b.event_log(True)
            try:
                wall, stats, work_dir = loop.iteration(recorder)
            finally:
                if trace_this:
                    b.event_log(False)
            loop.check()
        except Exception:  # noqa: BLE001 - count the failure, keep measuring
            traceback.print_exc()
            failed += 1
        else:
            walls.append(wall)
            log(f"job {attempted}{' traced' if trace_this else ''}: {wall:.2f}s")
            if trace_this:
                traced.append((wall, recorder, stats))
                last_traced_dir = work_dir
            else:
                plain.append(wall)
        elapsed = time.monotonic() - t0
        enough = elapsed >= b.args.seconds
        if b.trace:
            enough = enough and bool(traced) and len(plain) >= 2
        if enough or b.time_left() < 1.5 * elapsed / attempted + 20:
            break
    peak_rss = b.rss.peak_mb()

    # every checked job reproduced the warm-up outputs, so one F1
    # evaluation holds for all of them
    pair_f1, cluster_f1 = loop.f1() if walls else (0.0, 0.0)
    if pair_f1 < F1_GATE:
        log(f"pair_f1 {pair_f1:.4f} below the {F1_GATE} gate")
        failed = attempted
    if not b.trace:
        return e2e_result(
            attempted,
            failed,
            setup_s=setup_s,
            pages_per_s=n_pages * len(walls) / sum(walls) if walls else 0.0,
            pair_f1=pair_f1,
            cluster_f1=cluster_f1,
            peak_rss_mb=peak_rss,
        )
    return batch_layers(b, loop, attempted, failed, plain, traced, last_traced_dir)


def batch_layers(b: Bench, loop: BatchLoop, attempted, failed, plain, traced, work_dir) -> dict:
    """Per-layer metrics of the traced pipeline jobs, from their spans
    and the event log, plus kernel speeds on this workload's data."""
    import kernels

    from aml_entity_resolution_assignment_spark.sources import io

    counts, samples = {}, None
    if traced:
        keyed = io.read_table(b.spark, work_dir, "stage=pages_keyed")
        pairs = io.read_table(b.spark, work_dir, "stage=candidate_pairs")
        entities, largest = cluster_stats(io.read_table(b.spark, work_dir, "stage=entity_map"))
        samples = (
            kernels.page_sample(loop.pages, KERNEL_PAGES),
            kernels.pair_sample(pairs, keyed, KERNEL_PAIRS),
        )
        st = traced[-1][2]  # the pipeline's own run metrics
        n_pairs = st[("candidate_pairs", "rows_out")]
        n_match = st.get(("classified_pairs", "n_match"), 0.0)
        counts = {
            "candidates.pairs_per_page": n_pairs / loop.n_pages,
            "candidates.match_yield": n_match / n_pairs if n_pairs else 0.0,
            "classify.match": n_match,
            "classify.review": st.get(("classified_pairs", "n_review"), 0.0),
            "classify.no_match": st.get(("classified_pairs", "n_no_match"), 0.0),
            "cluster.entities": float(entities),
            "cluster.largest": float(largest),
        }
    b.stop_spark()
    per_job, gaps = [], []
    if traced:
        ev = tracing.read_event_log(os.path.join(b.work, "events"))
    for wall, rec, _ in traced:
        outer = next(s for s in rec.spans if s.name == "pipeline")
        stages = [s for s in rec.spans if s.name != "pipeline"]
        jobs = tracing.attribute(ev, stages + [outer])
        m = {}
        for s in stages:
            m.update(tracing.span_metrics(s.name, s.end - s.start, jobs[s.name]))
        # run_pipeline's own jobs outside the stage calls: blocking
        # health, the run-report counts and the metrics-table write
        own = tracing.job_walls(
            {"pipeline": jobs["pipeline"]}, outer.start, [s.end for s in stages]
        )
        m.update(tracing.span_metrics("pipeline", own["pipeline"], jobs["pipeline"]))
        span_sum = sum(m[f"{name}.wall_s"] for name in jobs)
        gaps.append(abs(span_sum - wall) / wall)
        m["trace.job_idle_frac"] = 1 - tracing.busy_s(sum(jobs.values(), [])) / wall
        per_job.append(m)
    return layer_result(
        b, attempted, failed, per_job, gaps, counts, samples, plain, [w for w, _, _ in traced]
    )


def layer_result(b, attempted, failed, per_unit, gaps, counts, samples, plain, traced) -> dict:
    """Result of a traced run. per_unit holds the span metrics of each
    traced pipeline job or micro-batch, gaps how far each one's span
    walls miss its wall; samples are the (pages, pairs) kernel inputs;
    plain and traced are the walls of untraced and traced units."""
    import kernels

    errors = b.error_log_lines()
    ok = failed == 0 and bool(per_unit)
    speeds = {}
    if per_unit:
        speeds, mismatched = kernels.measure(*samples)
        if mismatched:
            log(f"kernel parity FAILED: {mismatched}")
            ok = False
        log(f"span walls miss the measured walls by {', '.join(f'{g:.1%}' for g in gaps)}")
        if max(gaps) > SPAN_GAP_LIMIT:
            ok = False
    overhead = (
        statistics.median(traced) / statistics.median(plain) - 1 if traced and plain else 0.0
    )
    return result(
        ok,
        attempted,
        failed,
        layer_metrics(
            median_metrics(per_unit), counts, speeds, overhead, max(gaps, default=0.0), errors
        ),
    )


# ---------------------------------------------------------------------------
# Streaming workload
# ---------------------------------------------------------------------------


def er_stream(b: Bench) -> dict:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aml_entity_resolution_assignment_spark.operators import evaluate
    from aml_entity_resolution_assignment_spark.operators.blocking import add_blocking_keys
    from aml_entity_resolution_assignment_spark.operators.candidates import (
        candidate_pairs,
        persisted_scope,
    )
    from aml_entity_resolution_assignment_spark.operators.classify import classify
    from aml_entity_resolution_assignment_spark.operators.cluster import resolve_entities
    from aml_entity_resolution_assignment_spark.operators.features import pair_features
    from aml_entity_resolution_assignment_spark.sources.generator import generate_pages
    from aml_entity_resolution_assignment_spark.streaming import stream as S

    seed = b.args.seed
    jvm_s = b.start()
    spark = b.spark
    data_s, n_pages = write_pages(
        b, lambda: generate_pages(spark, n_entities=STREAM_ENTITIES, seed=seed)
    )
    pages, truth = read_inputs(b)
    # small files: the set-up micro-batch, then the timed one, or in a
    # traced run a plain, a traced and a plain one
    n_files = 4 if b.trace else 2
    if n_pages <= 2 * n_files * STREAM_FILE_PAGES:
        raise RuntimeError(f"{n_pages} pages leave too little history")
    t_warm = time.monotonic()

    # the small files, then the history file, in the order of a seeded
    # hash of the url
    src, staged = os.path.join(b.work, "src"), os.path.join(b.work, "staged")
    rank = F.row_number().over(Window.orderBy(F.xxhash64("url", F.lit(seed)), "url")) - 1
    ranked = pages.withColumn("_file", (rank / STREAM_FILE_PAGES).cast("int"))
    ranked.where(F.col("_file") >= n_files).drop("_file").coalesce(1).write.parquet(src)
    for i in range(n_files):
        part = ranked.where(F.col("_file") == i).drop("_file")
        part.coalesce(1).write.parquet(os.path.join(staged, str(i)))

    root, ckpt = os.path.join(b.work, "er"), os.path.join(b.work, "ckpt")

    def run_query(files: list[int]) -> list[dict]:
        """Stage the files and run er_stream until it has consumed them;
        returns the progress reports of its non-empty micro-batches."""
        for i in files:
            for f in sorted(os.listdir(os.path.join(staged, str(i)))):
                if f.endswith(".parquet"):
                    os.rename(os.path.join(staged, str(i), f), os.path.join(src, f"f{i}-{f}"))
        q = S.er_stream(
            S.read_pages_stream(spark, src, max_files_per_trigger=1),
            root,
            ckpt,
            compact_every=STREAM_COMPACT_EVERY,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(progress) != max(len(files), 1):
            raise CheckFailed(f"{len(progress)} micro-batches for {len(files)} files")
        return progress

    run_query([])  # history
    log(f"history loaded at {time.monotonic() - t_warm:.1f}s of set-up")

    # reference: the batch operators over all pages
    def materialize(df, name):
        df.write.parquet(os.path.join(b.work, name))
        return spark.read.parquet(os.path.join(b.work, name))

    keyed = materialize(add_blocking_keys(pages), "ref_keyed")
    with persisted_scope():
        ref_cls = materialize(
            classify(pair_features(candidate_pairs(keyed), keyed)), "ref_classified"
        )
    ref = materialize(resolve_entities(ref_cls, keyed), "ref_clusters")
    # warm-up: the first incremental micro-batch is the first to run
    # find_candidates, the CC delta and the corpus append, and pays for
    # their JIT and code generation
    (p,) = run_query([0])
    setup_s = jvm_s + data_s + (time.monotonic() - t_warm)
    log(f"{n_pages} pages; warm-up batch {p['durationMs']['triggerExecution'] / 1000:.2f}s; "
        f"setup {setup_s:.1f}s")

    # timed micro-batches, one file each
    observations = []
    lats, traced_batches, plain_lat, traced_lat = [], [], [], []
    attempted = failed = 0
    b.rss.reset()
    for i in range(1, n_files):
        trace_this = b.trace and i == 2
        attempted += 1
        try:
            if trace_this:
                b.event_log(True)
            try:
                with observed_classify(observations if trace_this else None):
                    (p,) = run_query([i])
            finally:
                if trace_this:
                    b.event_log(False)
        except Exception:  # noqa: BLE001 - count the failure, keep measuring
            traceback.print_exc()
            failed += 1
            continue
        lat = p["durationMs"]["triggerExecution"] / 1000
        lats.append(lat)
        (traced_lat if trace_this else plain_lat).append(lat)
        if trace_this:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            traced_batches.append((start, lat))
        log(f"batch {p['batchId']}{' traced' if trace_this else ''}: {lat:.2f}s")
    peak_rss = b.rss.peak_mb()

    # checks: the final clusters equal the batch reference over all
    # pages; stream match edges are unique with id_a < id_b
    final = S.read_er_stream_clusters(spark, root)
    edges = spark.read.parquet(os.path.join(root, "matches")).select("id_a", "id_b")
    pair_f1 = cluster_f1 = 0.0
    entities = largest = 0
    try:
        check_assignment(final, pages, n_pages)
        check_pairs(edges)
        diff = (
            final.alias("g")
            .join(ref.alias("w"), "url", "full_outer")
            .where(
                ~F.col("g.predicted_entity_id").eqNullSafe(F.col("w.predicted_entity_id"))
            )
            .count()
        )
        if diff:
            raise CheckFailed(f"{diff} pages differ from the batch reference clusters")
        cluster_f1 = evaluate.evaluate_clusters(final, truth)[0].f1
        # stream decisions on the labeled candidate pairs: the batch
        # reference's candidates plus every edge the stream emitted
        labeled = (
            ref_cls.select("id_a", "id_b")
            .unionByName(edges)
            .distinct()
            .join(edges.withColumn("is_match", F.lit(1)), ["id_a", "id_b"], "left")
            .select(
                "id_a",
                "id_b",
                F.coalesce("is_match", F.lit(0)).alias("is_match"),
                F.when(F.col("is_match") == 1, "match").otherwise("no_match").alias("match_type"),
            )
        )
        pair_f1 = evaluate.evaluate_labeled_pairs(labeled, truth).f1
        if b.trace:
            entities, largest = cluster_stats(final)
    except Exception:  # noqa: BLE001 - a failed final check fails every batch
        traceback.print_exc()
        failed = attempted

    if not b.trace:
        return e2e_result(
            attempted,
            failed,
            setup_s=setup_s,
            pages_per_s=STREAM_FILE_PAGES * len(lats) / sum(lats) if lats else 0.0,
            pair_f1=pair_f1,
            cluster_f1=cluster_f1,
            peak_rss_mb=peak_rss,
        )

    import kernels

    samples = (
        kernels.page_sample(pages, KERNEL_PAGES),
        kernels.pair_sample(ref_cls, keyed, KERNEL_PAIRS),
    )
    obs = [o.get for o in observations]
    b.stop_spark()
    per_batch, gaps, counts = [], [], {}
    if traced_batches:
        ev = tracing.read_event_log(os.path.join(b.work, "events"))
        for start, lat in traced_batches:
            segs = tracing.stream_segments(ev, start, start + lat)
            walls = tracing.job_walls(segs, start)
            m = {}
            for name, jobs in segs.items():
                m.update(tracing.span_metrics(name, walls[name], jobs))
            per_batch.append(m)
            gaps.append(abs(sum(m[f"{name}.wall_s"] for name in segs) - lat) / lat)
            m["trace.job_idle_frac"] = 1 - tracing.busy_s(sum(segs.values(), [])) / lat
        n_traced_pages = STREAM_FILE_PAGES * len(traced_batches)
        n_pairs = sum(o["pairs"] for o in obs)
        n_match = sum(o["match"] for o in obs)
        counts = {
            "candidates.pairs_per_page": n_pairs / n_traced_pages,
            "candidates.match_yield": n_match / n_pairs if n_pairs else 0.0,
            "classify.match": float(n_match),
            "classify.review": float(sum(o["review"] for o in obs)),
            "classify.no_match": float(sum(o["no_match"] for o in obs)),
            "cluster.entities": float(entities),
            "cluster.largest": float(largest),
        }
    return layer_result(
        b, attempted, failed, per_batch, gaps, counts, samples, plain_lat, traced_lat
    )


class observed_classify:
    """While open, every classify() result that er_stream builds carries
    a DataFrame.observe of its match/review/no_match counts, collected
    by the action that already runs on it (no extra job)."""

    def __init__(self, sink: list | None):
        self.sink = sink

    def __enter__(self):
        from aml_entity_resolution_assignment_spark.operators import classify as C

        self.original = C.classify
        if self.sink is None:
            return self
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        original, sink = self.original, self.sink

        def classify(features, thresholds=None):
            out = original(features, thresholds)
            obs = Observation(f"erbench_classify_{len(sink)}")
            sink.append(obs)
            is_ = lambda t: F.sum((F.col("match_type") == t).cast("long")).alias(t)  # noqa: E731
            return out.observe(
                obs, F.count(F.lit(1)).alias("pairs"), is_("match"), is_("review"), is_("no_match")
            )

        C.classify = classify
        return self

    def __exit__(self, *exc):
        from aml_entity_resolution_assignment_spark.operators import classify as C

        C.classify = self.original
        return False


# ---------------------------------------------------------------------------
# Output
# ---------------------------------------------------------------------------


def median_metrics(dicts: list[dict]) -> dict:
    keys = {k for d in dicts for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in dicts) for k in keys}


def layer_metrics(spans, counts, speeds, overhead, gap, errors) -> dict:
    import kernels

    out = {}
    for name in tracing.SPANS:
        for field, unit in tracing.SPAN_FIELDS:
            key = f"{name}.{field}"
            out[key] = (spans.get(key, 0.0), unit)
    units = {
        "candidates.pairs_per_page": "pairs/page",
        "candidates.match_yield": "ratio",
        "classify.match": "pairs",
        "classify.review": "pairs",
        "classify.no_match": "pairs",
        "cluster.entities": "count",
        "cluster.largest": "pages",
    }
    for key, unit in units.items():
        out[key] = (counts.get(key, 0.0), unit)
    for k in kernels.KERNELS:
        key = f"kernel.{k}_rows_per_s"
        out[key] = (speeds.get(key, 0.0), "rows/s")
    out["trace_overhead_frac"] = (overhead, "ratio")
    out["trace.span_gap_frac"] = (gap, "ratio")
    out["trace.job_idle_frac"] = (spans.get("trace.job_idle_frac", 0.0), "ratio")
    out["spark.error_log_lines"] = (float(errors), "count")
    return out


E2E_UNITS = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "pair_f1": "ratio",
    "cluster_f1": "ratio",
    "peak_rss_mb": "MB",
}


def e2e_result(attempted: int, failed: int, **values: float) -> dict:
    """Result of an untraced run: the end-to-end metrics, plus ok_frac,
    the share of attempted pipeline jobs or micro-batches that neither
    raised nor failed a check."""
    metrics = {k: (values[k], unit) for k, unit in E2E_UNITS.items()}
    metrics["ok_frac"] = ((attempted - failed) / attempted, "ratio")
    return result(failed == 0, attempted, failed, metrics)


def result(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


WORKLOADS = {"er_batch": er_batch, "er_stream": er_stream}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    import aml_entity_resolution_assignment_spark as engine

    if os.path.dirname(os.path.dirname(os.path.abspath(engine.__file__))) != ROOT:
        sys.exit(f"erbench: the engine package is not in {ROOT}")

    with open(os.path.join(HERE, "settings.json")) as f:
        settings = json.load(f)
    b = Bench(args, settings)
    try:
        out = WORKLOADS[args.workload](b)
    except Exception:
        sys.stderr.write(b.driver_log_tail())
        raise
    finally:
        b.close()
    log("done")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
