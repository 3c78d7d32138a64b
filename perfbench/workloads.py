"""The two workloads. Each is one single-threaded client in a closed loop:
it sends the next operation only after the previous one returned.

A workload function takes a ``Run`` and fills its samples, spans and
failure counts; ``run.py`` turns those into metrics. Sizes are module
constants so that a run fits the benchmark's time budget (see README.md).
"""

from __future__ import annotations

import contextlib
import gc
import io
import os
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from pyarrow import parquet as pq

import gen
import oracle
from harness import Session, Tracer, median

SETUP_REPS = 3
# untimed imports between set-up and the loop: import walls keep falling
# for a few dozen imports while the JVM warms up, and the first ones would
# otherwise dominate the loop's spread
INGEST_WARM_IMPORTS = 6

# ingest_cow
INGEST_GENESIS_DOCS = 20_000  # ~40k flattened rows
INGEST_BATCH_DOCS = 1_000
# cdc_mor
CDC_TABLES = 16
CDC_GENESIS_ROWS = 500  # per table
# per binlog file: with Zipf(1.5) popularity the hottest table merges ~2.4k
# events a batch and the coldest ~37, so every table does real MOR work.
# A file costs about the same at 4k events (4.3-5.1 s at local[4]) as at
# 20k (5.2-6.5 s): the fixed cost of each demuxed table dominates. 20k
# leaves room for only two files in a run; 5k gives more samples per run.
CDC_EVENTS = 5_000
CDC_COMPACT_EVERY = 2


class Run:
    """State of one benchmark run: session, tracer, samples and failures."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, cores: int) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cores = cores
        self.session = Session(work, cores)
        self.tracer = Tracer(trace)
        self.samples: dict[str, list[float]] = {}
        self.values: dict[str, float] = {}  # per-run end-to-end values
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}
        self.warmup_failed: dict[str, str] = {}
        self.loop_spans: list[dict] = []

    @property
    def spark(self):
        return self.session.spark

    def start_session(self):
        t0 = time.perf_counter()
        spark = self.session.start()
        self.samples.setdefault("session_build", []).append(time.perf_counter() - t0)
        return spark

    @contextlib.contextmanager
    def op(self, kind: str, span: str | None = None, label: str | None = None,
           warmup: bool = False):
        """One attempted operation, yielding its span (None when untraced).
        Its wall goes to ``samples[kind]`` when it succeeds; an exception
        counts as a failure (a warmup failure is also reported by name) and
        is not re-raised, so the loop carries on."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if span:
                with self.tracer.span(span) as sp:
                    yield sp
            else:
                yield None
        except Exception as exc:  # a failed operation is a result, not a crash
            self.failed += 1
            msg = f"{type(exc).__name__}: {exc}"[:400]
            name = label or kind
            if warmup:
                self.warmup_failed[name] = msg
            self.failures.setdefault(name, msg)
            traceback.print_exc()
        else:
            if not warmup:
                self.samples.setdefault(kind, []).append(time.perf_counter() - t0)

    def check(self, label: str, problem: str | None) -> None:
        """Record one correctness check; a mismatch counts as failed."""
        self.attempted += 1
        if problem:
            self.failed += 1
            self.failures[label] = problem[:600]

    def attribute(self, *spans) -> None:
        """Traced runs: hand the Spark jobs of just-finished timed-loop spans
        to their spans (untimed), and keep the spans for the loop totals."""
        spans = [s for s in spans if s is not None]
        if spans:
            self.tracer.attribute(self.spark.sparkContext, spans)
            self.loop_spans += spans

    def setup(self, one_setup) -> object:
        """Run ``one_setup(rep)`` SETUP_REPS times and keep the median wall as
        ``setup_s``; returns the last rep's state, which the loop uses."""
        walls, state = [], None
        for rep in range(SETUP_REPS):
            if state is not None and hasattr(state, "close"):
                state.close()
            t0 = time.perf_counter()
            state = one_setup(rep)
            walls.append(time.perf_counter() - t0)
        self.values["setup_s"] = median(walls)
        self.samples["setup"] = walls
        noop(self.spark.range(1))  # first use of the noop sink, outside the loop
        return state

    def quiesce(self) -> None:
        """Call right before the timed loop. Collects garbage on both sides,
        so a collection owed to set-up or warmup is not paid inside the
        loop, and restarts the peak-RSS counters."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.session.reset_peak_rss()

    def end_loop(self) -> None:
        """Call right after the timed loop: the peak RSS of the loop, taken
        before the untimed checks, whose memory is not the program's."""
        self.values["peak_rss_mb"] = self.session.peak_rss_mb()


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``path``."""
    n = b = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            b += os.path.getsize(os.path.join(d, f))
    return n, b


def data_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def arrow_rows(table) -> list[tuple]:
    return list(zip(*(c.to_pylist() for c in table.columns)))


def final_state(dfs: list, path: str) -> tuple[int, list]:
    """Write the tables' final rows once as plain parquet, the storage
    baseline, one table per thread of a small pool; returns the bytes
    written and the rows read back, for the check."""
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(lambda i: dfs[i].write.parquet(os.path.join(path, str(i))),
                      range(len(dfs))))
    return dir_bytes(path)[1], arrow_rows(pq.read_table(path))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- ingest_cow ------------------------------------------------------------

def ingest_cow(run: Run) -> None:
    from hudi_spark_utilities_plus_spark.lake import HudiTable
    from hudi_spark_utilities_plus_spark.operators.transform import TRANSFORMER_SQL_KEY
    from hudi_spark_utilities_plus_spark.pipelines import importer

    t = run.tracer
    t.wrap(importer, "read_source", "sources.read")
    t.wrap(importer, "flatten", "operators.flatten")
    t.wrap(importer, "maybe_transform", "operators.transform")
    t.wrap(HudiTable, "upsert", "lake.upsert")

    g = gen.IngestGen(run.seed, INGEST_GENESIS_DOCS, INGEST_BATCH_DOCS)
    genesis = g.genesis()

    def do_import(props, path, op="upsert"):
        # run_import prints the source schema; keep stdout for the result
        with contextlib.redirect_stdout(io.StringIO()):
            importer.run_import(
                run.spark, "json", {"path": path, "schema": gen.INGEST_SCHEMA},
                {**props, "hoodie.datasource.write.operation": op},
            )

    def one_setup(rep):
        run.start_session()
        base = os.path.join(run.work, f"ingest{rep}")
        os.makedirs(os.path.join(base, "in"))
        props = {
            "path": os.path.join(base, "table"),
            "hoodie.datasource.write.recordkey.field": "rk",
            "hoodie.datasource.write.precombine.field": "ts",
            "hoodie.datasource.write.partitionpath.field": "region",
            "hoodie.table.type": "COPY_ON_WRITE",
            TRANSFORMER_SQL_KEY: gen.INGEST_SQL,
        }
        files = [os.path.join(base, "in", "genesis.json"),
                 os.path.join(base, "in", "batch000000.json")]
        gen.write_bytes(files[0], genesis)
        gen.write_bytes(files[1], g.batch(0))
        with run.op("import", label=f"genesis import (setup {rep})", warmup=True):
            do_import(props, files[0], op="bulk_insert")
        with run.op("import", label=f"warmup import (setup {rep})", warmup=True):
            do_import(props, files[1])
        return base, props, files

    base, props, files = run.setup(one_setup)
    table = HudiTable.from_props(props)

    def stage(i):
        path = os.path.join(base, "in", f"batch{i:06d}.json")
        gen.write_bytes(path, g.batch(i))
        return path

    for i in range(1, 1 + INGEST_WARM_IMPORTS):
        path = stage(i)
        with run.op("import", label=f"warmup import {i}", warmup=True):
            do_import(props, path)
            files.append(path)

    run.quiesce()
    i, rows = 1 + INGEST_WARM_IMPORTS, 0
    loop0 = time.perf_counter()
    while time.perf_counter() - loop0 < run.seconds:
        path = stage(i)
        before = data_files(props["path"]) if t.enabled else {}
        with run.op("import", span="pipelines.import", label=f"import {i}") as sp:
            do_import(props, path)
            files.append(path)
            rows += INGEST_BATCH_DOCS
        if t.enabled:
            after = data_files(props["path"])
            new = [p for p in after if p not in before]
            run.samples.setdefault("files_per_commit", []).append(len(new))
            run.samples.setdefault("bytes_per_commit", []).append(sum(after[p] for p in new))
            run.attribute(sp)
        i += 1
    run.end_loop()
    run.values["rows"] = rows

    spark = run.spark
    plain, actual = final_state(
        [table.read(spark).select(*oracle.INGEST_COLUMNS)], os.path.join(base, "plain"))
    run.values["storage_amp"] = dir_bytes(props["path"])[1] / plain
    run.check("ingest final table vs DuckDB fold",
              oracle.diff_rows(actual, oracle.ingest_expected(files)))


# -- cdc_mor ---------------------------------------------------------------

class _Stream:
    def __init__(self, query) -> None:
        self.query = query
        self.last_batch = -1

    def close(self) -> None:
        self.query.stop()

    def new_progress(self) -> list:
        """Progress records of data batches finished since the last call."""
        out = [p for p in self.query.recentProgress
               if p["batchId"] > self.last_batch and p["numInputRows"] > 0]
        if out:
            self.last_batch = max(p["batchId"] for p in out)
        return out


def cdc_mor(run: Run) -> None:
    from pyspark.sql import functions as F

    from hudi_spark_utilities_plus_spark.lake import HudiTable
    from hudi_spark_utilities_plus_spark.streaming.cdc import read_cdc_stream
    from hudi_spark_utilities_plus_spark.streaming.demux import (
        PATH_TEMPLATE_KEY, resolve_table_config, start_binlog_streamer)

    t = run.tracer
    t.wrap(HudiTable, "upsert", "lake.upsert")
    tables = gen.cdc_table_names(CDC_TABLES)
    db = gen.CDC_DB
    state = {}

    def one_setup(rep):
        run.start_session()
        base = os.path.join(run.work, f"cdc{rep}")
        src = os.path.join(base, "binlog")
        os.makedirs(src)
        props = {PATH_TEMPLATE_KEY: os.path.join(base, "lake", "{db}", "{table}")}
        for tb in tables:
            props[f"{db}.{tb}.hoodie.table.type"] = "MERGE_ON_READ"
            props[f"{db}.{tb}.hoodie.commit.mode"] = "manifest"
        g = gen.CdcGen(run.seed, CDC_TABLES, CDC_GENESIS_ROWS, CDC_EVENTS)
        batches = []
        query = start_binlog_streamer(
            run.spark, read_cdc_stream(run.spark, src), props,
            os.path.join(base, "ckpt"), trigger_seconds=0)
        stream = _Stream(query)
        # the genesis load is the session's first micro-batch: it warms the
        # demux path for every table
        name, data, events = g.genesis_file()
        with run.op("batch", label=f"genesis load (setup {rep})", warmup=True):
            gen.write_bytes(os.path.join(src, name), data)
            query.processAllAvailable()
        batches.append(events)
        stream.new_progress()
        state.update(base=base, src=src, props=props, gen=g, batches=batches)
        return stream

    stream = run.setup(one_setup)
    spark = run.spark
    props, src, g, batches = state["props"], state["src"], state["gen"], state["batches"]
    client = {tb: resolve_table_config(props, db, tb) for tb in tables}
    hot = client[tables[0]]
    cold_pick = gen.rng(run.seed, 9)
    cursor = hot.latest_commit_seq(spark)
    # batches folded into the hot table's base by each compaction
    compacted_at: list[int] = []

    run.quiesce()
    n, rows = 0, 0
    loop0 = time.perf_counter()
    # at least CDC_COMPACT_EVERY batches, so that every run compacts once
    while n < CDC_COMPACT_EVERY or time.perf_counter() - loop0 < run.seconds:
        name, data, events = g.next_file()
        with run.op("batch", span="streaming.batch", label=f"batch {name}") as sp:
            gen.write_bytes(os.path.join(src, name), data)
            stream.query.processAllAvailable()
            batches.append(events)
            rows += len(events)
        if t.enabled:
            run.attribute(sp)
            for p in stream.new_progress():
                d = p["durationMs"]
                run.samples.setdefault("add_batch_ms", []).append(d.get("addBatch", 0))
                run.samples.setdefault("planning_ms", []).append(d.get("queryPlanning", 0))
                run.samples.setdefault("wal_commit_ms", []).append(d.get("walCommit", 0))
                run.samples.setdefault("input_rows", []).append(p["numInputRows"])
            run.samples.setdefault("tables_per_batch", []).append(
                len({e["table"] for e in events}))
        cold = client[tables[int(cold_pick.integers(CDC_TABLES // 2, CDC_TABLES))]]
        for tb in (hot, cold):
            if t.enabled:  # the delta log is the sibling dir <path>__hudi_log
                run.samples.setdefault("log_files_at_read", []).append(
                    dir_bytes(tb.path + "__hudi_log")[0])
            with run.op("read", span="lake.read", label="snapshot read") as sp:
                noop(tb.read(spark))
            run.attribute(sp)
        with run.op("incr_read", span="lake.read_incremental", label="incremental read") as sp:
            noop(hot.read_incremental(spark, cursor))
        run.attribute(sp)
        cursor = hot.latest_commit_seq(spark)
        n += 1
        if n % CDC_COMPACT_EVERY == 0:
            with run.op("compact", span="lake.compact", label="compact") as sc:
                hot.compact(spark)
                compacted_at.append(len(batches))
            with run.op("clean", span="lake.clean", label="clean") as sl:
                hot.clean(keep_last=1)
            run.attribute(sc, sl)
    run.end_loop()
    run.values["rows"] = rows

    stream.close()
    final = [client[tb].read(spark).select(
        F.lit(tb).alias("table"), "id", "data", F.unix_micros("ts").alias("ts_us"),
        "binlog_file", "binlog_offset") for tb in tables]
    plain, actual = final_state(final, os.path.join(state["base"], "plain"))
    run.values["storage_amp"] = dir_bytes(os.path.join(state["base"], "lake"))[1] / plain
    run.check("cdc final tables vs DuckDB fold",
              oracle.diff_rows(actual, oracle.cdc_expected(batches, {tables[0]: compacted_at})))


WORKLOADS = {"ingest_cow": ingest_cow, "cdc_mor": cdc_mor}
