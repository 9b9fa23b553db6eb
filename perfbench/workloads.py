"""The benchmark's three workloads, their output checks and their metrics.

Every workload is a closed loop with one client: the next operation
starts only after the previous one returned. Set-up (session start, input
generation or warehouse seeding, warm-up) is timed as ``setup_s``; the
output checks, ``gc.collect()`` and the trace bookkeeping run between
operations, outside every timed region.
"""

from __future__ import annotations

import datetime as dt
import gc
import itertools
import os
import random
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from decimal import Decimal

import pandas as pd

from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as entry
from designing_data_warehouse_in_sql_server_spark.operators.incremental import (
    full_sum_count,
    refresh_incremental_agg,
)
from designing_data_warehouse_in_sql_server_spark.plans import pipeline
from designing_data_warehouse_in_sql_server_spark.schemas import DIM_CITY
from designing_data_warehouse_in_sql_server_spark.session import get_spark
from designing_data_warehouse_in_sql_server_spark.sources.http_api import extract_incremental
from tests.oracle_diff import compare

import datagen
import storage
import weather
from tracing import STORE_METHODS, SparkJobProbe, TracedFetcher, TracedTableStore, Tracer

STAR_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "flagship_revenue", "dedup_row_number", "impute_group_mean", "zscore_cap",
    "merge_upsert_full_outer", "window_running_sum", "sessionize_events",
    "cube_aggregate", "topk_per_group", "yoy_growth", "cohort_retention",
    "scd2_dimension", "surrogate_key_join",
)
CORPUS_QUERIES = (
    "dedup_exact_hash", "dedup_minhash_lsh", "dedup_connected_components",
    "dedup_simhash", "corpus_curation_funnel", "decontaminate_bloom",
    "similarity_topk_cosine", "similarity_ivf_topk", "bm25_search", "tfidf_top_terms",
)
MART = "mart_city_temp"
ONBOARD_NIGHT = 1


@dataclass(frozen=True)
class Size:
    sf: float
    cities: int
    years: int


FULL = Size(sf=0.01, cities=20, years=5)
TINY = Size(sf=0.001, cities=3, years=1)

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
    "ok_frac": "ratio", "bytes_written_per_row": "B/row", "space_amp": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "jvm.peak_rss_mb": "MB",
    "plans.pipeline.extract_s": "s",
    "plans.pipeline.transform_load_s": "s",
    "operators.incremental.refresh_s": "s",
    "sources.http_api.fetch_s": "s",
    "sources.http_api.fetch_calls": "count",
    "sources.http_api.fetch_failures": "count",
    **{f"sources.table_store.{m}_s": "s" for m in STORE_METHODS},
    **{f"sources.table_store.{m}_calls": "count" for m in STORE_METHODS},
    "sources.table_store.commits": "count",
    "sources.table_store.files_written": "count",
    "sources.table_store.files_linked": "count",
    "sources.table_store.bytes_written": "B",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B", "spark.input_bytes": "B",
    "spark.executor_run_s": "s", "spark.cpu_busy_frac": "ratio",
    "plans.build_s": "s", "plans.exec_s": "s",
    **{f"plans.{q}.s": "s" for q in STAR_QUERIES},
    "tracing.overhead_s": "s",
    "tracing.unattributed_s": "s",
}


def layer_units(workload: str) -> dict[str, str]:
    """The per-layer metrics a traced run of ``workload`` prints: every
    declared one, plus the corpus queries' times on ``corpus_dedup``."""
    if workload != "corpus_dedup":
        return PER_LAYER
    return {**PER_LAYER, **{f"plans.{q}.s": "s" for q in CORPUS_QUERIES}}


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    spark: dict
    layers: dict = field(default_factory=dict)


class Bench:
    """One benchmark invocation: the session, the tracer and the results."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 size: Size, fault: str | None, run_dir: str, t0: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.size, self.fault, self.run_dir = trace, size, fault, run_dir
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = Tracer(False)
        self.problems: list[str] = []
        self.notes: dict[str, object] = {}
        self._op_id = 0
        self._t0, self._untimed_s = t0, 0.0
        t = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.nproc)
        self.session_start_s = time.perf_counter() - t
        self.probe = SparkJobProbe(self.spark)

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self._t0 - self._untimed_s

    @contextmanager
    def untimed(self):
        """Wall time spent inside is left out of ``setup_s`` (output checks)."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self._untimed_s += time.perf_counter() - t

    def fail(self, what: str) -> None:
        self.problems.append(what)
        print(f"CHECK FAILED: {what}", file=sys.stderr)

    def run_op(self, name: str, fn) -> Op:
        """Run one operation, timed and in its own Spark job group. An
        operation that raises fails, and so makes the run incorrect."""
        gc.collect()
        self._op_id += 1
        group = f"op-{self._op_id}"
        self.probe.begin(group)
        if self.tracer.enabled:
            self.tracer.op_id = self._op_id
        error = None
        t = time.perf_counter()
        try:
            with self.tracer.span("op"):
                fn()
        except Exception as exc:
            error = exc
        seconds = time.perf_counter() - t
        if error is not None:
            traceback.print_exception(error)
            self.fail(f"{name} raised {type(error).__name__}: {error}")
        op = Op(name, seconds, error is None, self.probe.end(group))
        op.spark["cpu_busy_frac"] = op.spark["executor_run_s"] / (seconds * self.nproc)
        if self.tracer.enabled:
            self.tracer.op_id = None
            op.layers = dict(self.tracer.op_layers(self._op_id))
            op.layers.update(self.tracer.counts.get(self._op_id, {}))
            op.layers.update({f"spark.{k}": v for k, v in op.spark.items()})
        return op

    def loop(self, make_pass) -> list[Op]:
        """Whole passes, at least two, until ``seconds`` of operation time
        are measured: every query weighs the same in the statistics, and a
        slow stretch of the host cannot cut a run to one pass.
        ``make_pass(i)`` returns the (name, fn, after) triples of pass i;
        ``after(op)`` runs untimed, after the operation."""
        ops: list[Op] = []
        i = 0
        while i < 2 or sum(o.seconds for o in ops) < self.seconds:
            for name, fn, after in make_pass(i):
                op = self.run_op(name, fn)
                with self.tracer.paused():
                    after(op)
                ops.append(op)
            i += 1
        return ops

    def timed(self, make_pass) -> list[Op]:
        """The measured loop; with tracing, an untraced loop first, then a
        traced one, so the difference is the tracing overhead."""
        ops = self.loop(make_pass)
        if not self.trace:
            return ops
        self.untraced_ops = ops
        self.tracer.enabled = True
        return self.loop(make_pass)

    def stop(self) -> None:
        sc = self.spark.sparkContext
        proc = sc._gateway.proc
        self.spark.stop()
        sc._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=60)

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in /proc status")


class _Collected:
    """A collected result in the shape ``oracle_diff.compare`` consumes."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


# --------------------------------------------------------------------------
# star_olap and corpus_dedup: registry queries over generated parquet
# --------------------------------------------------------------------------
def run_queries(bench: Bench, names: tuple[str, ...]) -> tuple[list[Op], dict]:
    sf_dir = os.path.join(bench.run_dir, "data")
    datagen.write_star_schema(sf_dir, bench.size.sf, bench.seed)
    queries, oracles = entry.queries(), entry.oracle_sql()
    if bench.fault == "raise":
        def broken(spark, sf_dir):
            raise RuntimeError("injected fault")
        queries = {**queries, names[0]: broken}
    spark = bench.spark
    bad: set[str] = set()
    # cold pass: each query collected once; its result is the one the
    # DuckDB oracle diff checks (the timed passes run the same plan on the
    # same inputs, forced with a noop write)
    for i, name in enumerate(names):
        try:
            pdf = queries[name](spark, sf_dir).toPandas()
        except Exception as exc:
            traceback.print_exc()
            bad.add(name)
            bench.fail(f"{name} raised {type(exc).__name__}: {exc}")
            continue
        with bench.untimed():
            if bench.fault == "drop-row" and i == 0:
                pdf = pdf.iloc[:-1]
            problems = (compare(_Collected(pdf), oracles[name], sf_dir) if name in oracles
                        else ["no DuckDB oracle registered"])
            if problems:
                bad.add(name)
                bench.fail(f"{name}: {problems[0][:300]}")
            del pdf
            gc.collect()

    def make_pass(i: int):
        order = list(names)
        random.Random(bench.seed * 1000 + i).shuffle(order)
        for name in order:
            def fn(name=name):
                with bench.tracer.span("plans.build"):
                    df = queries[name](spark, sf_dir)
                with bench.tracer.span("plans.exec"):
                    df.write.format("noop").mode("overwrite").save()

            def after(op, name=name):
                op.ok = op.ok and name not in bad

            yield name, fn, after

    # a second, untimed pass in the timed form: after the cold pass the
    # JIT is still compiling, and the first noop pass ran 4-19% slower
    # than the one after it
    for name, fn, _after in make_pass(-1):
        bench.run_op(name, fn)
    bench.setup_done()

    ops = bench.timed(make_pass)
    # a read-only workload: the bytes it writes are its shuffle files, per
    # input row the queries scan; it keeps no table versions, so its space
    # amplification is 1 by construction
    storage_metrics = {
        "bytes_written_per_row": sum(o.spark["shuffle_write_bytes"] for o in ops)
        / sum(o.spark["input_records"] for o in ops),
        "space_amp": 1.0,
    }
    return ops, storage_metrics


# --------------------------------------------------------------------------
# nightly_etl: the paper's extract -> transform_load -> mart refresh
# --------------------------------------------------------------------------
def _seed_warehouse(bench: Bench, store) -> int:
    spark = bench.spark
    dim, hist = weather.seed_frames(bench.seed, bench.size.cities, bench.size.years)
    valid_from, open_end = dt.datetime(2020, 1, 1), dt.datetime(9999, 12, 31)
    dim_df = spark.createDataFrame(
        [(cid, name, country, Decimal(f"{lat:.6f}"), Decimal(f"{lon:.6f}"), tz,
          valid_from, open_end, True) for cid, name, country, lat, lon, tz in dim],
        DIM_CITY,
    )
    h = spark.createDataFrame(pd.DataFrame(
        hist, columns=["city_id", "city_name", "date", "temp_max", "temp_min", "precipitation"]))
    seeded_ts = F.lit(f"{weather.HISTORY_END} 03:00:00").cast("timestamp_ntz")
    measures = [F.col(c).cast("decimal(5,2)").alias(c)
                for c in ("temp_max", "temp_min", "precipitation")]
    fact = h.select(
        F.row_number().over(Window.orderBy("city_id", "date")).cast("long").alias("weather_id"),
        F.col("city_id").cast("long").alias("city_id"), F.col("date").cast("date").alias("date"),
        *measures, seeded_ts.alias("load_timestamp"))
    stg = h.select("city_name", F.col("date").cast("date").alias("date"), *measures,
                   F.lit(True).alias("is_processed"), seeded_ts.alias("load_timestamp"))
    store.overwrite(pipeline.DIM, dim_df)
    store.overwrite(pipeline.FACT, fact)
    store.overwrite(pipeline.STG, stg)
    store.enable_cdc(pipeline.FACT)
    return len(hist)


def run_nightly(bench: Bench) -> tuple[list[Op], dict]:
    spark = bench.spark
    root = os.path.join(bench.run_dir, "warehouse")
    store = TracedTableStore(spark, root, bench.tracer)
    feed = weather.WeatherFeed(bench.seed, bench.size.cities)
    fetcher = TracedFetcher(feed, bench.tracer)
    seeded_rows = _seed_warehouse(bench, store)
    state = {"mart_v": refresh_incremental_agg(store, pipeline.FACT, MART, ["city_id"], "temp_max", 0)}
    night_no = itertools.count()

    def new_keys() -> int:
        return sum(1 for c, d in feed.keys
                   if c == weather.UNSEEN_CITY or d > weather.HISTORY_END.isoformat())

    def night_op(night: int):
        today, load_ts = weather.night_dates(night)
        feed.night_keys = set()

        def fn():
            with bench.tracer.span("plans.pipeline.extract"):
                pipeline.extract(spark, store, fetcher, today, load_ts)
            if night == ONBOARD_NIGHT:
                start = weather.onboard_start(today)
                with bench.tracer.span("sources.http_api.extract_incremental"):
                    rows = extract_incremental(
                        spark, fetcher, [(weather.UNSEEN_CITY, start, today)], load_ts)
                    store.append(pipeline.STG, rows)
            with bench.tracer.span("plans.pipeline.transform_load"):
                pipeline.transform_load(spark, store, load_ts)
            with bench.tracer.span("operators.incremental.refresh"):
                state["mart_v"] = refresh_incremental_agg(
                    store, pipeline.FACT, MART, ["city_id"], "temp_max", state["mart_v"])

        before = storage.snapshot(root)

        def after(op: Op):
            if op.ok and not _check_night(bench, store, load_ts, seeded_rows + new_keys()):
                op.ok = False
            delta = storage.delta(before, storage.snapshot(root))
            delta["rows_loaded"] = len(feed.night_keys)
            bench.notes.setdefault("nights", []).append(delta)
            if op.layers:  # traced
                op.layers.update({f"sources.table_store.{k}": v for k, v in delta.items()
                                  if k != "rows_loaded"})

        return f"night{night}", fn, after

    for _ in range(2):  # night 0 (cold) and the onboarding night
        name, fn, after = night_op(next(night_no))
        op = bench.run_op(name, fn)
        with bench.untimed():
            after(op)
        bench.notes.setdefault("warmup_op_seconds", []).append(round(op.seconds, 3))
    bench.setup_done()
    warm_nights = len(bench.notes["nights"])

    ops = bench.timed(lambda i: [night_op(next(night_no))])
    if not _check_mart(bench, store):
        ops[-1].ok = False
    nights = bench.notes["nights"][warm_nights:][-len(ops):]
    files = storage.scan(root)
    storage_metrics = {
        "bytes_written_per_row": sum(n["bytes_written"] for n in nights)
        / sum(n["rows_loaded"] for n in nights),
        "space_amp": storage.distinct_bytes(files) / storage.latest_bytes(root, files),
    }
    return ops, storage_metrics


def _check_night(bench: Bench, store, load_ts: str, expected_rows: int) -> bool:
    fact = store.read(pipeline.FACT)
    n, n_keys = fact.agg(F.count(F.lit(1)), F.countDistinct("city_id", "date")).first()
    ok = True
    if n != n_keys:
        ok = False
        bench.fail(f"{load_ts}: {n - n_keys} duplicate (city_id, date) keys in the fact table")
    if n != expected_rows:
        ok = False
        bench.fail(f"{load_ts}: fact has {n} rows, expected {expected_rows}")
    stg = store.read(pipeline.STG)
    # a loaded temperature may stay NULL only where its (city, month)
    # staging group has no non-NULL value to impute from
    groups = stg.groupBy("city_name", F.month("date").alias("m")).agg(
        F.count("temp_max").alias("nn_max"), F.count("temp_min").alias("nn_min"))
    dim = store.read(pipeline.DIM).filter("is_current").select("city_id", "city_name")
    loaded = (fact.filter(F.col("load_timestamp") == F.lit(load_ts).cast("timestamp_ntz"))
              .join(dim, "city_id").withColumn("m", F.month("date")))
    n_null = (loaded.join(groups, ["city_name", "m"], "left")
              .filter((F.col("temp_max").isNull() & (F.coalesce("nn_max", F.lit(0)) > 0))
                      | (F.col("temp_min").isNull() & (F.coalesce("nn_min", F.lit(0)) > 0)))
              .count())
    if n_null:
        ok = False
        bench.fail(f"{load_ts}: {n_null} loaded rows kept an imputable NULL temperature")
    n_unprocessed = stg.filter(~F.col("is_processed")).count()
    if n_unprocessed:
        ok = False
        bench.fail(f"{load_ts}: {n_unprocessed} staging rows not flagged processed")
    return ok


def _check_mart(bench: Bench, store) -> bool:
    want = {r.city_id: (r.sum_cents, r.n_rows) for r in full_sum_count(
        store.read(pipeline.FACT), ["city_id"], "temp_max").collect()}
    rows = store.read(MART).filter("n_rows > 0").collect()
    if bench.fault == "drop-row":
        rows = rows[:-1]
    got = {r.city_id: (r.sum_cents, r.n_rows) for r in rows}
    if got != want:
        bad = sorted(k for k in want.keys() | got.keys() if want.get(k) != got.get(k))
        bench.fail(f"mart differs from full_sum_count for city_id {bad[:5]}")
        return False
    return True


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------
def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least 10
    samples beyond it; below 30 samples that percentile would sit at or
    under the median, so the maximum is reported as p100."""
    xs = sorted(values)
    if len(xs) < 30:
        return xs[-1], 100.0
    k = len(xs) - 10
    return xs[k - 1], 100.0 * k / len(xs)


def end_to_end(bench: Bench, ops: list[Op], storage_metrics: dict) -> dict:
    secs = [o.seconds for o in ops]
    failed = sum(not o.ok for o in ops)
    tail_s, pct = tail(secs)
    bench.notes.update({"op_tail_pct": pct, "n_ops": len(ops), "failed_frac": failed / len(ops),
                        "op_seconds": [round(s, 3) for s in secs]})
    return {
        "setup_s": bench.setup_s,
        "op_p50_s": statistics.median(secs),
        "op_tail_s": tail_s,
        "ops_per_s": len(ops) / sum(secs),
        "ok_frac": 1.0 - failed / len(ops),
        **storage_metrics,
    }


def per_layer(bench: Bench, ops: list[Op]) -> dict:
    """Median per traced operation of every layer metric: a span's summed
    self time (``<span name>_s``), a count, or a Spark figure."""
    units = layer_units(bench.workload)
    out = {key: statistics.median(o.layers.get(key.removesuffix("_s"), o.layers.get(key, 0.0))
                                  for o in ops)
           for key in units}
    out["session.start_s"] = bench.session_start_s
    out["jvm.peak_rss_mb"] = bench.jvm_peak_rss_mb()
    for key in units:
        if key.startswith("plans.") and key.endswith(".s"):
            secs = [o.seconds for o in ops if o.name == key[len("plans."):-len(".s")]]
            out[key] = statistics.median(secs) if secs else 0.0
    out["tracing.unattributed_s"] = statistics.median(o.layers.get("op", 0.0) for o in ops)
    out["tracing.overhead_s"] = (statistics.median(o.seconds for o in ops)
                                 - statistics.median(o.seconds for o in bench.untraced_ops))
    return out


def run(bench: Bench) -> tuple[dict, dict]:
    """Run ``bench.workload``; returns (end-to-end, per-layer) metrics."""
    if bench.workload == "nightly_etl":
        ops, storage_metrics = run_nightly(bench)
    elif bench.workload == "star_olap":
        ops, storage_metrics = run_queries(bench, STAR_QUERIES)
    elif bench.workload == "corpus_dedup":
        ops, storage_metrics = run_queries(bench, CORPUS_QUERIES)
    else:
        raise ValueError(f"unknown workload {bench.workload!r}")
    e2e = end_to_end(bench, ops if not bench.trace else bench.untraced_ops, storage_metrics)
    layers = per_layer(bench, ops) if bench.trace else {}
    bench.attempted = len(ops)
    bench.failed = sum(not o.ok for o in ops)
    return e2e, layers
