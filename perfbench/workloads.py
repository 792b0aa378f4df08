"""The benchmark's workloads. Each drives the program only through its public
entry points: ``session.get_spark``, the ``plans.pipelines`` functions and
the ``queries()`` registry (plus, in the traced run, the public functions of
the modules those call).

Every workload is one closed-loop client on ``local[nproc]``:

- ``etl_backfill``: one operation per run, the three pipelines over a
  239 k-tick feed into an empty warehouse (scan, JSON parse, the
  second-level dedup shuffle, candle aggregation, pandas-UDF indicators,
  parquet writes), first thing in a fresh session, as a one-shot backfill
  job runs. On 4 cores most of it is the JVM's first-query JIT and codegen
  and the pipelines' per-job cost; the bulk path is a small share.
- ``etl_incremental``: set-up backfills a history of 100 slices; an operation
  lands the next slice and runs the three pipelines. Per-job overhead,
  whole-table re-reads, anti-joins and small appends dominate; bulk scan and
  parse cost barely show. One run takes 60-80 s on 4 cores, so it is run by
  name and is not one of ``BENCHMARK.json``'s workloads.
- ``analyst_queries``: read-only trading registry queries on one feed in one
  warm session (session caches, candles, windows, top-1 and quantiles). An
  operation is one pass over the whole mix in a seeded order. Nothing is written, so ETL
  write-path changes should not move it.
- ``corpus_dedup``: one operation per run, a dedup pass over a corpus the
  session has not seen, so the program's caches are built inside the
  operation. Timed cold, like a one-shot corpus build.

Which per-layer metric should move which end-to-end metric:

- ``session.start_s`` -> ``setup_s`` on every workload.
- ``pipelines.*`` -> ``op_p50_s`` on ``etl_incremental`` (most through the
  indicator pipeline) and on ``etl_backfill``.
- ``sources.ticks.*``, ``operators.ohlc.*`` -> ``op_p50_s`` and
  ``input_rows_per_s`` on ``etl_backfill``; barely on ``etl_incremental``.
- ``operators.indicators.*``, ``operators.signals.*`` -> ``op_p50_s`` on both
  ETL workloads.
- ``io.*`` -> ``op_p50_s`` on ``etl_incremental``; nothing on
  ``analyst_queries``.
- ``queries.trading.*`` -> ``op_p50_s`` and ``ops_per_s`` on
  ``analyst_queries``; ``cache_fill_s`` -> ``setup_s`` there.
- ``queries.datapipe.*`` -> ``op_p50_s`` on ``corpus_dedup`` only.
- ``op.*`` / ``setup.*`` Spark task metrics -> whatever their span sits
  under; ``gc_s`` and ``spill_bytes`` -> ``peak_rss_mb``.
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
from measure import (
    SPARK_METRICS, GroupMetrics, RssSampler, Tracer, percentile, read_event_log, tail_percentile,
)

OHLC_PARTS = ["timeframe_code", "currency_pair_code"]
# Candles, a native-window indicator and tick-level top-1 and quantile
# queries, all on the session's cached tick/candle chain. The cold first pass
# over the mix is set-up and costs 2-4 s per key on top of the chain build,
# which is what bounds the mix. event_reaction_window stays out: its
# 6-decimal avg_bid rounds differently from its DuckDB twin on some feeds of
# 3-decimal prices. tick_zscore_outliers stays out: its one-task sliding
# frame took two thirds of a pass, and its time differed by up to half
# between JVMs on the same seed while agreeing within each.
TRADING_KEYS = (
    "ohlc_1m", "ohlc_derived_multi_tf", "sma_14_1h", "latest_tick_per_pair",
    "spread_quantiles",
)
DEDUP_KEYS = (
    "dedup_exact", "dedup_minhash_lsh", "dedup_cc_two_phase",
    "dedup_incremental_minhash", "embedding_near_dup_lsh",
)
END_TO_END_UNITS = {
    "setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s", "input_rows_per_s": "rows/s",
}
ETL_LAYERS = {
    "pipelines.ohlc_pipeline.s": "s",
    "pipelines.indicator_pipeline.s": "s",
    "pipelines.strategy_pipeline.s": "s",
    "pipelines.spark_jobs": "count",
    "sources.ticks.s": "s",
    "sources.ticks.rows_in": "rows",
    "sources.ticks.rows_out": "rows",
    "sources.ticks.rejected": "rows",
    "operators.ohlc.s": "s",
    "operators.ohlc.rows_out": "rows",
    "operators.indicators.s": "s",
    "operators.indicators.python_s": "s",
    "operators.indicators.rows_out": "rows",
    "operators.signals.s": "s",
    "operators.signals.rows_out": "rows",
    "io.first_wins_append.s": "s",
    "io.written_ratio": "ratio",
    "io.files_written": "count",
    "io.table_files": "count",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit. A
    workload that never enters a layer reports 0 for it."""
    # peak memory varies 1.7-3.0 GB between runs of corpus_dedup (how much
    # of the fixed heap G1 touches), too much for an end-to-end bound
    units = {"session.start_s": "s", "memory.peak_rss_mb": "MB"} | ETL_LAYERS
    units |= {f"queries.trading.{k}.s": "s" for k in TRADING_KEYS}
    units["queries.trading.cache_fill_s"] = "s"
    for k in DEDUP_KEYS:
        units[f"queries.datapipe.{k}.s"] = "s"
        units[f"queries.datapipe.{k}.spark_jobs"] = "count"
    for top in ("setup", "op"):
        for m in SPARK_METRICS:
            units[f"{top}.{m}"] = "count" if m in ("jobs", "tasks") else (
                "bytes" if m.endswith("_bytes") else "s")
    units |= {"trace.op_p50_s": "s", "trace.warm_op_s": "s", "trace.coverage": "ratio",
              "trace.bench_self_s": "s"}
    return units


@dataclass
class Result:
    line: dict
    summary: dict
    record: dict = field(default_factory=dict)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it and its Python
    workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
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
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while RssSampler.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def _duck(views: dict[str, list[str]]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for name, files in views.items():
        lst = ", ".join(f"'{f}'" for f in files)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{lst}])")
    return con


def _canon(cols, rows):
    from tools.check import canon_rows

    return canon_rows(list(cols), [tuple(r) for r in rows])


def _oracle(con, key: str):
    res = con.execute(_oracle_sql()[key])
    return [d[0] for d in res.description], res.fetchall()


@functools.cache
def _oracle_sql() -> dict[str, str]:
    """The registry's DuckDB twins, built once per process."""
    import __spark_entry__ as entry

    return entry.oracle_sql()


def _same(cols, rows, ocols, orows) -> bool:
    return sorted(cols) == sorted(ocols) and _canon(cols, rows) == _canon(ocols, orows)


def _parquet_rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def _table_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


class Workload:
    name = ""
    max_ops = 10**9  # operations the generated inputs allow in one run

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.errors: list[str] = []

    # -- hooks ---------------------------------------------------------------
    def generate(self) -> None:
        """Write the seeded inputs (not timed)."""

    def setup(self, spark, tracer: Tracer) -> None:
        """The program's own set-up after session start (timed as set-up)."""

    def op(self, spark, i: int, tracer: Tracer) -> int:
        """One operation; returns the raw input rows it consumed."""
        raise NotImplementedError

    def wrong_ops(self, spark, n_ops: int) -> int:
        """Number of the ``n_ops`` operations whose output is wrong."""
        return 0

    def layers(self, spark, tracer: Tracer) -> dict[str, float]:
        """Extra traced work: per-module self times (traced run only)."""
        return {}

    def inputs_description(self) -> dict:
        return {}

    # -- run loop ------------------------------------------------------------
    def _log_error(self, what: str) -> None:
        self.errors.append(what)
        print(f"[perfbench] {self.name}: {what}", file=sys.stderr)

    def run(self, seconds: float, trace: bool) -> Result:
        t_gen = time.perf_counter()
        self.generate()
        tracer = Tracer()
        t0 = time.perf_counter()
        phases = {"generate_s": t0 - t_gen}
        spark = None
        try:
            with tracer.span("setup"):
                with tracer.span("session.start"):
                    from trading_etl_spark.session import get_spark

                    spark = get_spark("perfbench")
                if trace:
                    tracer.sc = spark.sparkContext
                self.setup(spark, tracer)
            setup_s = time.perf_counter() - t0
            lat: list[float] = []
            rows = failed = 0
            with RssSampler() as rss:
                start = time.perf_counter()
                i = 0
                while True:
                    t = time.perf_counter()
                    try:
                        with tracer.span("op", op=i):
                            rows += self.op(spark, i, tracer)
                    except Exception:
                        failed += 1
                        self._log_error(f"op {i} failed:\n{traceback.format_exc()}")
                    lat.append(time.perf_counter() - t)
                    i += 1
                    if i >= self.max_ops or time.perf_counter() - start >= seconds:
                        break
                wall = time.perf_counter() - start
            t = time.perf_counter()
            wrong = self.wrong_ops(spark, i)
            phases["check_s"] = time.perf_counter() - t
            t = time.perf_counter()
            extra = self.layers(spark, tracer) if trace else {}
            phases["layers_s"] = time.perf_counter() - t
        finally:
            t = time.perf_counter()
            if spark is not None:
                stop_spark(spark)
            phases["stop_s"] = time.perf_counter() - t

        n = len(lat)
        errors = min(n, failed + wrong)
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(lat),
            "ops_per_s": n / wall,
            "input_rows_per_s": rows / wall,
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        p_tail = tail_percentile(n)
        tail = {"percentile": p_tail, "value_s": p_tail and percentile(lat, p_tail)}
        summary = {
            "workload": self.name, "ops": n, "failed": failed, "wrong": wrong,
            "tail": tail, "errors": self.errors[:5],
            **{k: round(v, 2) for k, v in phases.items()},
            **{k: round(v, 4) for k, v in metrics.items()},
        }
        record = {"latencies_s": lat, "tail": tail, "metrics": metrics,
                  "phases_s": phases, "errors": self.errors}
        if trace:
            layer = self._per_layer(tracer, extra)
            layer["memory.peak_rss_mb"] = metrics["peak_rss_mb"]
            tracer.dump(os.path.join(os.path.dirname(self.work), "records",
                                     f"spans-{self.name}-{self.seed}.json"))
            record["per_layer"] = layer
            units = per_layer_units()
            out = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
        else:
            out = {k: {"value": float(metrics[k]), "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
        line = {"correct": errors == 0, "attempted": n, "failed": errors, "metrics": out}
        return Result(line=line, summary=summary, record=record)

    # -- traced-run aggregation ----------------------------------------------
    def _per_layer(self, tracer: Tracer, extra: dict[str, float]) -> dict[str, float]:
        groups = read_event_log(os.path.join(self.work, "events"))
        selfs = tracer.self_times()
        out: dict[str, float] = dict(extra)
        ops = [s for s in tracer.spans if s.name == "op"]
        n_ops = max(1, len(ops))
        top_metrics = {"setup": GroupMetrics(), "op": GroupMetrics()}
        for s in tracer.spans:
            g = groups.get(s.group)
            top = tracer.top(s).name
            if g is not None and top in top_metrics:
                top_metrics[top].add(g)
        for top, g in top_metrics.items():
            div = n_ops if top == "op" else 1
            for m in SPARK_METRICS:
                out[f"{top}.{m}"] = getattr(g, m) / div
        start = next(s for s in tracer.spans if s.name == "session.start")
        out["session.start_s"] = start.end - start.start
        op_walls = [s.end - s.start for s in ops]
        out["trace.op_p50_s"] = statistics.median(op_walls)
        out["trace.bench_self_s"] = sum(selfs[s.id] for s in ops) / n_ops
        # per-span-name mean duration and Spark jobs across operations
        by_name: dict[str, list] = {}
        for s in tracer.spans:
            if s.op is not None and s.name != "op":
                by_name.setdefault(s.name, []).append(s)
        for name, spans in by_name.items():
            if name.startswith(("pipelines.", "queries.")):
                out.setdefault(f"{name}.s", sum(x.end - x.start for x in spans) / len(spans))
                jobs = sum(groups.get(x.group, GroupMetrics()).jobs for x in spans)
                out.setdefault(f"{name}.spark_jobs", jobs / len(spans))
        out["pipelines.spark_jobs"] = sum(
            v for k, v in out.items() if k.startswith("pipelines.") and k.endswith(".spark_jobs")
        )
        # module self times from the decomposed operation (ETL workloads)
        decomp = [s for s in tracer.spans if tracer.top(s).name == "decomposed"]
        if decomp:
            for prefix, key in (
                ("sources.ticks", "sources.ticks.s"),
                ("operators.ohlc", "operators.ohlc.s"),
                ("operators.indicators", "operators.indicators.s"),
                ("operators.signals", "operators.signals.s"),
                ("io.first_wins_append", "io.first_wins_append.s"),
            ):
                out[key] = sum(selfs[s.id] for s in decomp if s.name == prefix)
            out["operators.indicators.python_s"] = sum(
                groups.get(s.group, GroupMetrics()).python_s
                for s in decomp if s.name == "operators.indicators"
            )
            top = next(s for s in tracer.spans if s.name == "decomposed")
            covered = sum(selfs[s.id] for s in decomp if s.id != top.id)
            warm = [s.end - s.start for s in tracer.spans if s.name == "op_warm"]
            out["trace.warm_op_s"] = warm[0] if warm else out["trace.op_p50_s"]
            out["trace.coverage"] = covered / out["trace.warm_op_s"]
        elif ops:
            covered = [
                sum(x.end - x.start for x in tracer.children(s)) / (s.end - s.start)
                for s in ops
            ]
            out["trace.coverage"] = statistics.median(covered)
        return {k: v for k, v in out.items() if k in per_layer_units()}


# --- ETL workloads ---------------------------------------------------------------


def run_pipelines(spark, tracer: Tracer, sf_dir: str, wh: str) -> dict[str, int]:
    from trading_etl_spark.plans import pipelines

    stats: dict[str, int] = {}
    with tracer.span("pipelines.ohlc_pipeline"):
        stats |= pipelines.ohlc_pipeline(spark, sf_dir, wh)
    with tracer.span("pipelines.indicator_pipeline"):
        stats |= pipelines.indicator_pipeline(spark, wh)
    with tracer.span("pipelines.strategy_pipeline"):
        stats |= pipelines.strategy_pipeline(spark, wh)
    return stats


def decomposed_pipelines(spark, tracer: Tracer, sf_dir: str, wh: str) -> dict[str, float]:
    """The three pipelines again, one module call at a time with each
    upstream output materialized, so every module's self time is its own
    work. Mirrors ``plans.pipelines``; runs on a scratch warehouse."""
    from trading_etl_spark.config import DEFAULT_INDICATOR_PERIODS
    from trading_etl_spark.io import first_wins_append
    from trading_etl_spark.operators import indicators, ohlc, signals
    from trading_etl_spark.plans import pipelines
    from trading_etl_spark.sources import dims, ticks

    out = {"offered": 0, "written": 0}
    files_before = _table_files(wh)

    def append(path, df, keys, **kw):
        out["offered"] += df.count()
        with tracer.span("io.first_wins_append"):
            out["written"] += first_wins_append(spark, path, df, keys, **kw)

    with tracer.span("decomposed"):
        with tracer.span("sources.ticks"):
            t = ticks.load_ticks(spark, sf_dir).localCheckpoint()
        with tracer.span("operators.ohlc"):
            base = ohlc.ohlc_base(t).localCheckpoint()
        append(f"{wh}/ohlc", base, pipelines.OHLC_KEYS, partition_by=OHLC_PARTS)
        written_1m = spark.read.parquet(f"{wh}/ohlc").filter("timeframe_code = '1m'")
        with tracer.span("operators.ohlc"):
            derived = ohlc.ohlc_derived(written_1m, dims.dim_timeframe(spark)).select(
                *ohlc.OHLC_COLS).localCheckpoint()
        append(f"{wh}/ohlc", derived, pipelines.OHLC_KEYS, partition_by=OHLC_PARTS)
        ohlc_rows = base.count() + derived.count()

        candles = spark.read.parquet(f"{wh}/ohlc")
        ind_rows = 0
        for name, fn in (("sma", indicators.sma), ("ema", indicators.ema),
                         ("rsi", indicators.rsi)):
            path = f"{wh}/fact_{name}"
            fact = spark.read.parquet(path) if os.path.exists(path) else None
            parts = []
            for p in DEFAULT_INDICATOR_PERIODS:
                with tracer.span("pipelines.cursor"):
                    cand = (pipelines._candles_after_cursor(candles, fact, p)
                            if fact is not None else candles).localCheckpoint()
                with tracer.span("operators.indicators"):
                    parts.append(fn(cand, p, "0").localCheckpoint())
            df = parts[0]
            for part in parts[1:]:
                df = df.unionByName(part)
            ind_rows += df.count()
            append(path, df, pipelines.IND_KEYS, partition_by=["timeframe_code"])

        fact_sma = spark.read.parquet(f"{wh}/fact_sma")
        with tracer.span("operators.signals"):
            events = signals.buysell_events(fact_sma, 14, 28).localCheckpoint()
        append(f"{wh}/fact_buysell_events", events, pipelines.EVENT_KEYS,
               prune_on="event_datetime")

    rows_in = _parquet_rows(f"{sf_dir}/events.parquet")
    return {
        "sources.ticks.rows_in": rows_in,
        "sources.ticks.rows_out": t.count(),
        "sources.ticks.rejected": rows_in - ticks.raw_ticks(spark, sf_dir).count(),
        "operators.ohlc.rows_out": ohlc_rows,
        "operators.indicators.rows_out": ind_rows,
        "operators.signals.rows_out": events.count(),
        "io.written_ratio": out["written"] / max(1, out["offered"]),
        "io.files_written": _table_files(wh) - files_before,
        "io.table_files": _table_files(wh),
    }


def _check_unique(con, wh: str) -> list[str]:
    from trading_etl_spark.plans import pipelines

    bad = []
    for table, keys in (("ohlc", pipelines.OHLC_KEYS),
                        ("fact_sma", pipelines.IND_KEYS),
                        ("fact_ema", pipelines.IND_KEYS),
                        ("fact_rsi", pipelines.IND_KEYS),
                        ("fact_buysell_events", pipelines.EVENT_KEYS)):
        src = _wh_rel(wh, table)
        k = ", ".join(keys)
        dup = con.execute(
            f"SELECT count(*) FROM (SELECT {k} FROM {src} GROUP BY {k} HAVING count(*) > 1)"
        ).fetchone()[0]
        if dup:
            bad.append(f"{table}: {dup} duplicated keys")
    return bad


def _wh_rel(wh: str, table: str) -> str:
    rel = f"read_parquet('{wh}/{table}/**/*.parquet', hive_partitioning = true)"
    if table == "ohlc":  # partition values are path-escaped ('USD%2FJPY')
        rel = (f"(SELECT * REPLACE (replace(currency_pair_code, '%2F', '/') "
               f"AS currency_pair_code) FROM {rel})")
    return rel


def check_warehouse_vs_oracles(con, wh: str, sma_timeframe: str | None) -> list[str]:
    """The warehouse against the DuckDB twins of the same semantics:
    ``ohlc_1m``, ``ohlc_derived_multi_tf`` (full recompute only),
    ``sma_14_1h``/``sma_fanout_all_tf`` and ``sma_golden_cross``. Indicator
    values are compared at the registry's 6-decimal rounding."""
    bad = []
    ohlc = _wh_rel(wh, "ohlc")
    cols = "currency_pair_code, timeframe_code, time, open, high, low, close"

    def cmp(key, sql, oracle_filter=None):
        res = con.execute(sql)
        c, r = [d[0] for d in res.description], res.fetchall()
        oc, orows = _oracle(con, key)
        if oracle_filter is not None:
            i = oc.index(oracle_filter[0])
            orows = [x for x in orows if x[i] == oracle_filter[1]]
        if not orows:
            bad.append(f"{key}: oracle has no rows")
        elif not _same(c, r, oc, orows):
            bad.append(f"{key}: warehouse differs from oracle ({len(r)} vs {len(orows)} rows)")

    cmp("ohlc_1m", f"SELECT {cols} FROM {ohlc} WHERE timeframe_code = '1m'")
    sma = ("SELECT currency_pair_code, timeframe_code, period, calc_version, time, "
           "round(value, 6) + 0.0 AS value FROM " + _wh_rel(wh, "fact_sma") +
           " WHERE value IS NOT NULL")
    if sma_timeframe is None:
        cmp("ohlc_derived_multi_tf", f"SELECT {cols} FROM {ohlc} WHERE timeframe_code <> '1m'")
        cmp("sma_14_1h", sma + " AND timeframe_code = '1h' AND period = 14")
        cmp("sma_golden_cross", """
            SELECT event_datetime, currency_pair_code, round(price, 6) + 0.0 AS price,
                   quantity, event_type, trigger_indicator_name,
                   round(trigger_indicator_value, 6) + 0.0 AS trigger_indicator_value,
                   trigger_indicator_timeframe, trigger_indicator_period
            FROM """ + _wh_rel(wh, "fact_buysell_events") + """
            WHERE event_type = 'BUY' AND trigger_indicator_timeframe = '1h'""")
    else:
        cmp("sma_fanout_all_tf", sma + f" AND timeframe_code = '{sma_timeframe}'",
            oracle_filter=("timeframe_code", sma_timeframe))
    return bad


def bursty_feed(burst_s: int) -> gen.FeedSpec:
    """48 hours of 1 Hz bursts, the first ``burst_s`` of every hour: enough
    hourly candles for SMA(28) crosses, with every minute candle built from a
    full-density second series."""
    return gen.FeedSpec(seconds=48 * 3600, burst_s=burst_s)


class EtlBackfill(Workload):
    """One fresh feed into an empty warehouse, first thing in a fresh
    session."""

    name = "etl_backfill"
    max_ops = 1
    BURST_S = 600

    def generate(self):
        self.feed = os.path.join(self.work, "feed")
        self.rows = gen.write_feed(gen.tick_rows(bursty_feed(self.BURST_S), self.seed), self.feed)

    def inputs_description(self):
        return {"feed": bursty_feed(self.BURST_S).describe(), "rows": self.rows}

    def op(self, spark, i, tracer):
        run_pipelines(spark, tracer, self.feed, os.path.join(self.work, "wh"))
        return self.rows

    def wrong_ops(self, spark, n_ops):
        con = _duck({"events": [f"{self.feed}/events.parquet"]})
        wh = os.path.join(self.work, "wh")
        bad = _check_unique(con, wh) + check_warehouse_vs_oracles(con, wh, None)
        if bad:
            self._log_error("; ".join(bad))
            return n_ops
        return 0

    def layers(self, spark, tracer):
        # the measured operation ran in a cold JVM; the decomposed replay is
        # warm, so it is held against a warm operation on the same feed
        with tracer.span("op_warm"):
            run_pipelines(spark, tracer, self.feed, os.path.join(self.work, "wh-warm"))
        return decomposed_pipelines(spark, tracer, self.feed,
                                    os.path.join(self.work, "wh-decomposed"))


class EtlIncremental(Workload):
    """History of ``HISTORY_SLICES`` slices, then one slice per operation."""

    name = "etl_incremental"
    SLICE_S = 120
    HISTORY_SLICES = 100
    max_ops = 40

    def generate(self):
        slice_s = self.SLICE_S
        hist_s = self.HISTORY_SLICES * slice_s
        self.spec = gen.FeedSpec(seconds=hist_s + (self.max_ops + 1) * slice_s)
        table = gen.tick_rows(self.spec, self.seed)
        bounds = [0, hist_s] + [hist_s + (k + 1) * slice_s for k in range(self.max_ops + 1)]
        parts = gen.split_by_time(table, self.spec.start_us, bounds)
        self.history = os.path.join(self.work, "history")
        gen.write_feed(parts[0], self.history)
        self.slices, self.rows = [], []
        for k, part in enumerate(parts[1:]):
            d = os.path.join(self.work, f"slice-{k:03d}")
            self.rows.append(gen.write_feed(part, d))
            self.slices.append(d)
        self.history_rows = parts[0].num_rows
        self.wh = os.path.join(self.work, "wh")
        self.landed = 0

    def inputs_description(self):
        return {"feed": self.spec.describe(), "slice_s": self.SLICE_S,
                "history_rows": self.history_rows, "slice_rows": self.rows[:3]}

    def setup(self, spark, tracer):
        with tracer.span("history_backfill"):
            run_pipelines(spark, tracer, self.history, self.wh)

    def op(self, spark, i, tracer):
        run_pipelines(spark, tracer, self.slices[i], self.wh)
        self.landed = i + 1
        return self.rows[i]

    def wrong_ops(self, spark, n_ops):
        from trading_etl_spark.plans import pipelines

        files = [f"{self.history}/events.parquet"] + [
            f"{d}/events.parquet" for d in self.slices[: self.landed]]
        con = _duck({"events": files})
        bad = _check_unique(con, self.wh)
        bad += check_warehouse_vs_oracles(con, self.wh, "1m")
        # replaying the last landed slice must write nothing; the indicator
        # and strategy pipelines replay their lookback rows on every
        # operation already, which the key-uniqueness check above covers
        if self.landed:
            replay = pipelines.ohlc_pipeline(spark, self.slices[self.landed - 1], self.wh)
            bad += _check_unique(con, self.wh)
            if any(replay.values()):
                bad.append(f"replay wrote rows: {replay}")
        if bad:
            self._log_error("; ".join(bad))
            return n_ops
        return 0

    def layers(self, spark, tracer):
        scratch = os.path.join(self.work, "wh-decomposed")
        shutil.copytree(self.wh, scratch)
        return decomposed_pipelines(spark, tracer, self.slices[self.landed], scratch)


# --- read-only and corpus workloads ----------------------------------------------


class AnalystQueries(Workload):
    """Registry trading queries on one feed; an operation runs every key of
    the mix once, in an order drawn from the seed."""

    name = "analyst_queries"

    def generate(self):
        self.spec = bursty_feed(120)
        self.feed = os.path.join(self.work, "feed")
        self.rows = gen.write_feed(gen.tick_rows(self.spec, self.seed), self.feed)
        self.rng = np.random.default_rng([self.seed, 3])
        self.results: dict[str, list] = {}

    def inputs_description(self):
        return {"feed": self.spec.describe(), "rows": self.rows, "keys": list(TRADING_KEYS)}

    def setup(self, spark, tracer):
        import __spark_entry__ as entry

        self.qs = entry.queries()
        with tracer.span("queries.trading.cache_fill"):
            for key in TRADING_KEYS:
                self.qs[key](spark, self.feed).collect()
        # the second pass is still JIT-bound, about half again a warm one
        with tracer.span("warmup"):
            for key in TRADING_KEYS:
                self.qs[key](spark, self.feed).collect()

    def op(self, spark, i, tracer):
        for k in self.rng.permutation(len(TRADING_KEYS)):
            key = TRADING_KEYS[k]
            with tracer.span(f"queries.trading.{key}"):
                df = self.qs[key](spark, self.feed)
                rows = df.collect()
            self.results.setdefault(key, []).append((df.columns, rows))
        return self.rows

    def wrong_ops(self, spark, n_ops):
        con = _duck({"events": [f"{self.feed}/events.parquet"]})
        wrong = set()
        for key, runs in self.results.items():
            oc, orows = _oracle(con, key)
            for i, (cols, rows) in enumerate(runs):
                if not _same(cols, rows, oc, orows):
                    wrong.add(i)
                    self._log_error(f"op {i} {key}: {len(rows)} rows vs oracle {len(orows)}")
        return len(wrong)

    def layers(self, spark, tracer):
        fill = next(s for s in tracer.spans if s.name == "queries.trading.cache_fill")
        return {"queries.trading.cache_fill_s": fill.end - fill.start}


class CorpusDedup(Workload):
    """One dedup pass over a corpus the session has not seen. A second pass
    in the same session would find the program's caches built, so a run
    makes one cold operation."""

    name = "corpus_dedup"
    max_ops = 1
    SPEC = gen.CorpusSpec(docs=200)

    def generate(self):
        self.corpus = os.path.join(self.work, "corpus")
        self.rows = gen.write_corpus(self.SPEC, self.seed, self.corpus)
        self.results: dict[str, tuple] = {}

    def inputs_description(self):
        return {"corpus": self.SPEC.describe(), "rows": self.rows}

    def setup(self, spark, tracer):
        import __spark_entry__ as entry

        self.qs = entry.queries()

    def op(self, spark, i, tracer):
        for key in DEDUP_KEYS:
            with tracer.span(f"queries.datapipe.{key}"):
                df = self.qs[key](spark, self.corpus)
                self.results[key] = (df.columns, df.collect())
        return self.rows

    def wrong_ops(self, spark, n_ops):
        con = _duck({"documents": [f"{self.corpus}/documents.parquet"],
                     "embeddings": [f"{self.corpus}/embeddings.parquet"]})
        bad = []
        for key, (cols, rows) in self.results.items():
            oc, orows = _oracle(con, key)
            if not _same(cols, rows, oc, orows):
                bad.append(f"{key}: {len(rows)} rows vs oracle {len(orows)}")
        if bad or len(self.results) != len(DEDUP_KEYS):
            self._log_error("; ".join(bad) or "dedup pass incomplete")
            return n_ops
        return 0


WORKLOADS = {w.name: w for w in (EtlBackfill, EtlIncremental, AnalystQueries, CorpusDedup)}
