"""The benchmark workloads.

Each workload generates its inputs from the seed (``prepare``), warms a
fresh session (``warm``, part of ``setup_s``), runs one pass of its unit
of work as a list of timed operations (``run_pass``), checks the outputs
of the measured passes (``check``), and, in a traced run, reports the
numbers of the layers it exercises (``layers``).

An operation is one call a user of the engine waits for: one pipeline run
(``parse_route``); one SP statement, one curation query or one micro-batch
of the tail drain (``query_mix``).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass

import inputs
from probe import Tracer, wrap


@dataclass
class Op:
    name: str
    start: float  # epoch seconds, for matching Spark jobs
    end: float
    seconds: float  # perf_counter duration
    records: int
    span: dict | None = None
    failed: str | None = None


class Workload:
    name = ""
    # The fewest measured passes. Medians and percentiles then come from a
    # fixed count: cut off by time alone, the count would change with the
    # host's speed, and the weight of the slower first pass with it.
    MIN_PASSES = 2

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed

    def prepare(self) -> None: ...

    def warm(self, spark) -> None:
        """Warm a fresh session: start Python workers, fill per-session
        caches (part of ``setup_s``)."""

    def settle(self, spark) -> None:
        """Untimed work in the measured session before timing starts: the
        first passes after set-up are the slowest, while the JVM compiles
        the hot paths."""

    def run_pass(self, spark, rng: random.Random, tracer: Tracer) -> list[Op]:
        raise NotImplementedError

    def check(self, spark) -> list[str]:
        return []

    def instrument(self, tracer: Tracer) -> None:
        """Wrap the layer entry points this workload calls (traced run)."""

    def layers(self, spark, tracer: Tracer, ops: list[Op]) -> dict:
        return {}


def _timed(name: str, tracer: Tracer, trace_id: int, fn, records: int) -> Op:
    """Run one operation under its own job group and time it."""
    from pyspark import SparkContext

    SparkContext._active_spark_context.setJobGroup(f"op-{trace_id}", name)
    with tracer.span(name, trace=trace_id) as sp:
        start = time.time()
        t0 = time.perf_counter()
        failed = None
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
            traceback.print_exc()
            failed = f"{name}: {type(exc).__name__}: {str(exc)[:300]}"
        secs = time.perf_counter() - t0
    return Op(name, start, time.time(), secs, records, sp, failed)


def _median_span_ms(tracer: Tracer, name: str) -> float:
    d = tracer.durations(name)
    return statistics.median(d) * 1e3 if d else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# parse_route
# ---------------------------------------------------------------------------
# fluent-bit's documented spelling is `Types code:integer`; the engine's
# typecast accepts only `int` (see the parse_route defect noted in
# CHANGES.md), so the workload spells it `int`.
PARSE_ROUTE_CONF = r"""
[PARSER]
    Name        nginx
    Format      regex
    Regex       ^(?<remote>[^ ]*) (?<host>[^ ]*) (?<user>[^ ]*) \[(?<time>[^\]]*)\] "(?<method>\S+)(?: +(?<path>[^\"]*?)(?: +\S*)?)?" (?<code>[^ ]*) (?<size>[^ ]*)(?: "(?<referer>[^\"]*)" "(?<agent>[^\"]*)")$
    Time_Key    time
    Time_Format %d/%b/%Y:%H:%M:%S %z
    Types       code:int size:int

[INPUT]
    Name text
    Path {spool}
    Tag  access.log

[FILTER]
    Name     parser
    Match    access.*
    Key_Name value
    Parser   nginx
{filters}
"""

PARSE_ROUTE_FILTERS = r"""
[FILTER]
    Name    grep
    Match   access.*
    Regex   method ^[A-Z]+$
    Exclude path ^/healthz

[FILTER]
    Name   modify
    Match  access.*
    Add    env prod
    Rename agent user_agent

[FILTER]
    Name  rewrite_tag
    Match access.*
    Rule  $code ^5[0-9][0-9]$ errors.web false
"""

PARSE_ROUTE_OUTPUTS = r"""
[OUTPUT]
    Name   file
    Match  access.*
    Path   {out}/file
    Format json

[OUTPUT]
    Name  es
    Match errors.*
    Path  {out}/es
    Index web-errors

[OUTPUT]
    Name     loki
    Match    *
    Path     {out}/loki
    Labels   method
    Line_Key path

[OUTPUT]
    Name  null
    Match *
"""


class ParseRoute(Workload):
    name = "parse_route"
    LINES = 100_000
    FILES = 8
    MIN_PASSES = 3

    def prepare(self) -> None:
        self.spool = inputs.access_spool(self.work, self.seed, self.LINES, self.FILES)
        self.warm_spool = inputs.access_spool(self.work, self.seed, 2_000, 2)
        self.out = os.path.join(self.work, "out", self.name)
        self.results: list[dict] = []

    def conf(self, spool: dict, filters: bool = True, outputs: bool = True) -> str:
        text = PARSE_ROUTE_CONF.format(
            spool=spool["dir"], filters=PARSE_ROUTE_FILTERS if filters else ""
        )
        return text + (PARSE_ROUTE_OUTPUTS.format(out=self.out) if outputs else "")

    def _run(self, spark, spool: dict) -> dict:
        from fluent_bit_spark.pipeline import load_pipeline

        return load_pipeline(spark, self.conf(spool)).run_outputs()

    def warm(self, spark) -> None:
        self._run(spark, self.warm_spool)

    def settle(self, spark) -> None:
        # after one settling pass the next still ran about a quarter slower
        for _ in range(2):
            self._run(spark, self.spool)

    def run_pass(self, spark, rng, tracer) -> list[Op]:
        def go():
            got = self._run(spark, self.spool)
            self.results.append(got)

        return [_timed("pipeline", tracer, rng.randrange(1 << 30), go, self.spool["lines"])]

    def check(self, spark) -> list[str]:
        want = self.spool["expected"]
        return [
            f"parse_route: routes {got} != expected {want}"
            for got in self.results
            if got != want
        ]

    def instrument(self, tracer) -> None:
        import fluent_bit_spark.pipeline as pipeline_pkg
        from fluent_bit_spark.pipeline import config

        wrap(tracer, config, "load_pipeline", "pipeline.load")
        pipeline_pkg.load_pipeline = config.load_pipeline
        wrap(tracer, config.Pipeline, "run_outputs", "pipeline.run_outputs")

    def layers(self, spark, tracer, ops) -> dict:
        """Prefix materializations into the noop sink: scan alone, scan +
        parser, scan + parser + grep/modify/rewrite_tag; each layer's time
        is the difference to the previous prefix, and the sinks' time is
        run_outputs minus the filter prefix. The residual, what the chain
        does not assign to parse, filters or sinks, is the bare scan."""
        from pyspark.sql import functions as F

        from fluent_bit_spark.pipeline import load_pipeline

        def noop(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        reps = 3
        scan, parse, filt = [], [], []
        with tracer.span("prefix", trace=0):
            for _ in range(reps):
                with tracer.span("prefix.scan"):
                    scan.append(noop(spark.read.text(self.spool["dir"])))
                with tracer.span("prefix.parse"):
                    parse.append(noop(load_pipeline(spark, self.conf(self.spool, False, False)).source()))
                with tracer.span("prefix.filters"):
                    filt.append(noop(load_pipeline(spark, self.conf(self.spool, True, False)).source()))
            parsed = load_pipeline(spark, self.conf(self.spool, False, False)).source()
            matched = parsed.filter(F.col("method").isNotNull()).count()
        run_s = statistics.median(tracer.durations("pipeline.run_outputs"))
        scan_s, parse_p, filt_p = (statistics.median(x) for x in (scan, parse, filt))
        lines = self.spool["lines"]
        delivered = self.spool["expected"]["*"]
        return {
            "pipeline.load_ms": _median_span_ms(tracer, "pipeline.load"),
            "pipeline.run_outputs_s": run_s,
            "parsers.parse_s": parse_p - scan_s,
            "parsers.match_ratio": matched / lines,
            "operators.filters_s": filt_p - parse_p,
            "operators.out_in_ratio": (self.results[-1].get("*", 0) if self.results else delivered) / lines,
            "sinks.write_s": run_s - filt_p,
            "sinks.output_bytes": _dir_bytes(self.out),
            "pipeline.residual_s": scan_s,
        }


# ---------------------------------------------------------------------------
# query_mix: registry queries checked against their DuckDB oracles
# ---------------------------------------------------------------------------
def _canon(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(9)
        elif s.dtype == object:
            df[c] = s.astype(str)
        else:
            try:
                df[c] = s.astype("int64")
            except (TypeError, ValueError):
                df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


# ---------------------------------------------------------------------------
# the tail drain: one member of query_mix
# ---------------------------------------------------------------------------
APP_LOG_SCHEMA = "time timestamp, service string, level string, msg string, latency_ms long"
WINDOW_SQL = (
    f"SELECT service, COUNT(*) AS cnt FROM STREAM:applogs "
    f"WINDOW TUMBLING ({inputs.WINDOW_SEC} SECOND) GROUP BY service;"
)


class TailDrain:
    """A seeded backlog of JSON app-log files drained with ``availableNow``
    through ``tail_source`` (one file per trigger), ``throttle_stream``
    (applyInPandasWithState) and an ``sp_stream_query`` tumbling window
    into a memory sink. Its operations are the data micro-batches, timed
    by the query's own progress reports."""

    RECORDS = 12_000
    FILES = 2

    def __init__(self, work: str, seed: int):
        self.backlog = inputs.app_log_backlog(work, seed, self.RECORDS, self.FILES)
        self.warm_backlog = inputs.app_log_backlog(work, seed, 1_000, self.FILES)
        self.ckpt = os.path.join(work, "checkpoints", "tail_drain")
        self.drains: list[list[tuple]] = []
        self.progress: list[dict] = []
        self._n = 0

    def _drain(self, spark, backlog: dict) -> tuple[list[tuple], list[dict]]:
        from pyspark.sql import functions as F

        from fluent_bit_spark.model import TS_COL
        from fluent_bit_spark.streaming.sources import tail_source
        from fluent_bit_spark.streaming.stateful import throttle_stream
        from fluent_bit_spark.streaming.windows import sp_stream_query

        self._n += 1
        qname = f"tail_drain_{self._n}"
        ckpt = os.path.join(self.ckpt, qname)
        shutil.rmtree(ckpt, ignore_errors=True)
        src = tail_source(
            spark, backlog["dir"], fmt="json", schema=APP_LOG_SCHEMA,
            tag_template="app.log", max_files_per_trigger=1,
        ).withColumn(TS_COL, F.col("time"))
        admitted = throttle_stream(src, rate=inputs.THROTTLE_RATE, key="service")
        windows = sp_stream_query(admitted, WINDOW_SQL, watermark=f"{inputs.WATERMARK_SEC} seconds")
        q = (
            windows.writeStream.format("memory").queryName(qname).outputMode("append")
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        rows = [
            (r["service"], r["w"], r["cnt"])
            for r in spark.table(qname)
            .select("service", F.unix_timestamp("window_start").alias("w"), "cnt")
            .collect()
        ]
        spark.catalog.dropTempView(qname)
        shutil.rmtree(ckpt, ignore_errors=True)
        return rows, progress

    def settle(self, spark) -> None:
        self._drain(spark, self.warm_backlog)

    def run(self, spark, tracer, trace_id: int) -> list[Op]:
        """One drain of the whole backlog. Every batch shares the drain's
        interval and span, so the engine figures of a drain are collected
        once and shared out over its batches."""
        from pyspark import SparkContext

        SparkContext._active_spark_context.setJobGroup(f"op-{trace_id}", "tail_drain")
        with tracer.span("stream.drain", trace=trace_id) as sp:
            start, t0 = time.time(), time.perf_counter()
            try:
                rows, progress = self._drain(spark, self.backlog)
                failed = None
            except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
                traceback.print_exc()
                failed = f"tail_drain: {type(exc).__name__}: {str(exc)[:300]}"
            end = time.time()
        if failed:
            return [Op("tail_drain", start, end, time.perf_counter() - t0,
                       self.backlog["records"], sp, failed)]
        self.drains.append(rows)
        if sp is not None:  # traced drains feed the per-layer numbers
            self.progress.extend(progress)
        return [
            Op("tail_batch", start, end, p["durationMs"].get("triggerExecution", 0) / 1e3,
               int(p["numInputRows"]), sp)
            for p in progress
        ]

    def check(self) -> list[str]:
        """Every emitted window must carry the count the generator computed
        for it, and every window the final watermark closed (ending at least
        one window before it) must be emitted."""
        want = self.backlog["windows"]
        closed_by = self.backlog["max_event_s"] - inputs.WATERMARK_SEC - inputs.WINDOW_SEC
        must = {k for k in want if int(k.split("|")[1]) + inputs.WINDOW_SEC <= closed_by}
        bad = []
        for i, rows in enumerate(self.drains):
            got = {f"{svc}|{w}": cnt for svc, w, cnt in rows}
            wrong = {k: (v, want.get(k)) for k, v in got.items() if want.get(k) != v}
            missing = must - set(got)
            if wrong or missing:
                bad.append(f"tail_drain {i}: {len(wrong)} wrong windows "
                           f"{list(wrong.items())[:3]}, {len(missing)} closed windows missing")
        return bad

    def instrument(self, tracer) -> None:
        from fluent_bit_spark.streaming import sources, stateful, windows

        wrap(tracer, sources, "tail_source", "streaming.tail_source")
        wrap(tracer, stateful, "throttle_stream", "streaming.throttle_stream")
        wrap(tracer, windows, "sp_stream_query", "sp.stream_query")
        wrap(tracer, windows, "parse_sql", "sp.parse")

    def layers(self, tracer) -> dict:
        prog = self.progress

        def med(key: str) -> float:
            vals = [p["durationMs"].get(key, 0) for p in prog]
            return float(statistics.median(vals)) if vals else 0.0

        state = [p["stateOperators"] for p in prog if p.get("stateOperators")]
        return {
            "stream.batches": len(prog) / max(1, len(tracer.durations("stream.drain"))),
            "stream.rows_per_batch": statistics.median([p["numInputRows"] for p in prog]) if prog else 0,
            "stream.trigger_ms": med("triggerExecution"),
            "stream.latest_offset_ms": med("latestOffset"),
            "stream.add_batch_ms": med("addBatch"),
            "stream.query_planning_ms": med("queryPlanning"),
            "stream.commit_ms": float(statistics.median(
                [p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0) for p in prog]
            )) if prog else 0.0,
            "stream.state_rows": max((sum(o.get("numRowsTotal", 0) for o in s) for s in state), default=0),
            "stream.state_memory_bytes": max((sum(o.get("memoryUsedBytes", 0) for o in s) for s in state), default=0),
            "stream.state_commit_ms": float(statistics.median(
                [sum(o.get("commitTimeMs", 0) for o in s) for s in state]
            )) if state else 0.0,
        }


# ---------------------------------------------------------------------------
# query_mix: registry queries and the tail drain, one client
# ---------------------------------------------------------------------------
def _canon(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(9)
        elif s.dtype == object:
            df[c] = s.astype(str)
        else:
            try:
                df[c] = s.astype("int64")
            except (TypeError, ValueError):
                df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


SP_STATEMENTS = (
    "sp_projection", "sp_where_coercion", "sp_projection_variant",
    "sp_tag_routing", "sp_window_tumbling", "sp_window_hopping",
    "sp_forecast", "sp_snapshot_last", "sp_create_stream_chain",
)
CURATION = ("exif_orientation", "bm25_topk")
TAIL = "tail_drain"


class QueryMix(Workload):
    """One client in a closed loop over registry queries
    (``__spark_entry__.queries()``) and one drain of a streaming backlog
    (``TailDrain``). The SP statements and the micro-batches spend most of
    their time in driver-side planning, job scheduling and per-batch
    coordination, the curation operators in Python workers and the
    extensions. The tables are fixed; the run seed sets the order and the
    backlog. The last result of each query is checked against its DuckDB
    ``oracle_sql()``, every drain against the generator's window counts."""

    name = "query_mix"
    MEMBERS = SP_STATEMENTS + CURATION + (TAIL,)
    SIZES = (10_000, 500, 20_000)  # events, documents, lineitem rows
    TABLE_SEED = 0

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        self.tables = inputs.tables(self.work, self.TABLE_SEED, *self.SIZES)
        self.warm_tables = inputs.tables(self.work, self.TABLE_SEED, 1_000, 50, 1_000)
        self.tail = TailDrain(self.work, self.seed)
        self.last: dict[str, object] = {}
        self.rows = {
            t: pq.ParquetFile(os.path.join(self.tables, f"{t}.parquet")).metadata.num_rows
            for t in ("events", "documents", "lineitem")
        }

    def source_rows(self, member: str) -> int:
        if member == "sp_projection":
            return self.rows["lineitem"]
        if member in SP_STATEMENTS:
            return self.rows["events"]
        return self.rows["documents"]

    def warm(self, spark) -> None:
        import __spark_entry__ as entry
        from fluent_bit_spark.model import load_table

        for t in self.rows:  # the per-session schema cache
            load_table(spark, self.tables, t)
        entry.queries()["exif_orientation"](spark, self.warm_tables).toPandas()  # Python workers

    def settle(self, spark) -> None:
        """Every member once on the small tables and backlog: the plans are
        those of the measured inputs, so their code is generated and
        compiled here, at a fraction of a full pass's cost."""
        import __spark_entry__ as entry

        qs = entry.queries()
        for m in SP_STATEMENTS + CURATION:
            qs[m](spark, self.warm_tables).toPandas()
        self.tail.settle(spark)

    def run_pass(self, spark, rng, tracer) -> list[Op]:
        import __spark_entry__ as entry

        qs = entry.queries()
        order = list(self.MEMBERS)
        rng.shuffle(order)
        ops = []
        for m in order:
            if m == TAIL:
                ops += self.tail.run(spark, tracer, rng.randrange(1 << 30))
                continue

            def go(m=m):
                self.last[m] = qs[m](spark, self.tables).toPandas()

            ops.append(_timed(m, tracer, rng.randrange(1 << 30), go, self.source_rows(m)))
        return ops

    def check(self, spark) -> list[str]:
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in self.rows:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')"
            )
        bad = []
        for m in SP_STATEMENTS + CURATION:
            got = self.last.get(m)
            if got is None:
                continue  # the op failed and is already counted
            want = con.execute(oracles[m]).fetchdf()
            if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
                bad.append(f"{m}: {len(got)} rows {sorted(got.columns)} vs oracle "
                           f"{len(want)} rows {sorted(want.columns)}")
            elif not _canon(got).equals(_canon(want)):
                bad.append(f"{m}: values differ from the DuckDB oracle")
        con.close()
        return bad + self.tail.check()

    def instrument(self, tracer) -> None:
        import __spark_entry__ as entry
        from fluent_bit_spark import model
        from fluent_bit_spark.sp import engine

        wrap(tracer, engine.SPContext, "sql", "sp.build")
        wrap(tracer, engine, "parse_sql", "sp.parse")
        wrap(tracer, model, "load_table", "model.load_table")
        entry.load_table = model.load_table
        self.tail.instrument(tracer)

    def layers(self, spark, tracer, ops) -> dict:
        # sp.build is SPContext.sql up to the returned DataFrame; the rest
        # of a statement (registry wrapper, execution, collect) is sp.exec
        exec_ms = []
        for op in ops:
            if op.name not in SP_STATEMENTS:
                continue
            inner = [s for s in tracer.spans if s.get("parent") == op.span["id"]]
            build = sum(s["end"] - s["start"] for s in inner if s["name"] == "sp.build")
            exec_ms.append((op.seconds - build) * 1e3)
        out = {
            "sp.statements": len(exec_ms),
            "sp.parse_ms": _median_span_ms(tracer, "sp.parse"),
            "sp.build_ms": _median_span_ms(tracer, "sp.build"),
            "sp.exec_ms": statistics.median(exec_ms) if exec_ms else 0.0,
            "model.load_table_ms": _median_span_ms(tracer, "model.load_table"),
        }
        for m in CURATION:
            d = [op.seconds for op in ops if op.name == m]
            out[f"curation.{m}_s"] = statistics.median(d) if d else 0.0
        out.update(self.tail.layers(tracer))
        return out


WORKLOADS = {w.name: w for w in (ParseRoute, QueryMix)}
