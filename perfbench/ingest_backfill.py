"""``ingest_backfill``: one client submits historical 1Min-bar backfill
jobs back to back against the API stand-in.

An op is one job: ``spark.read.format("Alpaca_Stocks_Bars")`` over
one chunk (one symbol x one week), evaluated with
``plans.force_evaluate``.  Every landed row feeds an observed checksum
in the same pass, which must equal the checksum of the rows the
stand-in served for that job.

The traced run also runs the ``connector_roundtrip`` loop for a few
seconds, so the streaming and sink layers are measured as well.
"""

from __future__ import annotations

import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

import connector_roundtrip
import tapes
from common import RunDir, StandInProc, Tracer, closed_loop, diff, group_jobs, job_counts, median

SYMBOLS = 48
WEEKS = 2
SYMBOLS_PER_JOB = 1
#: Rows per page.  The adaptive grid cuts a week into slices of ~5
#: pages' worth of minutes (three slices at this limit); the 16-hour
#: session fills ~60% of them, so each partition pages about three
#: times.
LIMIT = 500
WARMUP_OPS = 6
#: Seconds of connector round trip a traced run measures.
CONNECTOR_S = 8


def standin_config(seed: int, seconds: int) -> dict:
    return {"kind": "bars", "seed": seed, "symbols": SYMBOLS, "weeks": WEEKS}


def _check_columns():
    minute = F.expr("unix_micros(time) div 60000000")
    cents = lambda c: F.round(F.col(c) * 100).cast("bigint")  # noqa: E731
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(minute - tapes.BAR_MINUTE_BASE).alias("minute"),
        F.sum(F.crc32(F.col("symbol").cast("binary")) * (minute % 97 + 1)).alias("sym_minute"),
        F.sum("volume").alias("volume"),
        F.sum("trade_count").alias("trades"),
        F.sum(cents("open") + 3 * cents("high") + 5 * cents("low") + 7 * cents("close")).alias("ohlc_cents"),
        F.sum(F.round(F.col("vwap") * 10_000).cast("bigint")).alias("vwap_e4"),
    ]


class Workload:
    def __init__(self, spark, standin, seed: int, run: RunDir, seconds: int):
        from alpaca_pyspark_spark.sources import register_all

        register_all(spark)
        self.spark = spark
        self.standin = standin
        self.seed = seed
        self.run = run
        self.tape = tapes.bar_tape(seed, SYMBOLS, WEEKS)
        self.jobs = tapes.backfill_chunks(self.tape, seed, SYMBOLS_PER_JOB)
        self.i = 0
        self.last_stats = None
        self.sizes = {
            "symbols": SYMBOLS,
            "days": 5 * WEEKS,
            "partitions_per_job": 3,
            "tape_rows": self.tape.rows,
            "jobs_in_cycle": len(self.jobs),
            "symbols_per_job": SYMBOLS_PER_JOB,
            "limit": LIMIT,
        }

    def warmup(self) -> None:
        self.last_stats = self.standin.stats(new_epoch=True)
        for _ in range(WARMUP_OPS):
            self.op(Tracer(False))

    def ops(self, tracer: Tracer, seconds: float) -> list[dict]:
        return closed_loop(self.op, tracer, seconds)

    def stop(self) -> None:
        pass

    def options(self, job) -> dict:
        symbols, start, end = job
        return {
            "APCA-API-KEY-ID": "bench",
            "APCA-API-SECRET-KEY": "bench",
            "endpoint": self.standin.api,
            "symbols": ",".join(symbols),
            "timeframe": "1Min",
            "start": start.isoformat(),
            "end": end.isoformat(),
            "limit": str(LIMIT),
        }

    def tape_rows(self, job) -> int:
        """Tape rows inside the job's inclusive window."""
        symbols, start, end = job
        lo = tapes.to_us(start) // tapes.MINUTE_US
        hi = tapes.to_us(end) // tapes.MINUTE_US
        return sum(
            int(((b.minute >= lo) & (b.minute <= hi)).sum())
            for b in (self.tape.bars[s] for s in symbols)
        )

    def op(self, tracer: Tracer) -> dict:
        """Run the next job; returns the op record."""
        from alpaca_pyspark_spark.plans import force_evaluate

        job = self.jobs[self.i % len(self.jobs)]
        self.i += 1
        group = f"ingest-{self.i}"
        sc = self.spark.sparkContext
        before = self.last_stats
        sc.setJobGroup(group, group)
        t0 = time.monotonic()
        with tracer.span("op"):
            obs = Observation(f"check{self.i}")
            with tracer.span("sources.read.build"):
                df = (
                    self.spark.read.format("Alpaca_Stocks_Bars")
                    .options(**self.options(job))
                    .load()
                    .observe(obs, *_check_columns())
                )
            with tracer.span("plans.force_evaluate"):
                rows = force_evaluate(df)
            got = obs.get
        t1 = time.monotonic()
        self.last_stats = self.standin.stats(new_epoch=True)
        served = diff(self.last_stats, before)
        landed = [int(got[k] or 0) for k in tapes.BAR_CHECK]
        ok = rows == served["rows"] and landed == served["check"]
        return {
            "t0": t0,
            "t1": t1,
            "latency": t1 - t0,
            "rows": rows,
            "ok": ok,
            "served": served,
            # rows served twice: adjacent partitions share an end instant
            "overlap_rows": served["rows"] - self.tape_rows(job),
            "plans": job_counts(self.spark, group_jobs(self.spark, group)) if tracer.on else None,
        }

    # -------------------------------------------------- layer probes
    def probe(self, tracer: Tracer, jobs: int) -> list[int]:
        """Time the source layers' public functions directly, on the
        first partition of ``jobs`` jobs; returns each job's partition
        count."""
        from alpaca_pyspark_spark.sources.alpaca import BARS_TABLE, stock_bars_specs
        from alpaca_pyspark_spark.sources.http import make_fetcher, paginate
        from alpaca_pyspark_spark.sources.partitioning import (
            parse_timeframe,
            plan_partitions,
        )
        from alpaca_pyspark_spark.sources.spec import validate_options

        counts = []
        for k in range(jobs):
            job = self.jobs[k % len(self.jobs)]
            with tracer.span("sources.spec.validate"):
                config, params = validate_options(self.options(job), stock_bars_specs())
            with tracer.span("sources.partitioning.plan"):
                parts = plan_partitions(
                    params["symbols"].split(","),
                    tapes.datetime.fromisoformat(params["start"]),
                    tapes.datetime.fromisoformat(params["end"]),
                    timeframe=parse_timeframe(params["timeframe"]),
                    limit=LIMIT,
                )
            counts.append(len(parts))
            part = parts[0]
            page_params = {
                "timeframe": "1Min",
                "symbols": part.symbol,
                "start": part.start.isoformat(),
                "end": part.end.isoformat(),
                "limit": str(LIMIT),
            }
            pages = paginate(
                make_fetcher(config.endpoint, "stocks/bars", config.headers),
                page_params,
            )
            while True:
                t0 = time.monotonic()
                page = next(pages, None)
                if page is None:
                    break
                tracer.add("sources.http.fetch", t0, time.monotonic())
                n = sum(len(v) for v in page.get("bars", {}).values())
                with tracer.span("sources.wire.page_to_batch", rows=n):
                    BARS_TABLE.page_to_batch(page)
        return counts

    def connector(self, tracer: Tracer) -> tuple[dict, list[dict]]:
        """The streaming and sink layers: ``CONNECTOR_S`` seconds of the
        ``connector_roundtrip`` loop against a trade-tape stand-in of its
        own; returns its layer metrics and its ops."""
        standin = StandInProc(connector_roundtrip.standin_config(self.seed, CONNECTOR_S))
        conn = None
        try:
            standin.wait_ready()
            conn = connector_roundtrip.Workload(self.spark, standin, self.seed, self.run, CONNECTOR_S)
            conn.warmup()
            before = standin.stats()
            with tracer.span("connector_roundtrip"):
                ops = conn.ops(tracer, CONNECTOR_S)
            metrics, _ = conn.layer_metrics(tracer, ops, diff(standin.stats(), before))
            return metrics, ops
        finally:
            if conn is not None:
                conn.stop()
            standin.close()

    def layer_metrics(self, tracer: Tracer, ops: list[dict], served: dict) -> tuple[dict, list[dict]]:
        parts = median(self.probe(tracer, 8))
        parse = [
            (s["end"] - s["start"]) / s["rows"] * 1000
            for s in tracer.spans
            if s["name"] == "sources.wire.page_to_batch" and s["rows"]
        ]
        n = len(ops)
        metrics = {
            "sources.spec.validate_s": (median(tracer.durations("sources.spec.validate")), "s"),
            "sources.partitioning.plan_s": (median(tracer.durations("sources.partitioning.plan")), "s"),
            "sources.partitioning.partitions": (parts, "count"),
            "sources.partitioning.overlap_rows": (sum(o["overlap_rows"] for o in ops) / n, "count"),
            "sources.http.requests": (served["requests"] / n, "count"),
            "sources.http.connections": (served["connections"] / n, "count"),
            "sources.http.requests_per_connection": (served["requests"] / max(1, served["connections"]), "count"),
            "sources.http.retries": (served["repeats"] / n, "count"),
            "sources.http.fetch_s": (median(tracer.durations("sources.http.fetch")), "s"),
            "sources.wire.parse_s_per_krow": (median(parse), "s"),
            "sources.wire.rows_per_page": (served["rows"] / max(1, served["pages"]), "count"),
            "sources.wire.pages_per_partition": (served["pages"] / max(1.0, parts * n), "count"),
            "sources.wire.empty_page_frac": (served["empty_pages"] / max(1, served["pages"]), "frac"),
        }
        streaming, connector_ops = self.connector(tracer)
        metrics.update(streaming)
        return metrics, connector_ops
