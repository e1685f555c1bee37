"""``connector_roundtrip``: the live connector loop.

``Alpaca_Stocks_Trades_Stream`` polls a seeded trade tape from the API
stand-in, one event-time slice per micro-batch;
``streaming.dedup.dedup_stream(keys=["id"])`` drops the tape's
re-delivered trade ids; ``Rest_Batch_Sink`` posts the survivors, then a
commit manifest, to the stand-in's capture endpoint.

An op is one micro-batch, timed from the first GET for its slice to
its commit manifest, both stamped by the stand-in.  A batch is correct
when the poller fetched every tape row of its slice, the rows landed
are exactly the trade ids first served in that slice, and the manifest
counts what landed.

Runnable as a workload of its own; ``BENCHMARK.json`` leaves it out to
fit the run budget, and every traced ``ingest_backfill`` run measures
its layers instead.
"""

from __future__ import annotations

import ast
import json
import time

import numpy as np

import tapes
from common import RunDir, Tracer, group_jobs, job_counts, median

SYMBOLS = 24
POLL_S = 10
TRADES_PER_SLICE = 1_500
REDELIVERY_SHARE = 0.05
LIMIT = 1_000
SINK_BATCH = 500
WATERMARK = "10 minutes"
WARMUP_BATCHES = 8
#: Tape length: the warm-up plus this many slices per timed second
#: (micro-batches take well over 1/SLICES_PER_S s), so the stream
#: never runs dry inside a run.
SLICES_PER_S = 8


def n_slices(seconds: int) -> int:
    return WARMUP_BATCHES + SLICES_PER_S * seconds + 10


def standin_config(seed: int, seconds: int) -> dict:
    return {
        "kind": "trades",
        "seed": seed,
        "symbols": SYMBOLS,
        "slices": n_slices(seconds),
        "poll_s": POLL_S,
        "trades_per_slice": TRADES_PER_SLICE,
        "redelivery_share": REDELIVERY_SHARE,
    }


def _offset_cursor(offset: str | None) -> str | None:
    """Progress reports a Python source's offset as the repr of its
    offset dict (``"{'cursor': '...'}"``), or ``"None"``."""
    parsed = ast.literal_eval(offset) if offset else None
    return parsed.get("cursor") if parsed else None


class Workload:
    def __init__(self, spark, standin, seed: int, run: RunDir, seconds: int):
        from alpaca_pyspark_spark.sources import register_all
        from alpaca_pyspark_spark.streaming.source import StockTradesStreamDataSource

        register_all(spark)
        spark.dataSource.register(StockTradesStreamDataSource)
        self.spark = spark
        self.standin = standin
        self.ckpt = run.sub("checkpoint")
        cfg = standin_config(seed, seconds)
        self.tape = tapes.trade_tape(
            seed, SYMBOLS, cfg["slices"], POLL_S, TRADES_PER_SLICE, REDELIVERY_SHARE
        )
        self.query = None
        self.progress: dict[int, dict] = {}
        self.sizes = {
            "symbols": SYMBOLS,
            "slices": self.tape.n_slices,
            "poll_event_s": POLL_S,
            "tape_rows": self.tape.originals + self.tape.redeliveries,
            "redelivered": self.tape.redeliveries,
            "limit": LIMIT,
            "sink_batch": SINK_BATCH,
        }

    def options(self) -> dict:
        return {
            "APCA-API-KEY-ID": "bench",
            "APCA-API-SECRET-KEY": "bench",
            "endpoint": self.standin.api,
            "symbols": ",".join(self.tape.symbols),
            "start": tapes.iso_z(self.tape.start_us).replace("Z", "+00:00"),
            "end": tapes.iso_z(self.tape.end_us).replace("Z", "+00:00"),
            "poll_interval": str(POLL_S),
            "limit": str(LIMIT),
        }

    def slice_rows(self, cursor: str) -> int:
        """Tape rows in the half-open slice starting at ``cursor``."""
        lo = tapes.to_us(tapes.datetime.fromisoformat(cursor))
        hi = min(lo + POLL_S * 1_000_000, self.tape.end_us)
        return sum(
            int(np.searchsorted(t.us, hi, "left") - np.searchsorted(t.us, lo, "left"))
            for t in self.tape.trades.values()
        )

    # ------------------------------------------------------ the stream
    def start(self) -> None:
        from alpaca_pyspark_spark.streaming.dedup import dedup_stream

        stream = (
            self.spark.readStream.format("Alpaca_Stocks_Trades_Stream")
            .options(**self.options())
            .load()
        )
        deduped = dedup_stream(stream, keys=["id"], ts="time", watermark_delay=WATERMARK)
        self.query = (
            deduped.select("symbol", "time", "price", "size", "id")
            .writeStream.format("Rest_Batch_Sink")
            .options(endpoint=self.standin.capture, batch_size=SINK_BATCH)
            .option("checkpointLocation", self.ckpt)
            .start()
        )

    def poll_progress(self) -> None:
        for p in self.query.recentProgress:
            d = p if isinstance(p, dict) else json.loads(p.json)
            self.progress[d["batchId"]] = d
        if self.query.exception() is not None:
            raise RuntimeError(f"stream failed: {self.query.exception()}")

    def wait_batches(self, n: int, timeout: float = 120.0) -> None:
        """Block until ``n`` batches have committed."""
        limit = time.monotonic() + timeout
        while len(self.standin.call("/connector")["batches"]) < n:
            self.poll_progress()
            if time.monotonic() > limit:
                raise RuntimeError(f"stream did not reach {n} batches")
            time.sleep(0.05)

    def warmup(self) -> None:
        self.start()
        self.wait_batches(WARMUP_BATCHES)

    def ops(self, tracer: Tracer, seconds: float) -> list[dict]:
        """Ops are the data batches whose first GET falls inside the
        next ``seconds``; returns once all of them have committed."""
        group = str(self.query.runId)
        jobs_before = group_jobs(self.spark, group) if tracer.on else set()
        t_start = time.monotonic()
        deadline = t_start + seconds
        while time.monotonic() < deadline:
            self.poll_progress()
            time.sleep(min(0.5, max(0.0, deadline - time.monotonic())))
        limit = deadline + 120.0
        while True:
            self.poll_progress()
            if time.monotonic() > limit:
                raise RuntimeError("micro-batches fetched in the phase never committed")
            state = self.standin.call("/connector")
            slices = {
                k: v for k, v in state["slices"].items()
                if t_start <= v["first_get"] < deadline
            }
            by_start = {
                _offset_cursor(p["sources"][0]["startOffset"]): p
                for p in self.progress.values()
            }
            committed = {b["manifest"].get("batch_id"): b for b in state["batches"]}
            if all(
                k in by_start and by_start[k]["batchId"] in committed for k in slices
            ):
                break
            time.sleep(0.05)
        ops = []
        for cursor, s in sorted(slices.items(), key=lambda kv: kv[1]["first_get"]):
            p = by_start[cursor]
            b = committed[p["batchId"]]
            landed_ok = (
                b["rows"] == s["new_rows"]
                and b["check"] == s["new_check"]
                and b["manifest"].get("status") == "committed"
                and b["manifest"]["rows"] == b["rows"]
                and b["dup_landed"] == 0
            )
            served_ok = s["rows"] == self.slice_rows(cursor) == p["numInputRows"]
            ops.append(
                {
                    "t0": s["first_get"],
                    "t1": b["committed"],
                    "latency": b["committed"] - s["first_get"],
                    "rows": p["numInputRows"],
                    "ok": landed_ok and served_ok,
                    "batch": b,
                    "progress": p,
                }
            )
            tracer.op = p["batchId"]
            tracer.add("op", s["first_get"], b["committed"])
        tracer.op = None
        if tracer.on and ops:
            # the stream runs every job under its run id: share them out
            jobs, stages, tasks = job_counts(
                self.spark, group_jobs(self.spark, group) - jobs_before
            )
            for o in ops:
                o["plans"] = (jobs / len(ops), stages / len(ops), tasks / len(ops))
        return ops

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    # -------------------------------------------------- layer probes
    def probe(self, tracer: Tracer, slices: int) -> None:
        """Time ``TradesStreamReader.read`` and ``RestBatchWriter.write``
        directly, on the first ``slices`` slices of the tape."""
        from alpaca_pyspark_spark.sources.sink import RestBatchWriter
        from alpaca_pyspark_spark.sources.spec import EndpointConfig, ParamSpec, validate_options
        from alpaca_pyspark_spark.sources.alpaca import stock_trades_specs
        from alpaca_pyspark_spark.streaming.source import TradesStreamReader

        config, params = validate_options(
            self.options(),
            stock_trades_specs() + [ParamSpec("poll_interval", pattern=r"^\d+(\.\d+)?$")],
        )
        reader = TradesStreamReader(config, params)
        writer = RestBatchWriter(
            EndpointConfig("", "", self.standin.capture),
            "ingest", "commit", SINK_BATCH, ["symbol", "time", "price", "size", "id"],
        )
        offset = reader.initialOffset()
        for _ in range(slices):
            with tracer.span("streaming.source.read"):
                rows_iter, offset = reader.read(offset)
                rows = list(rows_iter)
            out = [(r[0], r[1], r[3], r[4], r[6]) for r in rows]
            with tracer.span("sources.sink.write", rows=len(out)):
                writer.write(iter(out))

    def layer_metrics(self, tracer: Tracer, ops: list[dict], served: dict) -> tuple[dict, list[dict]]:
        self.probe(tracer, 10)
        prog = [o["progress"] for o in ops]
        dur = lambda key: median(p["durationMs"].get(key, 0) for p in prog)  # noqa: E731
        state = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
        posts = served["posts"]
        writes = [
            (s["end"] - s["start"], s["rows"])
            for s in tracer.spans
            if s["name"] == "sources.sink.write" and s["rows"]
        ]
        n = len(ops)
        metrics = {
            "streaming.trigger_ms": (dur("triggerExecution"), "ms"),
            "streaming.latest_offset_ms": (dur("latestOffset"), "ms"),
            "streaming.get_batch_ms": (dur("getBatch"), "ms"),
            "streaming.query_planning_ms": (dur("queryPlanning"), "ms"),
            "streaming.add_batch_ms": (dur("addBatch"), "ms"),
            "streaming.wal_commit_ms": (dur("walCommit"), "ms"),
            "streaming.commit_offsets_ms": (dur("commitOffsets"), "ms"),
            "streaming.batches": (n, "count"),
            "streaming.rows_per_batch": (median(p["numInputRows"] for p in prog), "count"),
            "streaming.source.read_s": (median(tracer.durations("streaming.source.read")), "s"),
            "streaming.dedup.state_rows": (median(s["numRowsTotal"] for s in state), "count"),
            "streaming.dedup.dropped_rows": (
                sum(s.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for s in state) / max(1, n),
                "count",
            ),
            "streaming.dedup.state_commit_ms": (median(s["commitTimeMs"] for s in state), "ms"),
            "sources.sink.posts": (posts / n, "count"),
            "sources.sink.rows_per_post": (served["posted_rows"] / max(1, posts), "count"),
            "sources.sink.manifests": (served["manifests"] / n, "count"),
            "sources.sink.post_s": (
                sum(w for w, _ in writes) / max(1, sum(-(-r // SINK_BATCH) for _, r in writes)),
                "s",
            ),
            "sources.sink.write_s_per_krow": (median(w / r * 1000 for w, r in writes), "s"),
        }
        return metrics, []
