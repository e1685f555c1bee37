"""``market_analytics``: one long-lived session runs a fixed mix of
analytic queries back to back over a seeded ``events`` table shaped
like the repository's ``events`` test table (TESTDATA.md): five event
types, cent-quantized values.

An op is one query: build the lazy DataFrame (``QUERIES[qid]``), then
``plans.force_evaluate``.  Each query is first validated against its
DuckDB ``ORACLE`` twin on the same parquet file; every timed op's row
count must then equal the validated row count.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time

import tapes
from common import HERE, RunDir, Tracer, attempt, group_jobs, job_counts, median

MIX = (
    "q02_bars_tumbling",
    "q03_interval_join_agg",
    "q06_asof_join",
    "q07_adjustment",
    "q41_trailing_range_window",
    "q50_rolling_volatility",
    "q51_drawdown",
    "q52_twap",
    "q76_ewma",
    "q103_asof_tolerance",
)
#: A third of the sf0.1 test table (100k rows, 1.5k users):
#: the mix's time is planning, codegen and JIT far more than rows, and
#: the smaller table keeps the validation pass and warm-up inside the
#: benchmark's time budget.
ROWS = 30_000
USERS = 450
DAYS = 30
#: Untimed passes over the mix after the validation pass.  Pass time
#: falls steeply over the first passes of a fresh JVM (class loading,
#: codegen, JIT); these carry the timed phase past that slope.
WARMUP_PASSES = 1
#: Nominal seconds per pass once warm, at 4 cores: the timed phase
#: runs ``round(seconds / PASS_S)`` whole passes.
PASS_S = 5


def standin_config(seed: int, seconds: int) -> None:
    return None


class Workload:
    def __init__(self, spark, standin, seed: int, run: RunDir, seconds: int):
        import pyarrow.parquet as pq

        self.spark = spark
        self.sf_dir = run.sub("data")
        self.results_dir = run.sub("results")
        table = tapes.events_table(seed, ROWS, USERS, DAYS)
        pq.write_table(table, f"{self.sf_dir}/events.parquet")
        self.expected_rows: dict[str, int] = {}
        self.i = 0
        self.sizes = {"events_rows": ROWS, "users": USERS, "days": DAYS, "queries": len(MIX)}

    def warmup(self) -> None:
        """The validation pass, then ``WARMUP_PASSES`` passes while the
        oracle check (``oracle_check.py``) runs in its own process.
        Queries that disagree with their oracle fail every op."""
        import pyarrow.parquet as pq

        from alpaca_pyspark_spark.queries import ORACLE, QUERIES
        from alpaca_pyspark_spark.session import release_scoped_caches

        for qid in MIX:
            got = QUERIES[qid](self.spark, self.sf_dir).toArrow()
            release_scoped_caches()
            self.expected_rows[qid] = got.num_rows
            pq.write_table(got, f"{self.results_dir}/{qid}.parquet")
        with subprocess.Popen(
            [sys.executable, str(HERE / "oracle_check.py"), self.sf_dir, self.results_dir],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        ) as check:
            check.stdin.write(json.dumps({qid: ORACLE[qid] for qid in MIX}))
            check.stdin.close()
            for _ in range(WARMUP_PASSES * len(MIX)):
                self.op(Tracer(False))
            out = check.stdout.read()
        if check.returncode != 0:
            raise RuntimeError(f"oracle check exited with {check.returncode}")
        bad = json.loads(out)
        if bad:
            print(f"queries disagreeing with their oracle: {bad}", file=sys.stderr)
        for qid in bad:
            self.expected_rows[qid] = -1

    def ops(self, tracer: Tracer, seconds: float) -> list[dict]:
        """Whole passes over the mix, so every run weighs each query
        alike; as many as fit ``seconds`` at the nominal pass time."""
        out: list[dict] = []
        for _ in range(max(1, round(seconds / PASS_S)) * len(MIX)):
            tracer.op = len(out)
            out.append(attempt(self.op, tracer))
        tracer.op = None
        return out

    def stop(self) -> None:
        pass

    def op(self, tracer: Tracer) -> dict:
        from alpaca_pyspark_spark.plans import force_evaluate
        from alpaca_pyspark_spark.queries import QUERIES
        from alpaca_pyspark_spark.session import release_scoped_caches

        qid = MIX[self.i % len(MIX)]
        self.i += 1
        group = f"query-{self.i}"
        self.spark.sparkContext.setJobGroup(group, qid)
        t0 = time.monotonic()
        with tracer.span("op", qid=qid):
            with tracer.span("queries.build", qid=qid):
                df = QUERIES[qid](self.spark, self.sf_dir)
            with tracer.span("queries.exec", qid=qid):
                rows = force_evaluate(df)
            release_scoped_caches()
        t1 = time.monotonic()
        rec = {
            "t0": t0,
            "t1": t1,
            "latency": t1 - t0,
            "qid": qid,
            "rows": ROWS,
            "ok": rows == self.expected_rows[qid],
        }
        if tracer.on:
            rec["plans"] = job_counts(self.spark, group_jobs(self.spark, group))
        return rec

    def layer_metrics(self, tracer: Tracer, ops: list[dict], served: dict) -> tuple[dict, list[dict]]:
        from alpaca_pyspark_spark.plans import count_broadcasts, count_shuffles
        from alpaca_pyspark_spark.queries import QUERIES
        from alpaca_pyspark_spark.session import release_scoped_caches
        from alpaca_pyspark_spark.tables import load

        shuffles = broadcasts = 0
        for qid in MIX:
            df = QUERIES[qid](self.spark, self.sf_dir)
            shuffles += count_shuffles(df)
            broadcasts += count_broadcasts(df)
            release_scoped_caches()
        for _ in range(20):
            with tracer.span("tables.load"):
                load(self.spark, self.sf_dir, "events")
        out = {
            "tables.load_s": (median(tracer.durations("tables.load")), "s"),
            "queries.build_s": (median(tracer.durations("queries.build")), "s"),
            "queries.exec_s": (median(tracer.durations("queries.exec")), "s"),
            "plans.shuffles": (shuffles, "count"),
            "plans.broadcasts": (broadcasts, "count"),
        }
        for qid in MIX:
            lat = [o["latency"] for o in ops if o["qid"] == qid]
            out[f"queries.{qid}.op_s"] = (median(lat), "s")
        return out, []
