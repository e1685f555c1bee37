"""The repository's benchmark: closed-loop workloads, each driven by
one client through the engine's public entry points.

    python3 perfbench/run.py --workload ingest_backfill --seed 1 --seconds 20 --trace 0

Workloads (see each module's docstring):

- ``ingest_backfill``     — REST backfill jobs of 1Min bars
- ``market_analytics``    — a fixed mix of ten analytic queries
- ``connector_roundtrip`` — trade stream -> dedup -> REST sink; not in
  ``BENCHMARK.json`` (run budget), measured by traced ingest runs

Run from the root of a checkout.  Inputs are generated from ``--seed``;
the run measures ``--seconds`` seconds after a fixed warm-up, checks
every op's output, and prints the input sizes and metrics, then as its
last line one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` measures an untraced phase, then a traced one of the
same length, and reports the per-layer metrics derived from the traced
phase's spans and counters (spans go to ``.perfbench_out/``), with the
tracing overhead as traced minus untraced end-to-end numbers.
Scratch files live in ``.perfbench_tmp/`` and are removed on exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from common import (  # noqa: E402
    ROOT,
    BenchError,
    Jvm,
    RssSampler,
    RunDir,
    StandInProc,
    Tracer,
    diff,
    median,
    metric,
    start_spark,
    stop_spark,
    tail,
)

WORKLOADS = ("ingest_backfill", "connector_roundtrip", "market_analytics")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def check_checkout() -> None:
    """The engine must come from this checkout, not from elsewhere."""
    if not (ROOT / "alpaca_pyspark_spark" / "__init__.py").is_file():
        raise BenchError(f"no alpaca_pyspark_spark package under {ROOT}")
    sys.path.insert(0, str(ROOT))
    import alpaca_pyspark_spark

    if Path(alpaca_pyspark_spark.__file__).resolve().parent.parent != ROOT:
        raise BenchError("alpaca_pyspark_spark was imported from outside the checkout")


def end_to_end(ops: list[dict]) -> dict:
    done = [o for o in ops if o["latency"] is not None]
    if not done:
        raise BenchError("no op completed")
    lat = [o["latency"] for o in done]
    t0 = min(o["t0"] for o in done)
    t1 = max(o["t1"] for o in done)
    value, pct, beyond = tail(lat)
    return {
        "rows_per_s": sum(o["rows"] for o in ops if o["ok"]) / (t1 - t0),
        "op_p50_s": median(lat),
        "op_tail_s": value,
        "tail_pct": pct,
        "tail_beyond": beyond,
        "success_frac": sum(o["ok"] for o in ops) / len(ops),
        "ops": len(ops),
    }


def per_layer_units() -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run(args: argparse.Namespace) -> dict:
    check_checkout()
    mod = importlib.import_module(args.workload)
    run_dir = RunDir(args.workload, args.seed)
    standin = spark = rss = wl = None
    try:
        # the stand-in builds its tape while the JVM starts
        cfg = mod.standin_config(args.seed, args.seconds)
        standin = StandInProc(cfg) if cfg else None
        t = time.monotonic()
        spark = start_spark(run_dir, f"perfbench-{args.workload}")
        session_start_s = time.monotonic() - t
        rss = RssSampler()
        jvm = Jvm(spark)
        if standin:
            standin.wait_ready()
        t_inputs = time.monotonic()
        wl = mod.Workload(spark, standin, args.seed, run_dir, args.seconds)
        t_warm = time.monotonic()
        wl.warmup()
        setup_s = time.monotonic() - T_PROCESS
        print(
            f"setup: session {session_start_s:.1f} s, stand-in ready at "
            f"{t_inputs - T_PROCESS:.1f} s, inputs {t_warm - t_inputs:.1f} s, "
            f"warm-up and checks {time.monotonic() - t_warm:.1f} s"
        )

        def phase(tracer: Tracer, seconds: float):
            jit0, gc0 = jvm.jit_s(), jvm.gc_s()
            jvm.reset_heap_peak()
            s0 = standin.stats() if standin else None
            ops = wl.ops(tracer, seconds)
            counters = {
                "jit_s": jvm.jit_s() - jit0,
                "gc_s": jvm.gc_s() - gc0,
                "heap_peak_mb": jvm.heap_peak_mb(),
                "standin": diff(standin.stats(), s0) if standin else {"serve_s": 0.0},
            }
            return ops, counters

        if not args.trace:
            ops, counters = phase(Tracer(False), args.seconds)
            e2e = end_to_end(ops)
            metrics = {
                "setup_s": metric(setup_s, "s"),
                "rows_per_s": metric(e2e["rows_per_s"], "1/s"),
                "op_p50_s": metric(e2e["op_p50_s"], "s"),
                "op_tail_s": metric(e2e["op_tail_s"], "s"),
                "success_frac": metric(e2e["success_frac"], "frac"),
                "peak_rss_mb": metric(rss.close(), "MB"),
            }
            all_ops = ops
            print(
                "peak memory (PSS, MB): "
                + ", ".join(f"{k} {v / 1024:.0f}" for k, v in rss.peak_kb.items())
            )
        else:
            ops, _ = phase(Tracer(False), args.seconds)
            e2e = end_to_end(ops)
            tracer = Tracer(True)
            traced, counters = phase(tracer, args.seconds)
            t2e = end_to_end(traced)
            metrics, extra_ops = layer_metrics(wl, tracer, traced, counters, jvm, session_start_s)
            metrics["trace.op_p50_delta_s"] = metric(t2e["op_p50_s"] - e2e["op_p50_s"], "s")
            metrics["trace.rows_per_s_delta"] = metric(t2e["rows_per_s"] - e2e["rows_per_s"], "1/s")
            all_ops = ops + traced + extra_ops
            unknown = set(metrics) - set(per_layer_units())
            if unknown:
                raise BenchError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
            for k in ("rows_per_s", "op_p50_s", "op_tail_s", "success_frac"):
                print(f"{k}: untraced {e2e[k]:.6g}, traced {t2e[k]:.6g}")
            out = ROOT / ".perfbench_out" / f"spans-{args.workload}-{args.seed}.json"
            tracer.write(out)
            print(f"spans: {out.relative_to(ROOT)} ({len(tracer.spans)})")
        print(f"sizes: {json.dumps(wl.sizes)}")
        if standin:
            s = counters["standin"]
            print(f"stand-in served {s['rows']} rows in {s['pages']} pages, {s['requests']} requests")
        print(
            f"ops: {e2e['ops']}; op_tail_s is p{e2e['tail_pct']:.3g} "
            f"with {e2e['tail_beyond']} ops beyond it"
        )
        for k, v in metrics.items():
            print(f"{k}: {v['value']:.6g} {v['unit']}")
        failed = sum(not o["ok"] for o in all_ops)
        return {
            "correct": failed == 0,
            "attempted": len(all_ops),
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if wl is not None:
            wl.stop()
        if spark is not None:
            stop_spark(spark)
        if rss is not None:
            rss.close()
        if standin is not None:
            standin.close()
        run_dir.close()


def layer_metrics(wl, tracer, ops, counters, jvm, session_start_s) -> tuple[dict, list[dict]]:
    """Every per-layer metric, and the ops of any extra loop the
    workload ran to measure a layer; layers not touched read 0."""
    out = {name: (0.0, unit) for name, unit in per_layer_units().items()}
    n = len(ops)
    t0 = min(o["t0"] for o in ops)
    t1 = max(o["t1"] for o in ops)
    plans = [o["plans"] for o in ops if o.get("plans")]
    out.update(
        {
            "session.start_s": (session_start_s, "s"),
            "session.jvm_jit_cpu_s": (counters["jit_s"] / n, "s"),
            "session.jvm_gc_s": (counters["gc_s"] / n, "s"),
            "session.jvm_heap_peak_mb": (counters["heap_peak_mb"], "MB"),
            "standin.serve_s": (counters["standin"]["serve_s"], "s"),
            "standin.busy_frac": (counters["standin"]["serve_s"] / (t1 - t0), "frac"),
        }
    )
    if plans:
        for i, k in enumerate(("jobs", "stages", "tasks")):
            out[f"plans.{k}"] = (sum(p[i] for p in plans) / len(plans), "count")
    layer, extra_ops = wl.layer_metrics(tracer, ops, counters["standin"])
    out.update(layer)
    return {k: metric(float(v), u) for k, (v, u) in out.items()}, extra_ops


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    try:
        result = run(args)
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
