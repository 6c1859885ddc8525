#!/usr/bin/env python3
"""The repository's benchmark: one command per workload.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 24 --trace 0

Run it from the repository root. It prints each metric as a line
``name value unit`` and, last, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics of a traced
measurement that follows an untraced one, plus the tracing overhead.
The full record of the run (context, support counts, spans) goes to
``.perfbench_out/``. The exit code is non-zero on any correctness miss.
See perfbench/README.md for the workloads and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("cdc", "query_catalog")

# Every workload reports every end-to-end metric. An operation is a
# mutation on the CDC workloads and a query on query_catalog.
E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}


def layer_units() -> dict[str, str]:
    from perfbench.catalog import BENCH_QUERIES

    return {
        "sources.latest_offset_ms": "ms",
        "sources.get_batch_ms": "ms",
        "streaming.query_planning_ms": "ms",
        "streaming.add_batch_ms": "ms",
        "streaming.checkpoint_ms": "ms",
        "streaming.trigger_wait_ms": "ms",
        "streaming.startup_s": "s",
        "runner.build_pipes_ms": "ms",
        "streaming.batches": "count",
        "streaming.rows_per_batch": "count",
        "sinks.encode_us_per_mutation": "us",
        "sinks.decode_us_per_mutation": "us",
        "sinks.wire_bytes_per_mutation": "bytes",
        "sinks.arrow_eval_python_nodes": "count",
        "sinks.dead_letter_rows": "count",
        "sinks.useful_ratio": "ratio",
        "sinks.twin_ms_per_batch": "ms",
        "cdc.produce_mutations_per_s": "1/s",
        "cdc.consume_mutations_per_s": "1/s",
        "live.generator_late_ms": "ms",
        "live.backlog_end": "count",
        "catalog.total_s": "s",
        "plans.construct_s": "s",
        "plans.eager_jobs": "count",
        "catalyst.plan_s": "s",
        "execution.execute_s": "s",
        "execution.jobs": "count",
        "execution.stages": "count",
        "execution.tasks": "count",
        "execution.shuffle_bytes": "bytes",
        "execution.spill_bytes": "bytes",
        **{f"query.{q}_s": "s" for q in BENCH_QUERIES},
        "memory.peak_rss_mb": "MB",
        "trace.overhead_pct": "%",
    }


def context(seed: int) -> dict:
    import pyspark

    from perfbench.harness import cores

    rev = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    return {
        "nproc": cores(),
        "loadavg_start": os.getloadavg(),
        "git_rev": rev,
        "pyspark": pyspark.__version__,
        "seed": seed,
    }


def run_workload(spark, recorder, tmp: str, args) -> dict:
    """Set up, measure untraced and, with --trace 1, measure again
    traced. Returns the set-up parts and both measurements."""
    from perfbench.harness import RssSampler, Spans

    spans = Spans()
    if args.workload == "cdc":
        from perfbench.cdc import Cdc

        w = Cdc(spark, recorder, tmp, args.seed, args.seconds)
        with RssSampler() as rss:
            prepare_s = w.prepare()
            warmup_s, attempted, failed = w.warmup()
            res = w.measure(traced=False)
        warmup_s += res["live_warmup_s"]
        traced = w.measure(traced=True, spans=spans) if args.trace else None
    else:
        from perfbench.catalog import Catalog

        w = Catalog(spark, tmp, args.seed)
        with RssSampler() as rss:
            prepare_s = w.prepare()
            warmup_s = w.warmup()
            res = w.measure(args.seconds, traced=False)
        traced = w.measure(args.seconds, traced=True, spans=spans) if args.trace else None
        attempted, failed = w.check()
    res["named"]["peak_rss_mb"] = (rss.peak_mb, "MB")
    res["detail"]["peak_rss_parts_mb"] = rss.peak_parts
    for r in (res, traced):
        if r is not None:
            attempted, failed = attempted + r["attempted"], failed + r["failed"]
    return {
        "prepare_s": prepare_s,
        "warmup_s": warmup_s,
        "res": res,
        "traced": traced,
        "attempted": attempted,
        "failed": failed,
        "spans": spans.items,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    # Fail before starting anything when the package under test is absent.
    sys.path.insert(0, ROOT)
    try:
        import mypipe_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2

    from perfbench import metrics
    from perfbench.harness import register_recorder, start_session, stop_session

    ctx = context(args.seed)
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=scratch)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(tmp)
        session_s = time.perf_counter() - t0
        recorder = register_recorder(spark)
        out = run_workload(spark, recorder, tmp, args)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass  # another run still uses it
    ctx["loadavg_end"] = os.getloadavg()

    res = out["res"]
    p50 = metrics.latency_percentile(res["samples"], 50)
    p90 = metrics.latency_percentile(res["samples"], 90)
    e2e = {
        "setup_s": session_s + out["prepare_s"] + out["warmup_s"],
        "throughput_per_s": res["throughput_per_s"],
        "latency_p50_ms": p50["value"],
        "latency_p90_ms": p90["value"],
    }
    lines = [(k, v, E2E_UNITS[k]) for k, v in e2e.items()]
    lines.append(("error_rate", metrics.error_rate(out["attempted"], out["failed"]), "ratio"))
    for q, s in (("p50", p50), ("p90", p90)):
        for k in ("samples", "batches", "batches_beyond"):
            lines.append((f"latency_{q}_{k}", s[k], "count"))
    lines += [(k, v, unit) for k, (v, unit) in res["named"].items()]
    record = {
        "workload": args.workload,
        "seconds": args.seconds,
        "context": ctx,
        "setup_parts_s": {
            "session": session_s, "prepare_median": out["prepare_s"], "warmup": out["warmup_s"],
        },
        "attempted": out["attempted"],
        "failed": out["failed"],
        "e2e": e2e,
        "latency_support": {"p50": p50, "p90": p90},
        "named": res["named"],
        "detail": res["detail"],
    }
    if args.trace:
        t = out["traced"]
        units = layer_units()
        layers = {k: 0.0 for k in units}  # layers this workload does not run stay 0
        layers.update(t["layers"])
        layers["memory.peak_rss_mb"] = res["named"]["peak_rss_mb"][0]
        layers["trace.overhead_pct"] = (
            100.0 * (t["headline_s"] - res["headline_s"]) / res["headline_s"]
        )
        record["layers"] = layers
        lines += [(k, v, units[k]) for k, v in layers.items()]
        reported = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        reported = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(os.path.join(out_dir, stem + "-spans.json"), "w") as f:
            json.dump(out["spans"], f)

    for name, value, unit in lines:
        print(f"{name} {value:.6g} {unit}")
    correct = out["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": reported,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
