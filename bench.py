#!/usr/bin/env python
"""Benchmark harness: runs the headline queries (QueryDef.bench=True)
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock over the headline set after a warmup
pass of the smallest query (JVM/codegen warm); per-query numbers are
the fastest of ``--repeat`` runs (default 5). The timed action is the
noop sink (round 11, guide §1.4 — every column of every row computed
and discarded; ``df.count()`` before that, which under-measured
queries whose measures prune above a count and over-measured top-k
plans — see OPTIMIZATION_r11.md for the same-host bridge numbers).

Adjudicability fields (round 7 — every reading carries the evidence
needed to separate regression from noise WITHOUT re-running):

- ``loadavg_start`` / ``loadavg_end``: raw 1-min load average around
  the run.
- ``timings``: per-query ALL repeat wall-clocks in run order, so the
  within-run spread (max/min per query) is visible next to the
  fastest-of-N summary.
- ``value_median``: sum of per-query medians — the noise-robust total
  beside the fastest-of-N ``value`` (which stays the like-for-like
  number of record, comparable to BENCH_r01..r06).

Host speed is not normalised here: compare readings only as same-host
paired runs. Streaming throughput and per-mutation latency, and the
per-layer split of each query, are measured by ``perfbench/``
(``--workload cdc`` / ``--workload query_catalog --trace 1``).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def main() -> int:
    repo = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, repo)
    from mypipe_spark.plans.catalog import all_queries
    from mypipe_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # fastest-of-5 by default: the first run of a query pays one-time
    # whole-stage-codegen (Janino) compilation of its expressions (and,
    # for the dedup plane, populating the shared shingle cache), and
    # this host shows ±30% run-to-run jitter — steady-state throughput
    # is the quantity being benchmarked, so take the best of 5.
    repeat = int(os.environ.get("BENCH_REPEAT", "5"))
    load_start = os.getloadavg()[0]
    spark = get_spark("mypipe-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = {name: qd for name, qd in all_queries().items() if qd.bench}

    # warmup: smallest bench query end-to-end (JIT, codegen, parquet
    # footers) through the same noop sink the timed loop uses
    warm = qs.get("dedup_exact") or next(iter(qs.values()))
    warm.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    per_query: dict[str, float] = {}
    timings: dict[str, list[float]] = {}
    for name, qd in sorted(qs.items()):
        runs: list[float] = []
        for _ in range(repeat):
            spark.sparkContext.setJobDescription(f"bench:{name}")
            t0 = time.perf_counter()
            df = qd.fn(spark, sf_dir)
            # Round 11 (guide §1.4): the timed action is the noop sink —
            # computes EVERY column of every row and discards it. The
            # previous action, df.count(), let Catalyst prune columns
            # above the count: q1's six decimal measures were never
            # computed (measured 0.30 s count vs 1.98 s noop at sf0.1),
            # while for top-k plans count() added work the query does
            # not have (ann_topk_bruteforce 1.68 s count vs 0.57 s
            # noop). Methodology bridge recorded in OPTIMIZATION_r11.md
            # (same-host count-timed value at the r11-open HEAD: 10.865).
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        timings[name] = runs
        per_query[name] = min(runs)

    total = round(sum(per_query.values()), 3)
    total_median = round(
        sum(statistics.median(r) for r in timings.values()), 3
    )
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    out = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "value_median": total_median,
        "timings": timings,
        "repeat": repeat,
        "loadavg_start": round(load_start, 2),
        "loadavg_end": round(os.getloadavg()[0], 2),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
