"""``query_catalog`` workload: the catalog's headline queries
(``QueryDef.bench=True``), taken from ``plans.catalog.all_queries()``,
run through the noop sink on generated tables, and checked against
their DuckDB oracles outside the timed region."""

from __future__ import annotations

import math
import os
import statistics
import time

from . import tables
from .harness import Spans, cores, fits, job_group, job_group_stats
from .metrics import LatencySample

# The sf0.01 row counts: a sf0.1 pass (about 15 s warm and 36 s cold
# on 4 cores) leaves no room for several passes per run within the
# benchmark's time budget, and the catalog is fixed-overhead bound at
# both scales.
SCALE = 0.01
PREPARE_REPEATS = 3
MIN_PASSES = 2


def _bench_queries() -> dict:
    from mypipe_spark.plans.catalog import all_queries

    return {name: qd for name, qd in all_queries().items() if qd.bench}


BENCH_QUERIES = (
    "q_top_order_per_customer", "q1_pricing_summary", "q3_top_revenue_orders",
    "q5_nation_revenue", "cdc_latest_state", "cdc_sessionize", "cdc_wire_roundtrip",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh", "text_token_stats",
    "text_top_bigrams", "ann_topk_bruteforce", "q6_forecast_revenue", "q_asof_last_click",
)


def _normalize(rows) -> list[tuple]:
    """Order-insensitive rows with floats rounded to 6 places (the
    oracle-parity test's comparison)."""

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 6)
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v

    return sorted(
        (tuple(norm(v) for v in r) for r in rows),
        key=lambda r: tuple((x is None, str(x)) for x in r),
    )


class Catalog:
    def __init__(self, spark, tmp: str, seed: int) -> None:
        self.spark, self.tmp, self.seed = spark, tmp, seed
        self.queries = _bench_queries()
        if set(self.queries) != set(BENCH_QUERIES):
            raise RuntimeError(
                f"bench query set changed: {sorted(set(self.queries) ^ set(BENCH_QUERIES))}"
            )
        self.traced_runs = 0

    def prepare(self) -> float:
        """Generate the tables PREPARE_REPEATS times; median seconds."""
        times = []
        for i in range(PREPARE_REPEATS):
            t0 = time.perf_counter()
            d = os.path.join(self.tmp, f"tables{i}")
            tables.generate(d, self.seed, SCALE)
            times.append(time.perf_counter() - t0)
        self.dir = d
        return statistics.median(times)

    def _collect(self, name: str) -> tuple[list[str], list[tuple]]:
        df = self.queries[name].fn(self.spark, self.dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def warmup(self) -> float:
        """A cold pass that collects every query's rows for the oracle
        check, then an untimed noop pass: the first noop pass after the
        collect pass still ran about a fifth slower than later ones. Both
        run the queries concurrently, one per core; the cold pass is
        mostly driver-side compilation, which then overlaps."""
        from concurrent.futures import ThreadPoolExecutor

        t0 = time.perf_counter()
        self.queries[BENCH_QUERIES[0]].fn(self.spark, self.dir)  # loads the tables once
        with ThreadPoolExecutor(max_workers=cores()) as pool:
            rows = pool.map(self._collect, BENCH_QUERIES)
            self.results = dict(zip(BENCH_QUERIES, rows))
            list(pool.map(self._run_untraced, BENCH_QUERIES))
        return time.perf_counter() - t0

    def _run_untraced(self, name: str) -> float:
        t0 = time.perf_counter()
        df = self.queries[name].fn(self.spark, self.dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _run_traced(self, name: str, spans: Spans) -> dict:
        self.traced_runs += 1
        tag = f"{name}:{self.traced_runs}"
        with spans.span("query", query=name) as q:
            with job_group(self.spark, f"construct:{tag}"), spans.span("plans.construct", q["id"]):
                t0 = time.perf_counter()
                df = self.queries[name].fn(self.spark, self.dir)
                construct = time.perf_counter() - t0
            with spans.span("catalyst.plan", q["id"]):
                t0 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                plan = time.perf_counter() - t0
            with job_group(self.spark, f"execute:{tag}"), spans.span("execution.execute", q["id"]) as e:
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                execute = time.perf_counter() - t0
            stats = job_group_stats(self.spark, f"execute:{tag}")
            e.update(stats)
        return {
            "construct": construct,
            "plan": plan,
            "execute": execute,
            "total": construct + plan + execute,
            "eager_jobs": job_group_stats(self.spark, f"construct:{tag}")["jobs"],
            **stats,
        }

    def measure(self, seconds: float, traced: bool, spans: Spans | None = None) -> dict:
        """Whole passes over the catalog, at least MIN_PASSES and more while
        another fits in ``seconds``; each query's time is its median pass."""
        passes: list[dict] = []
        t0 = time.perf_counter()
        while len(passes) < MIN_PASSES or fits(t0, seconds, len(passes)):
            if traced:
                passes.append({n: self._run_traced(n, spans) for n in BENCH_QUERIES})
            else:
                passes.append({n: {"total": self._run_untraced(n)} for n in BENCH_QUERIES})
        per_query = {n: statistics.median(p[n]["total"] for p in passes) for n in BENCH_QUERIES}
        total = sum(per_query.values())
        out = {
            "throughput_per_s": len(BENCH_QUERIES) / total,
            # one sample per query: its median wall time
            "samples": [
                LatencySample(per_query[n] * 1000.0, 0.0, i) for i, n in enumerate(BENCH_QUERIES)
            ],
            "headline_s": total,
            "named": {"catalog_total_s": (total, "s"), "passes": (len(passes), "count")},
            "detail": {"pass_times": [{n: p[n]["total"] for n in BENCH_QUERIES} for p in passes]},
            "attempted": 0,
            "failed": 0,
        }
        if traced:
            def summed(key):
                return statistics.median(sum(p[n][key] for n in BENCH_QUERIES) for p in passes)

            last = passes[-1]

            def counted(key):
                return sum(last[n][key] for n in BENCH_QUERIES)

            out["layers"] = {
                "catalog.total_s": total,
                "plans.construct_s": summed("construct"),
                "plans.eager_jobs": counted("eager_jobs"),
                "catalyst.plan_s": summed("plan"),
                "execution.execute_s": summed("execute"),
                "execution.jobs": counted("jobs"),
                "execution.stages": counted("stages"),
                "execution.tasks": counted("tasks"),
                "execution.shuffle_bytes": counted("shuffle_bytes"),
                "execution.spill_bytes": counted("spill_bytes"),
                **{f"query.{n}_s": per_query[n] for n in BENCH_QUERIES},
            }
        return out

    def check(self) -> tuple[int, int]:
        """Every query's warm-up rows against its DuckDB oracle. Returns
        (attempted, failed); a query without an oracle is a miss, since
        every headline query has one."""
        import duckdb

        from mypipe_spark.plans.catalog import TABLE_NAMES

        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                path = os.path.join(self.dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.misses = []
            for name in BENCH_QUERIES:
                oracle = self.queries[name].oracle
                cols, rows = self.results[name]
                if oracle is None:
                    self.misses.append(name)
                    continue
                res = con.execute(oracle)
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
                if sorted(cols) != sorted(ocols):
                    self.misses.append(name)
                    continue
                sidx = [cols.index(c) for c in sorted(cols)]
                oidx = [ocols.index(c) for c in sorted(ocols)]
                if _normalize(tuple(r[i] for i in sidx) for r in rows) != _normalize(
                    tuple(r[i] for i in oidx) for r in orows
                ):
                    self.misses.append(name)
        finally:
            con.close()
        return len(BENCH_QUERIES), len(self.misses)
