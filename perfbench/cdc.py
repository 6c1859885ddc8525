"""The ``cdc`` workload, driven through ``runner.build_pipes`` and
``run_pipes`` exactly as a user's config would be. It has two phases.

Backlog: a pre-landed multi-file changelog is drained in a few large
batches by the produce pipe (changelog consumer → include-event-condition
→ generic avro_ref wire → topic-template → kafka producer on the
``kafkafile`` twin); a consume pipe then reads the topic back (kafka
consumer, avro_ref, dead-letter-path → parquet).

Live: the same produce pipe tails a watched directory while a generator
thread renames pre-written segments into it on a fixed open-loop
schedule, below the backlog drain rate.
"""

from __future__ import annotations

import base64
import glob
import json
import os
import random
import statistics
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from . import metrics
from .harness import Spans, fits, progress_spans

MUTATION_OPS = ("insert", "update", "delete")
INCLUDED_DB = "mypipe"
OTHER_DB = "inventory"  # a tenth of the transactions; the condition drops them
CONDITION = f"database = '{INCLUDED_DB}'"
TOPIC = "mypipe_user_generic"
IMAGE_COLS = [f"{p}_{k}" for p in ("old", "new") for k in ("bytes", "integers", "strings", "longs")]

# Backlog: BACKLOG_FILES files of BACKLOG_TX transactions each, drained
# FILES_PER_TRIGGER files per microbatch.
BACKLOG_FILES = 8
BACKLOG_TX = 150
FILES_PER_TRIGGER = 4
# Live: one LIVE_TX-transaction segment due every LIVE_INTERVAL_S.
LIVE_TX = 10
LIVE_INTERVAL_S = 1.7
WARMUP_SEGMENTS = 1
# The backlog phase is one round (~8 s on 4 cores) whatever its share;
# latency needs the batches. At 24 s the live phase lands 11 segments of
# ~27 mutations: with 10 or fewer, p90 falls in the slowest batch of the
# pass; with 11, in the second slowest unless the slowest holds over a
# tenth of the mutations, so one stalled batch no longer sets it.
LIVE_SHARE = 0.78
PREPARE_REPEATS = 3


# -- inputs -----------------------------------------------------------------


def generate_events(seed: int, n_tx: int) -> list[dict]:
    """Seeded changelog events from the package's own generator; one
    transaction in ten is relabelled to another database so the
    include-event-condition has work to do."""
    from mypipe_spark.changelog import ChangeLogGenerator

    gen = ChangeLogGenerator(seed=seed)
    pick = random.Random(seed + 1)
    out: list[dict] = []
    for _ in range(n_tx):
        tx = gen.transaction()
        if pick.random() < 0.1:
            for ev in tx:
                ev["database"] = OTHER_DB
        out.extend(tx)
    return out


def _arrow_schema() -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    from mypipe_spark.model import CHANGE_EVENT_SCHEMA

    return to_arrow_schema(CHANGE_EVENT_SCHEMA)


def write_segments(events: list[dict], n_files: int, directory: str, prefix: str = "part") -> list[str]:
    """Split seq-ordered events into n_files contiguous parquet files."""
    os.makedirs(directory, exist_ok=True)
    table = pa.Table.from_pylist(events, schema=_arrow_schema())
    step = -(-len(events) // n_files)
    paths = []
    for i in range(n_files):
        path = os.path.join(directory, f"{prefix}-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), path)
        paths.append(path)
    return paths


def included_mutations(events: list[dict]) -> list[dict]:
    return [e for e in events if e["op"] in MUTATION_OPS and e["database"] == INCLUDED_DB]


def _freeze(m) -> tuple | None:
    if m is None:
        return None
    return tuple(sorted((k, bytes(v) if isinstance(v, (bytes, bytearray)) else v) for k, v in m.items()))


def mutation_key(row) -> tuple:
    """(op, txid, images): what a consumer must get back per mutation."""
    return (row["op"], row["txid"], *(_freeze(row[c]) for c in IMAGE_COLS))


def codec_record(e: dict) -> dict:
    """A changelog event in the shape ``avro_codec.encode_reference_record``
    takes: updates carry old_/new_ maps, inserts and deletes one plain
    image."""
    rec = {"database": e["database"], "table": e["table"], "tableId": e["table_id"], "txid": e["txid"]}
    kinds = ("bytes", "integers", "strings", "longs")
    if e["op"] == "update":
        rec.update({f"{p}_{k}": e[f"{p}_{k}"] for p in ("old", "new") for k in kinds})
    else:
        side = "new" if e["op"] == "insert" else "old"
        rec.update({k: e[f"{side}_{k}"] for k in kinds})
    return rec


# -- pipe configs -----------------------------------------------------------


def produce_config(src: str, broker: str, checkpoint: str, producer: dict | None = None) -> dict:
    return {
        "consumers": {
            "binlog": {"type": "changelog", "path": src, "max-files-per-trigger": FILES_PER_TRIGGER}
        },
        "pipes": {
            "produce": {
                "consumer": "binlog",
                "include-event-condition": CONDITION,
                "wire": {"flavor": "generic", "codec": "avro_ref"},
                "topic-template": "${database}_${table}_generic",
                "producer": producer or {"name": "kafka", "brokers": broker, "format": "kafkafile"},
                "checkpoint": checkpoint,
            }
        },
    }


def consume_config(broker: str, out: str, dead: str, checkpoint: str) -> dict:
    return {
        "consumers": {
            "topic": {
                "type": "kafka",
                "format": "kafkafile",
                "brokers": broker,
                "topics": TOPIC,
                "codec": "avro_ref",
            }
        },
        "pipes": {
            "consume": {
                "consumer": "topic",
                "dead-letter-path": dead,
                "producer": {"name": "parquet", "path": out},
                "checkpoint": checkpoint,
            }
        },
    }


def topic_frames(broker: str) -> list[bytes]:
    """Every record value committed to the topic on the wire twin."""
    frames = []
    for path in sorted(glob.glob(os.path.join(broker, TOPIC, "data-*.jsonl"))):
        with open(path) as f:
            frames.extend(base64.b64decode(json.loads(line)["v"]) for line in f)
    return frames


def frame_txid(frame: bytes) -> str | None:
    """txid of one generic avro_ref frame: [magic][mtype][schema id:2][payload]."""
    from mypipe_spark.model import MAGIC_TO_MUTATION
    from mypipe_spark.sinks.avro_codec import decode_reference_record

    return decode_reference_record(MAGIC_TO_MUTATION[frame[1]], frame[4:])["txid"]


def _parquet_rows(spark, path: str) -> list:
    if not glob.glob(os.path.join(path, "*.parquet")):
        return []
    return spark.read.parquet(path).collect()


def _plan_nodes(query, node: str) -> int:
    return query._jsq.explainInternal(False).count(node)


def _phase_median(events: list[dict], phases: tuple[str, ...]) -> float:
    vals = [sum(e["durationMs"].get(p, 0) for p in phases) for e in events if e["numInputRows"] > 0]
    return statistics.median(vals) if vals else 0.0


def _register_noop_producer() -> str:
    from mypipe_spark.sinks.producers import register_producer

    @register_producer("perfbench_noop")
    def _noop(df, options):
        return df.writeStream.format("noop")

    return "perfbench_noop"


# -- backlog ----------------------------------------------------------------


class Backlog:
    def __init__(self, spark, recorder, tmp: str, seed: int) -> None:
        self.spark, self.recorder, self.tmp, self.seed = spark, recorder, tmp, seed
        self.rounds = 0

    def prepare(self) -> float:
        """Generate and land the backlog PREPARE_REPEATS times; median seconds."""
        times = []
        for i in range(PREPARE_REPEATS):
            t0 = time.perf_counter()
            events = generate_events(self.seed, BACKLOG_FILES * BACKLOG_TX)
            src = os.path.join(self.tmp, f"backlog{i}")
            write_segments(events, BACKLOG_FILES, src)
            from mypipe_spark.changelog import stamp_increasing_mtimes

            stamp_increasing_mtimes(src)
            times.append(time.perf_counter() - t0)
        self.src = src
        self.expected = included_mutations(events)
        return statistics.median(times)

    def _round(self, producer: dict | None = None, consume: bool = True) -> dict:
        """Produce the backlog into a fresh topic and, unless told not to,
        consume it back; every pipe gets a fresh checkpoint."""
        from mypipe_spark.runner import build_pipes
        from mypipe_spark.streaming.pipe import run_pipes

        self.rounds += 1
        d = os.path.join(self.tmp, f"round{self.rounds}")
        broker = os.path.join(d, "broker")
        t0 = time.perf_counter()
        pipes = build_pipes(produce_config(self.src, broker, os.path.join(d, "ckpt_p"), producer))
        build_ms = (time.perf_counter() - t0) * 1000.0
        t0 = time.perf_counter()
        t_start = time.time()
        (q,) = run_pipes(self.spark, pipes)
        try:
            q.processAllAvailable()
            produce_s = time.perf_counter() - t0
            produce_plan = _plan_nodes(q, "ArrowEvalPython")
        finally:
            q.stop()
        res = {
            "build_ms": build_ms,
            "produce_s": produce_s,
            "produce_events": self.recorder.wait_for(q),
            "produce_start": t_start,
            "produce_plan_nodes": produce_plan,
            "broker": broker,
        }
        if not consume:
            return res
        out, dead = os.path.join(d, "out"), os.path.join(d, "dead")
        pipes = build_pipes(consume_config(broker, out, dead, os.path.join(d, "ckpt_c")))
        t0 = time.perf_counter()
        t_start = time.time()
        queries = run_pipes(self.spark, pipes)
        try:
            for cq in queries:
                cq.processAllAvailable()
            res["consume_s"] = time.perf_counter() - t0
            res["consume_plan_nodes"] = sum(_plan_nodes(cq, "ArrowEvalPython") for cq in queries)
        finally:
            for cq in queries:
                cq.stop()
        res["consume_events"] = [e for cq in queries for e in self.recorder.wait_for(cq)]
        res["consume_start"] = t_start
        res["out"], res["dead"] = out, dead
        return res

    def _check(self, r: dict, expected: list[dict]) -> tuple[int, int, dict]:
        """Compare what one round committed and consumed with the filtered
        source. Returns (attempted, failed, counts)."""
        frames = topic_frames(r["broker"])
        consumed = _parquet_rows(self.spark, r["out"])
        dead = _parquet_rows(self.spark, r["dead"])
        failed = max(
            metrics.failed_ops((mutation_key(e) for e in expected),
                               (mutation_key(row.asDict()) for row in consumed)),
            metrics.failed_ops((e["txid"] for e in expected), (frame_txid(f) for f in frames)),
        )
        counts = {
            "frames": len(frames),
            "wire_bytes": sum(len(f) for f in frames),
            "consumed": len(consumed),
            "dead": len(dead),
        }
        return len(expected), failed, counts

    def warmup(self) -> tuple[float, int, int]:
        """One full round, cold. After a smaller cold round the next round
        still ran a fifth to a half slower than the one after it."""
        t0 = time.perf_counter()
        r = self._round()
        elapsed = time.perf_counter() - t0
        attempted, failed, _ = self._check(r, self.expected)
        return elapsed, attempted, failed

    def measure(self, seconds: float, traced: bool, spans: Spans | None = None) -> dict:
        """Backlog rounds (fresh checkpoints and topic each) while another
        round fits in ``seconds``; rates are the median round's."""
        rounds, attempted, failed = [], 0, 0
        t0 = time.perf_counter()
        while not rounds or fits(t0, seconds, len(rounds)):
            r = self._round()
            a, f, counts = self._check(r, self.expected)
            r.update(counts)
            attempted, failed = attempted + a, failed + f
            rounds.append(r)
        n = len(self.expected)
        produce = statistics.median(n / r["produce_s"] for r in rounds)
        consume = statistics.median(n / r["consume_s"] for r in rounds)
        out = {
            "throughput_per_s": statistics.median(
                n / (r["produce_s"] + r["consume_s"]) for r in rounds
            ),
            "headline_s": statistics.median(r["produce_s"] + r["consume_s"] for r in rounds),
            "named": {
                "produce_mutations_per_s": (produce, "1/s"),
                "consume_mutations_per_s": (consume, "1/s"),
                "rounds": (len(rounds), "count"),
            },
            "attempted": attempted,
            "failed": failed,
        }
        if traced:
            out["layers"] = self._layers(rounds, spans)
            out["layers"]["cdc.produce_mutations_per_s"] = produce
            out["layers"]["cdc.consume_mutations_per_s"] = consume
        return out

    def _layers(self, rounds: list[dict], spans: Spans) -> dict:
        produce = [e for r in rounds for e in r["produce_events"]]
        for r in rounds:
            root = spans.add("round", r["produce_start"], r["consume_start"] + r["consume_s"], None)
            progress_spans(spans, r["produce_events"] + r["consume_events"], root)
        batches = [e for e in produce if e["numInputRows"] > 0]
        noop = self._round(producer={"name": _register_noop_producer()}, consume=False)
        noop_batches = [e for e in noop["produce_events"] if e["numInputRows"] > 0]
        add_kafka = statistics.mean(e["durationMs"]["addBatch"] for e in batches)
        add_noop = statistics.mean(e["durationMs"]["addBatch"] for e in noop_batches)
        records = [codec_record(e) for e in self.expected]
        ops = [e["op"] for e in self.expected]
        from mypipe_spark.sinks.avro_codec import decode_reference_record, encode_reference_record

        enc_times, dec_times = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            encoded = [encode_reference_record(op, rec) for op, rec in zip(ops, records)]
            enc_times.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            for op, b in zip(ops, encoded):
                decode_reference_record(op, b)
            dec_times.append(time.perf_counter() - t0)
        n = len(records)
        last = rounds[-1]
        return {
            "streaming.startup_s": statistics.median(
                _first_batch_start(r["produce_events"]) - r["produce_start"] for r in rounds
            ),
            "runner.build_pipes_ms": statistics.median(r["build_ms"] for r in rounds),
            "streaming.batches": len(batches) / len(rounds),
            "streaming.rows_per_batch": statistics.mean(e["numInputRows"] for e in batches),
            "sinks.encode_us_per_mutation": statistics.median(enc_times) / n * 1e6,
            "sinks.decode_us_per_mutation": statistics.median(dec_times) / n * 1e6,
            "sinks.wire_bytes_per_mutation": last["wire_bytes"] / max(last["frames"], 1),
            "sinks.arrow_eval_python_nodes": last["produce_plan_nodes"] + last["consume_plan_nodes"],
            "sinks.dead_letter_rows": last["dead"],
            "sinks.useful_ratio": last["consumed"] / max(last["frames"], 1),
            "sinks.twin_ms_per_batch": add_kafka - add_noop,
        }


def _read_source_log(ckpt: str) -> dict[str, int]:
    texts = []
    src_log = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src_log):
        if name.startswith("."):
            continue  # in-flight temp file
        try:
            with open(os.path.join(src_log, name)) as f:
                texts.append(f.read())
        except FileNotFoundError:
            continue  # compacted away while listing
    return metrics.parse_source_log(texts)


def _first_batch_start(events: list[dict]) -> float:
    return min(metrics.batch_windows(events).values())[0]


# -- live -------------------------------------------------------------------


class Live:
    def __init__(self, spark, recorder, tmp: str, seed: int, seconds: float) -> None:
        self.spark, self.recorder, self.tmp, self.seed = spark, recorder, tmp, seed
        self.n_segments = max(1, round(seconds / LIVE_INTERVAL_S))
        self.passes = 0

    def prepare(self) -> float:
        """Write warm-up and scheduled segments PREPARE_REPEATS times;
        median seconds. Segments wait in a staging dir until due."""
        times = []
        n = WARMUP_SEGMENTS + self.n_segments
        for i in range(PREPARE_REPEATS):
            t0 = time.perf_counter()
            events = generate_events(self.seed, n * LIVE_TX)
            staging = os.path.join(self.tmp, f"staging{i}")
            paths = write_segments(events, n, staging, prefix="seg")
            times.append(time.perf_counter() - t0)
        self.staging_paths = paths
        step = -(-len(events) // n)
        self.segment_mutations = [
            included_mutations(events[i * step:(i + 1) * step]) for i in range(n)
        ]
        return statistics.median(times)

    def run_pass(self, traced: bool, spans: Spans | None = None) -> dict:
        """Start a fresh produce pipe, land the warm-up segments one at a
        time, then the scheduled ones; drain, stop, and attribute."""
        from mypipe_spark.runner import build_pipes
        from mypipe_spark.streaming.pipe import run_pipes

        self.passes += 1
        d = os.path.join(self.tmp, f"live{self.passes}")
        watch, broker, ckpt = (os.path.join(d, x) for x in ("watch", "broker", "ckpt"))
        os.makedirs(watch)
        # each pass lands copies, so a second pass can reuse the staged files
        stage = os.path.join(d, "stage")
        os.makedirs(stage)
        segs = []
        for p in self.staging_paths:
            dst = os.path.join(stage, os.path.basename(p))
            with open(p, "rb") as fi, open(dst, "wb") as fo:
                fo.write(fi.read())
            segs.append(dst)

        t_setup = time.perf_counter()
        pipes = build_pipes(produce_config(watch, broker, ckpt))
        t_start = time.time()
        (q,) = run_pipes(self.spark, pipes)
        try:
            for i in range(WARMUP_SEGMENTS):
                os.rename(segs[i], os.path.join(watch, os.path.basename(segs[i])))
                _wait_committed(ckpt, i)
            warmup_s = time.perf_counter() - t_setup

            scheduled = segs[WARMUP_SEGMENTS:]
            landed: list[tuple[str, float, float]] = []
            t_first = time.time() + 0.2
            gen = threading.Thread(
                target=_land_on_schedule, args=(scheduled, watch, t_first, landed), daemon=True
            )
            gen.start()
            gen.join()
            backlog_end = _uncommitted(ckpt, [n for n, _, _ in landed])
            q.processAllAvailable()
        finally:
            q.stop()
        events = self.recorder.wait_for(q)

        seg_batch = _read_source_log(ckpt)
        windows = metrics.batch_windows(events)
        counts = {
            os.path.basename(p): len(m)
            for p, m in zip(self.staging_paths[WARMUP_SEGMENTS:], self.segment_mutations[WARMUP_SEGMENTS:])
        }
        samples = metrics.segment_latencies(
            [(name, due, counts[name]) for name, due, _ in landed], seg_batch, windows
        )

        landed_txids = [e["txid"] for m in self.segment_mutations for e in m]
        attempted = len(landed_txids)
        failed = metrics.failed_ops(landed_txids, (frame_txid(f) for f in topic_frames(broker)))

        out = {
            "samples": samples,
            "headline_s": statistics.median(x.latency_ms for x in samples) / 1000.0,
            "named": {
                "live_backlog_end": (backlog_end, "count"),
                "live_generator_late_ms": (
                    statistics.median((act - due) * 1000.0 for _, due, act in landed), "ms"),
            },
            "batches": [
                {"batch": b, "start": windows[b][0], "ms": (windows[b][1] - windows[b][0]) * 1000.0}
                for b in sorted(windows)
            ],
            "warmup_s": warmup_s,
            "attempted": attempted,
            "failed": failed,
        }
        if traced:
            root = spans.add("live_pass", t_start, time.time(), None)
            progress_spans(spans, events, root)
            for name, due, act in landed:
                spans.add("segment.land", due, act, root, segment=name, batch=seg_batch.get(name))
            live = [e for e in events if e["numInputRows"] > 0 and e["batchId"] >= WARMUP_SEGMENTS]
            out["layers"] = {
                "sources.latest_offset_ms": _phase_median(live, ("latestOffset",)),
                "sources.get_batch_ms": _phase_median(live, ("getBatch",)),
                "streaming.query_planning_ms": _phase_median(live, ("queryPlanning",)),
                "streaming.add_batch_ms": _phase_median(live, ("addBatch",)),
                "streaming.checkpoint_ms": _phase_median(live, ("walCommit", "commitOffsets")),
                "streaming.trigger_wait_ms": statistics.median(s.wait_ms for s in samples),
                "live.generator_late_ms": out["named"]["live_generator_late_ms"][0],
                "live.backlog_end": backlog_end,
            }
        return out


def _land_on_schedule(paths: list[str], watch: str, t_first: float, landed: list) -> None:
    """Open loop: segment i is due at t_first + i * LIVE_INTERVAL_S,
    whatever the pipe is doing; records (name, due, actual)."""
    for i, p in enumerate(paths):
        due = t_first + i * LIVE_INTERVAL_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = os.path.basename(p)
        os.rename(p, os.path.join(watch, name))
        landed.append((name, due, time.time()))


def _committed_batches(ckpt: str) -> set[int]:
    d = os.path.join(ckpt, "commits")
    if not os.path.isdir(d):
        return set()
    return {int(n) for n in os.listdir(d) if n.isdigit()}


def _wait_committed(ckpt: str, batch: int, timeout_s: float = 120.0) -> None:
    deadline = time.monotonic() + timeout_s
    while batch not in _committed_batches(ckpt):
        if time.monotonic() > deadline:
            raise TimeoutError(f"batch {batch} not committed in {timeout_s}s")
        time.sleep(0.02)


def _uncommitted(ckpt: str, names: list[str]) -> int:
    """Landed segments that no committed batch has read yet."""
    seg_batch = _read_source_log(ckpt)
    done = _committed_batches(ckpt)
    return sum(1 for n in names if seg_batch.get(n) not in done)


# -- the workload -------------------------------------------------------------


class Cdc:
    """The ``cdc`` workload: the backlog phase measures throughput, the
    live phase latency; the live phase gets LIVE_SHARE of the window."""

    def __init__(self, spark, recorder, tmp: str, seed: int, seconds: float) -> None:
        self.window = seconds * (1 - LIVE_SHARE)
        self.backlog = Backlog(spark, recorder, tmp, seed)
        self.live = Live(spark, recorder, tmp, seed, seconds * LIVE_SHARE)

    def prepare(self) -> float:
        return self.backlog.prepare() + self.live.prepare()

    def warmup(self) -> tuple[float, int, int]:
        return self.backlog.warmup()

    def measure(self, traced: bool, spans: Spans | None = None) -> dict:
        b = self.backlog.measure(self.window, traced, spans)
        live = self.live.run_pass(traced, spans)
        out = {
            "throughput_per_s": b["throughput_per_s"],
            "samples": live["samples"],
            "headline_s": b["headline_s"] + live["headline_s"],
            "named": {**b["named"], **live["named"]},
            "live_warmup_s": live["warmup_s"],
            "detail": {"live_batches": live["batches"]},
            "attempted": b["attempted"] + live["attempted"],
            "failed": b["failed"] + live["failed"],
        }
        if traced:
            # per-batch phases and waits come from the live phase (the
            # backlog rounds' phases are in the spans); batch counts, sinks
            # and start-up from the backlog rounds
            out["layers"] = {**b["layers"], **live["layers"]}
        return out
