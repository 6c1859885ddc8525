"""Metric math for the benchmark, kept free of Spark so it can be tested
on synthetic inputs.

Latency samples are per mutation, but every mutation a microbatch
commits shares that batch's end time, so a percentile is only as well
supported as the number of distinct *batches* above it.
"""

from __future__ import annotations

import json
import statistics
from collections import Counter
from datetime import datetime
from typing import Iterable, NamedTuple

MIN_BATCHES_BEYOND = 10


class LatencySample(NamedTuple):
    """One mutation's latency, attributed to the batch that committed it."""

    latency_ms: float
    wait_ms: float
    batch_id: int


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default), q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def batches_beyond(samples: Iterable[LatencySample], value: float) -> int:
    """Distinct batches holding at least one sample strictly above value."""
    return len({s.batch_id for s in samples if s.latency_ms > value})


def latency_percentile(samples: list[LatencySample], q: float) -> dict:
    """The q-th percentile of the latency samples with its support: the
    sample and batch counts, and whether at least MIN_BATCHES_BEYOND
    batches lie beyond it (the rule for a percentile the sample can
    carry)."""
    value = percentile([s.latency_ms for s in samples], q)
    beyond = batches_beyond(samples, value)
    return {
        "value": value,
        "samples": len(samples),
        "batches": len({s.batch_id for s in samples}),
        "batches_beyond": beyond,
        "supported": beyond >= MIN_BATCHES_BEYOND,
    }


def error_rate(attempted: int, failed: int) -> float:
    """Failed or incorrect operations over operations attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def failed_ops(expected: Iterable, delivered: Iterable) -> int:
    """Operations not delivered exactly once: each expected item missing,
    and each extra or duplicate delivery, compared as multisets; capped
    at the number expected so it can serve as a failure count."""
    want, got = Counter(expected), Counter(delivered)
    return min(sum(want.values()), sum(((want - got) + (got - want)).values()))


def parse_source_log(texts: Iterable[str]) -> dict[str, int]:
    """File-source checkpoint log (``<checkpoint>/sources/0/*``) → file
    name → the batch that read it.

    Every 10th log file is a ``.compact`` file that carries the entries
    of all earlier batches, so the batch comes from each entry's own
    ``batchId`` field, never from the log file's name."""
    out: dict[str, int] = {}
    for text in texts:
        for line in text.splitlines():
            if not line.startswith("{"):
                continue  # the "v1" version header
            entry = json.loads(line)
            name = entry["path"].rstrip("/").rsplit("/", 1)[-1]
            out[name] = int(entry["batchId"])
    return out


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def batch_windows(progress: Iterable[dict]) -> dict[int, tuple[float, float]]:
    """Progress events → batchId → (start, end) in epoch seconds. Start is
    the progress ``timestamp`` (trigger start); end adds the batch's
    ``triggerExecution`` duration. Checkpoint file mtimes are not used:
    they have one-second resolution on common filesystems."""
    out = {}
    for p in progress:
        start = _epoch_s(p["timestamp"])
        out[int(p["batchId"])] = (
            start,
            start + p["durationMs"]["triggerExecution"] / 1000.0,
        )
    return out


def segment_latencies(
    segments: Iterable[tuple[str, float, int]],
    segment_batch: dict[str, int],
    windows: dict[int, tuple[float, float]],
) -> list[LatencySample]:
    """Join each landed segment (name, due time, mutation count) to the
    batch that read it; every mutation of the segment is due when the
    segment was due and committed when that batch ended.

    Raises KeyError for a segment no batch read or a batch with no
    progress event: the caller drains the query first, so either is a
    lost segment, not a late one."""
    out: list[LatencySample] = []
    for name, due, n_mutations in segments:
        batch = segment_batch[name]
        start, end = windows[batch]
        sample = LatencySample((end - due) * 1000.0, (start - due) * 1000.0, batch)
        out.extend([sample] * n_mutations)
    return out


def relative_iqr(values: list[float]) -> float:
    """Quartile distance over median, with statistics.quantiles' default
    (exclusive) method."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
