"""The benchmark's metric math on synthetic inputs (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import metrics
from perfbench.metrics import LatencySample


def _samples(per_batch: list[tuple[float, int]]) -> list[LatencySample]:
    """(latency_ms, mutations) per batch → per-mutation samples."""
    out = []
    for batch, (lat, n) in enumerate(per_batch):
        out += [LatencySample(lat, 0.0, batch)] * n
    return out


def test_percentile_interpolates_like_numpy():
    assert metrics.percentile([1, 2, 3, 4], 50) == 2.5
    assert metrics.percentile([10], 90) == 10
    assert metrics.percentile([0, 10], 90) == pytest.approx(9.0)
    with pytest.raises(ValueError):
        metrics.percentile([], 50)


def test_percentile_support_counts_batches_not_mutations():
    # one huge batch above the p90 value: many mutations, one batch
    samples = _samples([(100.0, 1)] * 19 + [(900.0, 1000)])
    p = metrics.latency_percentile(samples, 50)
    assert p["samples"] == 1019 and p["batches"] == 20
    assert p["value"] == 900.0
    assert p["batches_beyond"] == 0 and not p["supported"]


def test_percentile_supported_with_ten_batches_beyond():
    samples = _samples([(float(i), 1) for i in range(100)])
    p90 = metrics.latency_percentile(samples, 90)
    assert p90["value"] == pytest.approx(89.1)
    assert p90["batches_beyond"] == 10 and p90["supported"]
    # one batch fewer beyond the percentile and the rule fails
    p91 = metrics.latency_percentile(samples, 91)
    assert p91["batches_beyond"] == 9 and not p91["supported"]


def _log(batch: int, names: list[str], entry_batches: list[int] | None = None) -> str:
    lines = ["v1"]
    for name, b in zip(names, entry_batches or [batch] * len(names)):
        lines.append(json.dumps(
            {"path": f"file:///w/{name}", "timestamp": 0, "batchId": b, "action": "add"}
        ))
    return "\n".join(lines) + "\n"


def test_source_log_uses_each_entry_batch_id_across_compaction():
    # batch 9's log file is the compacted one and carries batches 0..9
    compact = _log(9, [f"seg-{i}.parquet" for i in range(10)], list(range(10)))
    texts = [compact, _log(10, ["seg-10.parquet", "seg-11.parquet"])]
    got = metrics.parse_source_log(texts)
    assert got["seg-0.parquet"] == 0
    assert got["seg-7.parquet"] == 7
    assert got["seg-11.parquet"] == 10


def _progress(batch: int, iso: str, trigger_ms: int) -> dict:
    return {"batchId": batch, "timestamp": iso, "durationMs": {"triggerExecution": trigger_ms}}


def test_segment_latency_joins_due_time_to_batch_end():
    windows = metrics.batch_windows([
        _progress(3, "2026-01-01T00:00:01.000Z", 500),
        _progress(4, "2026-01-01T00:00:02.000Z", 1250),
    ])
    t0 = windows[3][0] - 1.0  # epoch of 00:00:00
    seg_batch = {"a.parquet": 3, "b.parquet": 4, "c.parquet": 4}
    segments = [("a.parquet", t0 + 0.9, 2), ("b.parquet", t0 + 1.5, 1), ("c.parquet", t0 + 1.9, 3)]
    samples = metrics.segment_latencies(segments, seg_batch, windows)
    assert len(samples) == 6
    a, b, c = samples[0], samples[2], samples[3]
    assert a.batch_id == 3
    assert a.latency_ms == pytest.approx(600.0)  # ends 1.5, due 0.9
    assert a.wait_ms == pytest.approx(100.0)  # starts 1.0
    assert b.latency_ms == pytest.approx(1750.0)  # ends 3.25, due 1.5
    assert c.latency_ms == pytest.approx(1350.0) and c.wait_ms == pytest.approx(100.0)


def test_segment_latency_refuses_a_segment_no_batch_read():
    windows = metrics.batch_windows([_progress(0, "2026-01-01T00:00:01Z", 10)])
    with pytest.raises(KeyError):
        metrics.segment_latencies([("lost.parquet", 0.0, 1)], {}, windows)


def test_error_rate_counts_failed_over_attempted():
    assert metrics.error_rate(15, 0) == 0.0
    assert metrics.error_rate(8, 2) == 0.25
    with pytest.raises(ValueError):
        metrics.error_rate(0, 0)
    with pytest.raises(ValueError):
        metrics.error_rate(5, 6)


def test_failed_ops_counts_missing_extra_and_duplicate_deliveries():
    assert metrics.failed_ops(["a", "b", "b"], ["b", "a", "b"]) == 0
    assert metrics.failed_ops(["a", "b", "c"], ["a", "b"]) == 1  # lost
    assert metrics.failed_ops(["a", "b"], ["a", "b", "b"]) == 1  # delivered twice
    assert metrics.failed_ops(["a", "b"], ["a", "x"]) == 2  # wrong content
    assert metrics.failed_ops(["a"], ["x", "y", "z"]) == 1  # capped at expected


def test_relative_iqr_matches_statistics_quantiles():
    vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, q3 = 11.75, 17.25  # exclusive method: positions 2.75 and 8.25
    assert metrics.relative_iqr(vals) == pytest.approx((q3 - q1) / 14.5)
