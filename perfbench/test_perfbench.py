"""Checks of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""
from __future__ import annotations

import filecmp
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import workloads  # noqa: E402


def _write(tmp_path, seed: int, tag: str) -> list[str]:
    feed = inputs.make_feed(seed, 6)
    base = tmp_path / f"{tag}.parquet"
    feed_dir = tmp_path / f"{tag}-feed"
    inputs.write_stream_inputs(feed, str(base), str(feed_dir))
    return [str(base)] + sorted(str(p) for p in feed_dir.iterdir())


def test_same_seed_same_bytes(tmp_path):
    a, b = _write(tmp_path, 7, "a"), _write(tmp_path, 7, "b")
    assert len(a) == len(b) == 7
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    c = _write(tmp_path, 8, "c")
    assert not filecmp.cmp(a[1], c[1], shallow=False)


def test_seeded_orders_and_mixes():
    ids = [f"q{i}" for i in range(12)]
    assert inputs.query_order(ids, 3, 2) == inputs.query_order(ids, 3, 2)
    assert inputs.query_order(ids, 3, 2) != inputs.query_order(ids, 4, 2)
    assert sorted(inputs.query_order(ids, 3, 2)) == sorted(ids)
    m = inputs.make_feed(3, 4).base
    assert inputs.read_mix(3, m, 50) == inputs.read_mix(3, m, 50)


def test_base_tables_are_deterministic():
    a = inputs._base_tables(np.random.default_rng(inputs.BASE_SEED))
    b = inputs._base_tables(np.random.default_rng(inputs.BASE_SEED))
    assert all(a[t].equals(b[t]) for t in a)
    assert sorted(a) == sorted(["region", "nation", "customer", "supplier",
                                "part", "orders", "lineitem", "events",
                                "documents", "embeddings"])


def test_feed_has_one_change_per_key_per_file():
    feed = inputs.make_feed(5, 10)
    for ch in feed.changes:
        assert len(np.unique(ch.key)) == len(ch.key)
        assert (ch.key[ch.op == "I"] >= inputs.BASE_KEYS).all()


class FakeTable:
    """Serves a model's state the way TxLogTable's read calls would."""

    def __init__(self, feed, model, version, n_changes):
        self.model, self.version, self.n_changes = model, version, n_changes
        self.old = feed.replay(0, 0)[0]

    def snapshot(self, version=None):
        return type("S", (), {"version": self.version, "files": {}})()

    def read(self, version=None, key_between=None, where_between=None):
        m = self.model if version is None else self.old
        if where_between is not None:
            _, lo, hi = where_between
            ids = np.flatnonzero(m.live & (m.amount >= lo) & (m.amount <= hi))
        elif key_between is not None:
            ids = np.array([key_between[0]])
        else:
            ids = None
        return _Frame(m.frame(ids))

    def table_changes(self, a, b):
        return _Frame(pd.DataFrame({"x": range(self.n_changes)}))


class _Frame:
    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf.copy()

    def count(self):
        return len(self.pdf)


def _sink_case():
    feed = inputs.make_feed(9, 3)
    final, _ = feed.replay(3, 0)
    base = feed.base
    both = base.live & final.live
    n_changes = int((base.live != final.live).sum()
                    + (both & (base.seq != final.seq)).sum())
    return feed, final, n_changes


def test_sink_check_accepts_the_model():
    feed, final, n = _sink_case()
    assert workloads.check_sink(FakeTable(feed, final, 3, n), feed,
                                final, 3) == []


@pytest.mark.parametrize("tamper", ["value", "row", "changes", "version"])
def test_sink_check_catches_tampering(tamper):
    feed, final, n = _sink_case()
    served = final.copy()
    version = 3
    if tamper == "value":
        k = int(np.flatnonzero(served.live)[17])
        served.amount[k] += 0.01
    elif tamper == "row":
        served.live[int(np.flatnonzero(served.live)[5])] = False
    elif tamper == "changes":
        n += 1
    else:
        version = 2
    problems = workloads.check_sink(FakeTable(feed, served, version, n),
                                    feed, final, 3)
    assert problems


def test_read_check_catches_a_wrong_row():
    feed, final, n = _sink_case()
    reads = inputs.read_mix(9, final, 30)
    tracer = workloads.tr.Tracer(False)
    ok, _ = workloads.check_reads(FakeTable(feed, final, 3, n), reads,
                                  final, feed.base, 0, tracer)
    assert ok == []
    bad = final.copy()
    k = next(int(r.lo) for r in reads if r.kind == "point")
    bad.note[k] += 1
    problems, _ = workloads.check_reads(FakeTable(feed, bad, 3, n), reads,
                                        final, feed.base, 0, tracer)
    assert problems


def test_analytics_check_catches_a_wrong_result():
    from cdc_plg_spark.testing import assert_frames_match

    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert_frames_match(want.iloc[::-1].copy(), want, name="same rows")
    bad = want.copy()
    bad.loc[1, "v"] = 1.5000001
    with pytest.raises(AssertionError):
        assert_frames_match(bad, want, name="tampered")


def test_tail_has_ten_samples_beyond_it():
    lat = [float(i) for i in range(100)]
    value, pct = workloads.tail(lat)
    assert sum(x > value for x in lat) == 10 and pct == 90.0
    value, _ = workloads.tail([float(i) for i in range(15)])
    assert value == 7.0      # 22 or fewer samples: the upper median
