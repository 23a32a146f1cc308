"""Tests for the benchmark's own code (generators, checker, span arithmetic).

    python -m pytest perfbench/tests -q
"""

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tests")]

import check  # noqa: E402
import gen  # noqa: E402
from run import tail  # noqa: E402
from spans import Recorder, Span, covered, self_times  # noqa: E402


def _same_columns(a, b):
    return (np.array_equal(a["date"], b["date"]) and a["collection"] == b["collection"]
            and a["bbox"] == b["bbox"])


def test_reference_columns_deterministic_per_seed():
    a = gen.reference_columns(5, 5000)
    assert _same_columns(a, gen.reference_columns(5, 5000))
    assert not _same_columns(a, gen.reference_columns(6, 5000))
    assert a["date"].dtype == np.dtype("datetime64[ms]")


def test_pipeline_tables_deterministic_per_seed():
    a = gen.pipeline_tables(2, 60, 40, 50)
    b = gen.pipeline_tables(2, 60, 40, 50)
    c = gen.pipeline_tables(3, 60, 40, 50)
    for name in a:
        assert a[name].equals(b[name])
    assert not a["documents"].equals(c["documents"])
    assert not a["embeddings"].equals(c["embeddings"])


def test_checksum_rejects_corrupted_result():
    cols = gen.reference_columns(1, 3000)
    dig = check.column_digests(cols)
    names = ["bbox", "collection", "date"]
    good = check.expected_checksum(dig, names)
    for corrupt in (
        lambda c: c["bbox"].__setitem__(17, c["bbox"][17] + " "),
        lambda c: c["collection"].__setitem__(0, "collection_z"),
        lambda c: c["date"].__setitem__(5, c["date"][5] + np.timedelta64(1, "ms")),
    ):
        bad = {k: (v.copy() if isinstance(v, np.ndarray) else list(v)) for k, v in cols.items()}
        corrupt(bad)
        assert check.expected_checksum(check.column_digests(bad), names) != good
    dropped = {k: v[1:] for k, v in cols.items()}
    assert check.expected_checksum(check.column_digests(dropped), names) != good


def test_group_checksum_counts_groups_on_values():
    cols = {"k": ["a", "b", "a", "c"], "d": np.array([1, 2, 1, 3], dtype="datetime64[ms]")}
    dig = check.column_digests(cols)
    n, _, _, total = check.expected_group_checksum(cols, dig, ["k", "d"])
    assert (n, total) == (3, 4)


def test_result_hash_is_order_independent_and_value_sensitive():
    rows = [(1, "a", 0.5), (2, "b", 1.25)]
    h = check.result_hash(["x", "y", "z"], rows)
    assert h == check.result_hash(["x", "y", "z"], rows[::-1])
    assert h != check.result_hash(["x", "y", "z"], [(1, "a", 0.5), (2, "b", 1.5)])
    assert h != check.result_hash(["x", "y", "z"], rows[:1])


def test_self_time_subtracts_covered_child_time_only():
    spans = [
        Span("root", 0.0, 10.0, None, 0),
        Span("a", 1.0, 3.0, 0, 0),
        Span("b", 2.0, 5.0, 0, 0),  # overlaps a: union [1, 5]
        Span("c", 7.0, 8.0, 0, 0),
        Span("a.1", 1.5, 2.5, 1, 0),  # grandchild: only a loses it
        Span("late", 9.5, 12.0, 0, 0),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 1 + 0.5))
    assert st[1] == pytest.approx(2 - 1)
    assert st[2] == pytest.approx(3)
    assert st[4] == pytest.approx(1)
    assert covered([(0, 1), (3, 4)], 0.5, 3.5) == pytest.approx(1.0)


def test_recorder_nests_spans_and_inherits_op():
    rec = Recorder(enabled=True)
    with rec.span("op", op=7):
        with rec.span("child"):
            with rec.span("grandchild"):
                pass
    names = [(s.name, s.parent, s.op) for s in rec.spans]
    assert names == [("op", None, 7), ("child", 0, 7), ("grandchild", 1, 7)]
    assert all(t >= 0 for t in self_times(rec.spans))
    off = Recorder(enabled=False)
    with off.span("op", op=1):
        pass
    assert off.spans == []


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(100)]
    assert tail(xs) == (89.0, 90.0, 10)
    assert tail(xs[:20]) == (9.0, 50.0, 10)
    assert tail(xs[:15]) == (7.0, 50.0, 7)
