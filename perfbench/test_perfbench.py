"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench -q

The pure tests run in well under a second; the lake test starts a Spark
session (about 30 s).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys

import numpy as np
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import core, inputs  # noqa: E402


# ------------------------------------------------------------ percentiles


def test_tail_percentile_needs_ten_samples_beyond():
    assert core.tail_percentile(list(range(19))) is None
    assert core.tail_percentile(list(range(20)))[0] == 50.0
    assert core.tail_percentile(list(range(99)))[0] == 50.0
    assert core.tail_percentile(list(range(100)))[0] == 90.0
    assert core.tail_percentile(list(range(200)))[0] == 95.0
    assert core.tail_percentile(list(range(1000)))[0] == 99.0
    assert core.tail_percentile(list(range(10_000)))[0] == 99.9


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0]
    for p in (0, 25, 50, 90, 95, 100):
        assert core.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_spread_matches_statistics_quantiles():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    med, q1, q3 = core.spread(xs)
    assert (q1, med, q3) == tuple(statistics.quantiles(xs, n=4))


# ------------------------------------------------------------------ spans


def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent, "op": 0}


def test_self_time_subtracts_children_once():
    spans = [
        _span("op.x", 0.0, 10.0),
        _span("a", 1.0, 4.0, 0),
        _span("b", 3.0, 6.0, 0),   # overlaps a: the union 1..6 counts once
        _span("c", 8.0, 12.0, 0),  # runs past its parent: clipped to 8..10
        _span("d", 2.0, 3.0, 1),
    ]
    st = core.self_times(spans)
    assert st == pytest.approx([10.0 - 5.0 - 2.0, 3.0 - 1.0, 3.0, 4.0, 1.0])
    by_name = core.self_time_by_name(spans)
    assert by_name["op.x"] == pytest.approx(3.0)


def test_tracer_nests_per_thread_and_skips_when_disabled():
    tr = core.Tracer(enabled=False)
    with tr.span("op.x", op_id=1):
        pass
    assert tr.spans == []
    tr = core.Tracer(enabled=True)
    with tr.span("op.x", op_id=7):
        with tr.span("engine.query"):
            pass
    assert [s["name"] for s in tr.spans] == ["op.x", "engine.query"]
    assert tr.spans[1]["parent"] == 0 and tr.spans[1]["op"] == 7
    assert tr.durations("engine.query", "op.x") and not tr.durations("engine.query", "op.y")


# --------------------------------------------------------------- checksum


def test_checksum_ignores_row_and_column_order_and_non_numeric_columns():
    t = pa.table({"k": pa.array([3, 1, 2], pa.int64()),
                  "x": [0.5, 1.5, 2.5],
                  "s": ["a", "b", "c"]})
    shuffled = pa.table({"x": [2.5, 0.5, 1.5], "k": pa.array([2, 3, 1], pa.int32()),
                         "s": ["zz", "yy", "xx"]})
    assert inputs.checksum(t) == inputs.checksum(shuffled)


def test_checksum_detects_changed_duplicated_or_dropped_rows():
    t = pa.table({"k": [1, 2, 3], "x": [0.5, 1.5, 2.5]})
    base = inputs.checksum(t)
    assert inputs.checksum(pa.table({"k": [1, 2, 3], "x": [0.5, 1.5, 2.6]})) != base
    assert inputs.checksum(pa.table({"k": [1, 2, 2], "x": [0.5, 1.5, 1.5]})) != base
    assert inputs.checksum(t.slice(0, 2))[0] == 2
    # Swapping values between columns of a row changes the hash.
    assert inputs.checksum(pa.table({"a": [1], "b": [2]})) != \
        inputs.checksum(pa.table({"a": [2], "b": [1]}))


def test_oracle_expect_matches_a_direct_filter():
    table, absent = inputs.make_lineitem(5, 2_000)
    oracle = inputs.LineitemOracle(table)
    keys = [int(k) for k in oracle.present_keys()[:5]] + [int(absent[0])]
    min_day = inputs.FIRST_DAY + 1000
    keys_col = table.column("l_orderkey").to_numpy()
    days = table.column("l_shipdate").cast(pa.int32()).to_numpy()
    mask = np.isin(keys_col, keys) & (days >= min_day)
    want = inputs.checksum(table.filter(pa.array(mask)).select(list(inputs.LOOKUP_COLUMNS)))
    assert oracle.expect(keys, min_day, inputs.LOOKUP_COLUMNS) == want
    lo, hi = int(np.percentile(keys_col, 20)), int(np.median(keys_col))
    n, dmin, dmax = oracle.expect_agg(lo, hi)
    sel = (keys_col >= lo) & (keys_col < hi)
    assert n == int(sel.sum())
    assert dmin == inputs.day(days[sel].min()) and dmax == inputs.day(days[sel].max())
    assert oracle.expect_agg(hi, hi) == (0, None, None)


def test_inputs_repeat_for_a_seed_and_differ_across_seeds():
    a, _ = inputs.make_lineitem(1, 1_000)
    b, _ = inputs.make_lineitem(1, 1_000)
    c, _ = inputs.make_lineitem(2, 1_000)
    assert a.equals(b) and not a.equals(c)
    assert inputs.make_corpus(1, 200, 4).equals(inputs.make_corpus(1, 200, 4))


def test_point_ops_mix_lookups_with_range_aggregates():
    table, absent = inputs.make_lineitem(3, 4_000)
    oracle = inputs.LineitemOracle(table)
    ops = inputs.point_ops(3, oracle, absent, int(table.column("l_orderkey").to_numpy().max()) + 1, 64)
    kinds = [op.kind for op in ops]
    assert kinds.count("agg") == 64 // inputs.AGG_EVERY
    assert all(1 <= len(op.keys) <= 8 for op in ops if op.kind == "lookup")
    assert all(op.expected[0] > 0 for op in ops if op.kind == "agg")


# ------------------------------------------------------- error counting


@pytest.fixture(scope="module")
def tiny_session(tmp_path_factory):
    from perfbench import run
    from perfbench.workloads import Session

    workdir = str(tmp_path_factory.mktemp("perfbench"))
    run.configure_environment(workdir)
    sess = Session(workdir, core.Tracer(enabled=False))
    yield sess
    sess.stop()
    shutil.rmtree(workdir, ignore_errors=True)


@pytest.fixture
def sess(tiny_session, tmp_path):
    """The shared session, writing into a directory of this test's own."""
    tiny_session.workdir = str(tmp_path)
    yield tiny_session
    tiny_session.tracer.enabled = False


def test_error_rate_counts_a_wrong_result_on_a_tiny_lake(sess):
    from perfbench.workloads import PointLookup

    wl = PointLookup(sess, 11, inputs.TINY)
    wl.setup()
    assert wl.warmup.failed == 0 and set(wl.warmup.latencies) == {"lookup", "agg"}
    clean = wl.window(1.0)
    assert clean.attempted > 0 and clean.failed == 0

    # Corrupt the expected result of the next op: exactly that op fails.
    nxt = wl.ops[wl.cursor[0]]
    nxt.expected = (nxt.expected[0] + 1, *nxt.expected[1:])
    bad = wl.window(1.0)
    assert bad.failed == 1 and bad.attempted >= 1
    assert "want" in bad.errors[0]


@pytest.mark.parametrize("name", ["point_lookup", "corpus_clean"])
def test_every_per_layer_metric_applies_to_every_workload(sess, name):
    """Each per-layer metric in the result line is measured, not a 0
    standing in for 'does not apply'."""
    from perfbench import run
    from perfbench.workloads import WORKLOADS

    sess.tracer.enabled = True
    wl = WORKLOADS[name](sess, 13, inputs.TINY)
    wl.setup()
    win = wl.window(1.0)
    assert win.failed == 0, win.errors
    layers, extra = run.per_layer(wl, win, core)
    assert list(layers) == list(run.PER_LAYER)
    assert all(v > 0 for v in layers.values()), layers
    assert all(v > 0 for name, (v, _) in extra.items() if not name.startswith("self.")), extra
