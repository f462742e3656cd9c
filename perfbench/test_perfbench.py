"""Tests of the benchmark's own rules. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

They need no Spark session: the checks run on DuckDB answers and on
synthetic operation records.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
from oracle import DuckOracle, VerifyError, same_rows  # noqa: E402
from stats import Metrics, check_name, highest_supported, percentile, supported  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import InteractiveServing, Op, verify  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


# ------------------------------------------------------ percentile rule
def test_percentile_matches_inclusive_quantiles():
    rng = random.Random(7)
    for n in (2, 3, 10, 37, 100):
        xs = [rng.uniform(0, 10) for _ in range(n)]
        deciles = statistics.quantiles(xs, n=10, method="inclusive")
        assert percentile(xs, 90) == pytest.approx(deciles[8])
        assert percentile(xs, 50) == pytest.approx(statistics.median(xs))
    assert percentile([4.0], 90) == 4.0
    assert percentile([1.0, 2.0], 0) == 1.0 and percentile([1.0, 2.0], 100) == 2.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_sample_count_rule():
    # a percentile needs at least ten samples beyond it
    assert supported(20, 50) and not supported(19, 50)
    assert supported(100, 90) and not supported(99, 90)
    assert supported(1000, 99) and not supported(999, 99)
    assert highest_supported(9) is None
    assert highest_supported(20) == 50
    assert highest_supported(150) == 90
    assert highest_supported(10_000) == 99.9


# ---------------------------------------------------- metric-name grammar
def test_metric_names_follow_the_grammar():
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    names += [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert check_name(name) == name


@pytest.mark.parametrize("bad", ["", "_lead", ".lead", "has space", "a/b", "x" * 65, "é"])
def test_bad_metric_names_are_refused(bad):
    with pytest.raises(ValueError):
        Metrics().add(bad, 1.0, "s")


def test_metrics_refuse_duplicates_and_non_finite_values():
    m = Metrics()
    m.add("a.b_s", 1.0, "s")
    with pytest.raises(ValueError):
        m.add("a.b_s", 2.0, "s")
    with pytest.raises(ValueError):
        m.add("c", float("nan"), "s")
    with pytest.raises(ValueError):
        m.add("d", 1.0, "bad unit")


# ------------------------------------------- printed metrics match BENCHMARK.json
def _record(kind, cls, seconds, error=None):
    op = Op(kind, cls, 10, lambda: None, lambda r: None)
    return run.Record(op, seconds, error)


def _records():
    recs = [_record("sql.point", "primary", 0.1 * (i + 1)) for i in range(12)]
    return recs + [_record("feature_set.append", "append", 0.5),
                   _record("monitor.check_drift", "drift", 2.0)]


def test_untraced_run_prints_every_end_to_end_metric():
    m = run.end_to_end(_records(), [3.0, 1.0, 2.0], 0.5, failed=0, attempted=14)
    assert list(m.rows) == [x["name"] for x in BENCH["end_to_end"]]
    for x in BENCH["end_to_end"]:
        assert m.rows[x["name"]][1] == x["unit"]
        assert m.rows[x["name"]][0] > 0
    assert m.rows["setup_s"][0] == 2.5  # cold start + median set-up round
    assert m.rows["latency_p50_s"][0] == pytest.approx(0.65)


def test_traced_run_prints_every_per_layer_metric():
    m = run.per_layer(Tracer(True), {}, _records(), _records(), 1.5)
    assert list(m.rows) == [x["name"] for x in BENCH["per_layer"]]
    for x in BENCH["per_layer"]:
        assert m.rows[x["name"]][1] == x["unit"]
    assert m.rows["trace.overhead_ratio"][0] == pytest.approx(1.0)


def test_result_line_shape():
    m = Metrics()
    m.add("latency_p50_s", 0.25, "s")
    out = json.loads(m.result_line(attempted=3, failed=1))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is False and out["attempted"] == 3 and out["failed"] == 1
    assert out["metrics"] == {"latency_p50_s": {"value": 0.25, "unit": "s"}}


# --------------------------------------------------------- verification
@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    data = str(tmp_path_factory.mktemp("data"))
    datagen.write_tables(data, 0.001, seed=5)
    db = DuckOracle(data)
    yield db
    db.close()


def test_right_answer_passes(oracle):
    sql = "SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1"
    same_rows(oracle.query(sql).copy(), oracle.query(sql))


def test_corrupted_answer_fails(oracle):
    sql = "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC LIMIT 5"
    want = oracle.query(sql)
    bad = want.copy()
    bad.loc[2, "o_totalprice"] += 0.01
    with pytest.raises(VerifyError):
        same_rows(bad, want, ordered=True)
    with pytest.raises(VerifyError):
        same_rows(want.iloc[:4], want)
    with pytest.raises(VerifyError):
        same_rows(want.rename(columns={"o_totalprice": "price"}), want)
    swapped = want.iloc[[1, 0, 2, 3, 4]].reset_index(drop=True)
    same_rows(swapped, want)
    with pytest.raises(VerifyError):
        same_rows(swapped, want, ordered=True)


class _Ctx:
    tracer = Tracer(False)


def test_corrupted_answer_counts_as_failed(oracle):
    sql = "SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1"

    def corrupted():
        got = oracle.query(sql).copy()
        got.loc[0, "n"] += 1
        return got

    def check(got):
        same_rows(got, oracle.query(sql))

    def boom():
        raise RuntimeError("engine error")

    ops = [Op("ok", "primary", 1, lambda: oracle.query(sql), check),
           Op("bad", "primary", 1, corrupted, check),
           Op("raises", "primary", 1, boom, check),
           Op("append", "append", 1, lambda: None, lambda r: None),
           Op("drift", "drift", 1, lambda: None, lambda r: None)]
    recs = run.run_loop(_Ctx(), iter([ops]), seconds=0.0)
    assert [r.error is None for r in recs] == [True, False, False, True, True]
    failed = sum(r.error is not None for r in recs)
    m = run.end_to_end(recs, [1.0], 1.0, failed, len(recs))
    assert m.rows["ok_ratio"][0] == pytest.approx(0.6)
    assert json.loads(m.result_line(len(recs), failed))["correct"] is False


def test_descriptive_stats_check_needs_every_numeric_column(oracle):
    orders = oracle.query("SELECT * FROM orders")
    wl = InteractiveServing(SimpleNamespace(tables={"orders": orders}))
    wl.ds = {"orders": None}
    op = wl._describe(random.Random(1))
    cols = list(orders.select_dtypes("number").columns)
    x = orders[cols].astype("float64")
    good = pd.DataFrame({
        "column_name": cols, "min": x.min().to_numpy(), "q1": x.quantile(0.25).to_numpy(),
        "median": x.median().to_numpy(), "q3": x.quantile(0.75).to_numpy(),
        "max": x.max().to_numpy(), "mean": x.mean().to_numpy(), "stddev": x.std().to_numpy()})
    assert verify(op, good) is None
    assert verify(op, good.iloc[:0]) is not None  # no answer
    assert verify(op, good.iloc[1:]) is not None  # a column missing
    wrong = good.copy()
    wrong.loc[0, "mean"] += 1.0
    assert verify(op, wrong) is not None


# -------------------------------------------------------------- inputs
def test_inputs_depend_only_on_the_seed():
    a, b = datagen.build_tables(0.001, 3), datagen.build_tables(0.001, 3)
    c = datagen.build_tables(0.001, 4)
    for name in a:
        assert a[name].equals(b[name])
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows > 0 and a["orders"].num_rows == 1500


def test_every_lineitem_joins_an_order(oracle):
    orphans = oracle.query(
        "SELECT COUNT(*) AS n FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey")
    assert int(orphans["n"].iloc[0]) == 0
    assert isinstance(orphans, pd.DataFrame)
