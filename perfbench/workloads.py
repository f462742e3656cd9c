"""The workloads: their set-up, their seeded operation stream and the
check of every answer.

Each workload drives ``workbench_spark`` only through its public API and
is a single closed-loop client: the next operation starts when the last
one returned. An operation has a class:

- ``primary``: the requests the workload exists for (latency, ops/s, rows/s);
- ``append``: ``FeatureSet.append`` of a seeded batch, then a read-back query;
- ``drift``: ``check_drift`` over a capture directory.

Operations come in rounds. A round holds a fixed list of operation kinds
in a fixed order; the seed drives their parameters (keys, thresholds,
slices, appended values), so every run measures the same mix whatever the
seed and however many rounds fit in the time.
"""

from __future__ import annotations

import math
import os
import random
import traceback
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from oracle import DuckOracle, VerifyError, expect, same_rows
from tracing import new_data, text_lines

ISO = "%Y-%m-%dT%H:%M:%S.000Z"


@dataclass
class Op:
    kind: str
    cls: str  # primary | append | drift
    rows: int  # input rows the operation consumes
    fn: Callable[[], Any]
    check: Callable[[Any], None]
    metric: str | None = None  # per-layer metric that times the whole operation


class Ctx:
    """What the workloads share: session, paths, tracer, oracle, inputs."""

    def __init__(self, spark, data_dir: str, tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer
        self.oracle = DuckOracle(data_dir)
        self.tables = {
            t: pq.read_table(os.path.join(data_dir, f"{t}.parquet")).to_pandas()
            for t in ("orders", "lineitem", "events", "embeddings", "documents",
                      "customer", "supplier", "part", "nation", "region")
        }
        self.n = {t: len(df) for t, df in self.tables.items()}

    def path(self, table: str) -> str:
        return os.path.join(self.data_dir, f"{table}.parquet")

    def act(self, df) -> pd.DataFrame:
        """The action that materialises a returned frame on the client."""
        with self.tracer.span("spark.action"):
            return df.toPandas()


# ----------------------------------------------------------------- shared ops
class LineFeatures:
    """A FeatureSet over the first ROWS lineitem rows, keyed by row_id: the
    feature lookups and the seeded appends of both workloads."""

    FEATURES = ["l_quantity", "l_discount", "l_tax", "l_partkey"]
    TARGET = "l_extendedprice"
    ROWS = 2000

    def __init__(self, ctx: Ctx, warehouse: str):
        from workbench_spark.api import FeatureSet

        self.ctx = ctx
        frame = ctx.tables["lineitem"][self.FEATURES + [self.TARGET]].iloc[: self.ROWS].copy()
        frame.insert(0, "row_id", np.arange(len(frame), dtype="int64"))
        frame["event_time"] = "2024-01-01T00:00:00.000Z"
        self.fs = FeatureSet(ctx.spark.createDataFrame(frame), "li_features",
                             id_column="row_id", event_time_column="event_time",
                             spark=ctx.spark, warehouse=warehouse)
        self.state = frame.set_index("row_id")
        self.version = 0

    def query_op(self, rng: random.Random) -> Op:
        ctx, fs = self.ctx, self.fs
        keys = rng.sample(range(self.ROWS), 3)
        sql = ("SELECT row_id, l_quantity, l_partkey FROM li_features WHERE row_id IN ("
               + ", ".join(map(str, keys)) + ")")

        def check(got):
            same_rows(got, self.state.loc[keys, ["l_quantity", "l_partkey"]].reset_index())

        return Op("feature_set.query", "primary", self.ROWS, lambda: ctx.act(fs.query(sql)), check)

    def append_op(self, rng: random.Random) -> Op:
        ctx, fs = self.ctx, self.fs
        keys = rng.sample(range(self.ROWS), 5)
        self.version += 1
        when = pd.Timestamp("2024-02-01") + pd.Timedelta(seconds=self.version)
        rows = self.state.loc[keys].reset_index()
        rows["l_quantity"] = [float(rng.randrange(1, 51)) for _ in keys]
        rows["event_time"] = when.strftime(ISO)
        sql = ("SELECT row_id, l_quantity FROM li_features WHERE row_id IN ("
               + ", ".join(map(str, keys)) + ")")

        def run():
            fs.append(ctx.spark.createDataFrame(rows))
            return ctx.act(fs.query(sql))

        def check(got):
            self.state.loc[keys, "l_quantity"] = rows["l_quantity"].to_numpy()
            same_rows(got, rows[["row_id", "l_quantity"]])

        return Op("feature_set.append", "append", 5, run, check)


class Capture:
    """A capture directory, the rows it should hold and the drift check of
    its ``column`` against a baseline frame with the same column."""

    def __init__(self, ctx: Ctx, directory: str, column: str, baseline, baseline_rows: int,
                 hi: float):
        self.ctx, self.dir, self.column, self.hi = ctx, directory, column, hi
        self.baseline, self.baseline_rows = baseline, baseline_rows
        self.rows = 0
        self.seen: set[str] = set()

    def grown(self) -> int:
        """Rows added to the directory since the last call."""
        new = new_data(self.dir, self.seen)
        added = text_lines(new)
        self.seen |= set(new)
        self.rows += added
        return added

    def drift_op(self) -> Op:
        from workbench_spark.streaming.monitor import check_drift

        ctx = self.ctx

        def run():
            return check_drift(ctx.spark, self.dir, self.baseline, self.column, 0.0, self.hi)

        def check(got):
            expect(got["captured_rows"] == self.rows,
                   f"captured_rows {got['captured_rows']} != {self.rows}")
            for k in ("psi", "ks"):
                expect(got[k] is not None and math.isfinite(got[k]) and got[k] >= 0, f"bad {k}")

        return Op("monitor.check_drift", "drift", self.rows + self.baseline_rows, run, check)


# ------------------------------------------------------- interactive_serving
class InteractiveServing:
    """One closed-loop client that waits on every reply: a notebook or
    dashboard user issuing small Athena-dialect queries, feature lookups
    and EDA calls against three DataSources, and an application sending
    100-row requests to a deployed endpoint with full data capture. A round
    holds the ten interactive kinds, two inferences, two feature appends
    with read-back and one drift check over the growing capture. The first
    round warms every kind up and is checked but not timed."""

    name = "interactive_serving"
    warm_rounds = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def prepare(self, warehouse: str) -> None:
        """Train the model to deploy, once per run: the regressor exists
        before the service starts, like the input tables."""
        lf = LineFeatures(self.ctx, warehouse)
        lf.fs.to_model(name="li_model", target=lf.TARGET, features=lf.FEATURES, algo="linear")
        self.model_warehouse = warehouse

    def setup(self, warehouse: str) -> None:
        from workbench_spark.api import DataSource, Model

        ctx = self.ctx
        self.ds = {
            t: DataSource(ctx.path(t), t, spark=ctx.spark, warehouse=warehouse, onboard=False)
            for t in ("orders", "lineitem", "events")
        }
        self.ds["orders"].set_display_columns(["o_orderkey", "o_custkey", "o_totalprice"])
        self.ds["orders"].create_view("computation", ["o_totalprice", "o_orderpriority"])
        self.ds["lineitem"].set_display_columns(["l_orderkey", "l_quantity", "l_extendedprice"])
        self.ds["lineitem"].create_view("computation", ["l_quantity", "l_discount", "l_tax"])
        self.ds["events"].set_display_columns(["event_id", "user_id", "event_type"])
        self.ds["events"].create_view("computation", ["value"])
        self.features = lf = LineFeatures(ctx, warehouse)
        model = Model("li_model", spark=ctx.spark, warehouse=self.model_warehouse)
        self.endpoint = model.to_endpoint()
        self.endpoint.monitor().enable_data_capture(100)
        # the drift baseline is the target distribution the model was trained on
        trained = lf.state[[lf.TARGET]].rename(columns={lf.TARGET: "prediction"})
        self.capture = Capture(ctx, os.path.join(model.registry.artifact_dir(self.endpoint.name),
                                                 "capture"),
                               "prediction", ctx.spark.createDataFrame(trained), len(trained),
                               110_000.0)

    def rounds(self, rng: random.Random):
        # The order is fixed, so every run measures the same mix at the same
        # warmth; the seed drives keys, thresholds and slices.
        fs, cap = self.features, self.capture
        while True:
            yield [self._sql_point(rng), self._sql_groupby(rng), self._inference(rng),
                   self._sql_topk(rng), self._sql_join(rng), fs.query_op(rng),
                   fs.append_op(rng), self._sql_tablesample(rng), self._pull(rng),
                   self._inference(rng), self._sample(rng), self._value_counts(rng),
                   fs.append_op(rng), self._describe(rng), cap.drift_op()]

    def _inference(self, rng):
        ctx, ep, cap, lf = self.ctx, self.endpoint, self.capture, self.features
        li = ctx.tables["lineitem"]
        start = rng.randrange(len(li) - 100)
        rows = li.iloc[start:start + 100][lf.FEATURES + [lf.TARGET]]

        def run():
            res = ep.inference(ctx.spark.createDataFrame(rows), capture=True)
            return ctx.act(res.df), res.metrics

        def check(got):
            preds, metrics = got
            added = cap.grown()
            expect(len(preds) == 100, f"inference returned {len(preds)} rows")
            p = preds["prediction"].to_numpy(dtype="float64")
            expect(bool(np.isfinite(p).all()), "non-finite prediction")
            missing = {"rmse", "mae", "medae", "r2", "spearman", "support"} - set(metrics)
            expect(not missing, f"metric keys missing: {sorted(missing)}")
            expect(int(metrics["support"]) == 100, f"support {metrics['support']}")
            expect(added == 100, f"capture grew by {added} rows, not 100")

        return Op("endpoint.inference", "primary", 100, run, check)

    def _sql(self, kind: str, table: str, sql: str, rows: int, ordered: bool = False) -> Op:
        ctx, ds = self.ctx, self.ds[table]

        def check(got):
            same_rows(got, ctx.oracle.query(sql), ordered=ordered)

        return Op(kind, "primary", rows, lambda: ctx.act(ds.query(sql)), check)

    def _sql_point(self, rng):
        k = rng.randrange(self.ctx.n["orders"])
        sql = ('SELECT "o_orderkey", o_custkey, o_totalprice, o_orderpriority '
               f"FROM orders WHERE o_orderkey = {k}")
        return self._sql("sql.point", "orders", sql, self.ctx.n["orders"])

    def _sql_groupby(self, rng):
        disc = rng.choice([0.02, 0.04, 0.06, 0.08])
        year = rng.randrange(1995, 2001)
        sql = ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
               "MAX(l_extendedprice) AS max_price FROM lineitem "
               f"WHERE l_discount <= {disc} AND l_shipdate >= TIMESTAMP '{year}-01-01 00:00:00' "
               "GROUP BY l_returnflag, l_linestatus")
        return self._sql("sql.groupby", "lineitem", sql, self.ctx.n["lineitem"])

    def _sql_topk(self, rng):
        year = rng.randrange(1995, 2001)
        k = rng.choice([5, 10, 20])
        sql = ("SELECT o_orderkey, o_totalprice FROM orders "
               f"WHERE o_orderdate >= DATE '{year}-06-01' "
               f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}")
        return self._sql("sql.topk", "orders", sql, self.ctx.n["orders"], ordered=True)

    def _sql_join(self, rng):
        lo = rng.randrange(self.ctx.n["customer"] - 100)
        sql = ("SELECT o.o_orderpriority, COUNT(*) AS n, SUM(l.l_quantity) AS qty "
               "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
               f"WHERE o.o_custkey BETWEEN {lo} AND {lo + 99} GROUP BY o.o_orderpriority")
        return self._sql("sql.join", "lineitem", sql,
                         self.ctx.n["lineitem"] + self.ctx.n["orders"])

    def _sql_tablesample(self, rng):
        pct = rng.choice([5, 10, 20])
        sql = f"SELECT COUNT(*) AS n FROM events TABLESAMPLE BERNOULLI ({pct})"
        n = self.ctx.n["events"]
        ds = self.ds["events"]

        def check(got):
            k = int(got["n"].iloc[0])
            mean, sd = n * pct / 100, math.sqrt(n * pct / 100 * (1 - pct / 100))
            expect(abs(k - mean) <= 6 * sd + 5, f"TABLESAMPLE kept {k} of {n} at {pct}%")

        return Op("sql.tablesample", "primary", n, lambda: self.ctx.act(ds.query(sql)), check)

    # each kind reads one fixed table so every round does the same work;
    # the seed picks keys, columns and sizes within it
    def _pull(self, rng):
        t = "lineitem"
        ds, cols = self.ds[t], list(self.ctx.tables[t].columns)

        def check(got):
            expect(len(got) == 1000, f"pull_dataframe returned {len(got)} rows")
            expect(list(got.columns) == cols, "pull_dataframe columns differ")

        return Op("data_source.pull", "primary", 1000,
                  lambda: self.ctx.act(ds.pull_dataframe(1000)), check)

    def _sample(self, rng):
        t = "events"
        rows = rng.choice([50, 100, 200])
        ds, table = self.ds[t], self.ctx.tables[t]
        key = table.columns[0]

        def check(got):
            expect(0 < len(got) <= rows, f"sample({rows}) returned {len(got)} rows")
            expect(list(got.columns) == list(table.columns), "sample columns differ")
            expect(bool(got[key].isin(table[key]).all()), "sample rows not in the table")

        return Op("data_source.sample", "primary", len(table),
                  lambda: self.ctx.act(ds.sample(rows)), check)

    def _value_counts(self, rng):
        t, col = "orders", rng.choice(["o_orderpriority", "o_orderstatus"])
        ds, ctx = self.ds[t], self.ctx
        sql = f"SELECT CAST({col} AS VARCHAR) AS value, COUNT(*) AS count FROM {t} GROUP BY 1"

        def check(got):
            same_rows(got, ctx.oracle.query(sql))

        return Op("data_source.value_counts", "primary", ctx.n[t],
                  lambda: ctx.act(ds.value_counts(col)), check)

    def _describe(self, rng):
        t = "orders"
        ds, table = self.ds[t], self.ctx.tables[t]
        numeric = set(table.select_dtypes("number").columns)

        def check(got):
            expect(set(got["column_name"]) == numeric and len(got) == len(numeric),
                   f"descriptive_stats columns {sorted(got['column_name'])} != {sorted(numeric)}")
            by_col = got.set_index("column_name")
            for c in by_col.index:
                x = table[c].astype("float64")
                r = by_col.loc[c]
                expect(abs(r["min"] - x.min()) <= 1e-6 and abs(r["max"] - x.max()) <= 1e-6,
                       f"descriptive_stats min/max of {c}")
                expect(abs(r["mean"] - x.mean()) <= 1e-6 * max(1.0, abs(x.mean())),
                       f"descriptive_stats mean of {c}")
                expect(r["min"] <= r["q1"] <= r["median"] <= r["q3"] <= r["max"],
                       f"descriptive_stats quartiles of {c} out of order")

        return Op("data_source.descriptive_stats", "primary", len(table),
                  lambda: self.ctx.act(ds.descriptive_stats(exact=False)), check)


# ----------------------------------------------------------- batch_pipeline
# the registry entries a pass runs, with the tables each one scans
BATCH_QUERIES = {
    "q3": ("q3_top_revenue_orders", ("customer", "orders", "lineitem")),
    "q9": ("q9_product_type_profit", ("lineitem", "part", "supplier", "orders", "nation")),
    "q18": ("q18_large_orders", ("orders", "lineitem")),
    "w_sessionize_events": ("w_sessionize_events", ("events",)),
    "similarity.knn_cosine": ("knn_cosine_bruteforce", ("embeddings",)),
    "text.bm25_topk": ("text_bm25_topk", ("documents",)),
}


class BatchPipeline:
    """Sequential passes of ingest, onboarding and executor-heavy queries
    and operators, as a scheduled batch job runs them."""

    name = "batch_pipeline"
    warm_rounds = 0  # every run measures one cold pass, as a batch job pays it

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.passes = 0
        self.previous: dict[str, pd.DataFrame] = {}

    def prepare(self, warehouse: str) -> None:
        """Nothing to prepare: a batch job builds what it needs."""

    def setup(self, warehouse: str) -> None:
        from pyspark.sql import functions as F

        from workbench_spark.streaming.monitor import capture_inference

        ctx = self.ctx
        self.warehouse = warehouse
        self.features = LineFeatures(ctx, warehouse)
        # the monitored output: every tenth order total, captured once
        orders = ctx.spark.read.parquet(ctx.path("orders"))
        self.capture = Capture(ctx, os.path.join(warehouse, "order_capture"), "value",
                               orders.select(F.col("o_totalprice").alias("value")),
                               ctx.n["orders"], 510_000.0)
        totals = ctx.spark.read.parquet(ctx.path("orders")).filter(
            F.col("o_orderkey") % 10 == 0).select(F.col("o_totalprice").alias("value"))
        capture_inference(totals, self.capture.dir)
        self.capture.grown()

    def rounds(self, rng: random.Random):
        # a batch job runs its steps in a fixed order; the seed drives the
        # appended rows. Three feature refreshes sit between the stages, so
        # each run has a median of them; the drift check closes the pass.
        while True:
            self.passes += 1
            q = {metric: self._registry(metric, entry, tables)
                 for metric, (entry, tables) in BATCH_QUERIES.items()}
            fs = self.features
            yield [self._onboard(), q["q3"], q["q9"], q["q18"], fs.append_op(rng),
                   self._minhash(), q["similarity.knn_cosine"], fs.append_op(rng),
                   q["w_sessionize_events"], q["text.bm25_topk"], fs.append_op(rng),
                   self.capture.drift_op()]

    def _rows(self, tables) -> int:
        return sum(self.ctx.n[t] for t in tables)

    def _stable(self, key: str, got: pd.DataFrame) -> None:
        """The same answer as the previous pass of this run."""
        if key in self.previous:
            same_rows(got, self.previous[key])
        self.previous[key] = got

    def _onboard(self):
        from workbench_spark.api import DataSource

        ctx = self.ctx
        name = f"orders_pass{self.passes}"
        n = ctx.n["orders"]

        def run():
            return DataSource(ctx.path("orders"), name, spark=ctx.spark,
                              warehouse=self.warehouse, onboard=True)

        def check(ds):
            stats = ds.cached_stats()
            expect(stats.get("num_rows") == n, f"onboard num_rows {stats.get('num_rows')}")
            expect(ds.ready(), "onboarded DataSource not ready")
            expect(set(stats.get("column_stats", {})) >= set(ctx.tables["orders"].columns),
                   "column_stats misses columns")

        return Op("data_source.onboard", "primary", n, run, check)

    def _registry(self, metric: str, entry: str, tables) -> Op:
        from workbench_spark.queries import oracle_sql, queries

        ctx = self.ctx
        fn, sql = queries()[entry], oracle_sql()[entry]
        layer = "queries" if metric.startswith(("q", "w_")) else "operators"

        def run():
            with ctx.tracer.span(f"{layer}.{metric}"):
                df = fn(ctx.spark, ctx.data_dir)
            return ctx.act(df)

        def check(got):
            same_rows(got, ctx.oracle.query(sql))

        return Op(entry, "primary", self._rows(tables), run, check, f"{layer}.{metric}")

    def _minhash(self):
        from workbench_spark.operators.dedup import minhash_lsh_pairs
        from workbench_spark.session import read_table

        ctx = self.ctx

        def run():
            # production setting: 16 hashes / 4 bands, persisted signatures
            docs = read_table(ctx.spark, ctx.data_dir, "documents")
            return ctx.act(minhash_lsh_pairs(docs, n_hashes=16, bands=4, verify_threshold=0.5,
                                             persist_signatures=True))

        def check(got):
            expect(list(got.columns) == ["id_a", "id_b", "est_jaccard"], "minhash columns")
            expect(bool((got["id_a"] < got["id_b"]).all()), "minhash pair not ordered")
            expect(not got.duplicated(["id_a", "id_b"]).any(), "minhash duplicate pair")
            est = got["est_jaccard"].to_numpy()
            expect(bool(((est >= 0.5) & (est <= 1.0)).all()), "minhash estimate out of range")
            expect(bool(np.allclose(est * 16, np.round(est * 16))), "minhash estimate off grid")
            self._stable("minhash", got)

        return Op("dedup.minhash_lsh_pairs", "primary", ctx.n["documents"], run, check,
                  "operators.dedup.minhash_lsh_pairs")


WORKLOADS = {w.name: w for w in (InteractiveServing, BatchPipeline)}


def verify(op: Op, result) -> str | None:
    """None when the answer is right, else the reason it is wrong. An answer
    the check cannot even read (a missing column, say) is wrong too."""
    try:
        op.check(result)
    except VerifyError as e:
        return str(e)
    except Exception:
        return traceback.format_exc(limit=3)
    return None
