"""In-memory span tracer that wraps the program's public functions.

The benchmark never edits ``workbench_spark``: for the traced run it
replaces the public functions and methods listed in ``TARGETS`` with
wrappers that open a span around the call, and restores the originals
afterwards. A function that another module imported by name is replaced
there too, so calls between layers are caught wherever they come from.

A span records (name, start, end, parent, op). The first dotted part of
a span name is its layer. A span's self time is its duration minus the
durations of its direct children; calls are sequential on the one client
thread, so children never overlap.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from types import ModuleType

# (module, attribute path, span name, counter name or None)
TARGETS = [
    ("workbench_spark.session", "get_spark", "session.get_spark", None),
    ("workbench_spark.session", "read_table", "session.read_table", None),
    ("workbench_spark.functions.athena_sql", "translate_athena_sql",
     "functions.athena_sql.translate", None),
    ("workbench_spark.api.data_source", "DataSource.query", "api.data_source.query", None),
    ("workbench_spark.api.data_source", "DataSource.onboard", "api.data_source.onboard", None),
    ("workbench_spark.api.data_source", "DataSource.pull_dataframe",
     "api.data_source.pull_dataframe", None),
    ("workbench_spark.api.data_source", "DataSource.sample", "api.data_source.sample", None),
    ("workbench_spark.api.data_source", "DataSource.value_counts",
     "api.data_source.value_counts", None),
    ("workbench_spark.api.data_source", "DataSource.descriptive_stats",
     "api.data_source.descriptive_stats", None),
    ("workbench_spark.api.feature_set", "FeatureSet.query", "api.feature_set.query", None),
    ("workbench_spark.api.feature_set", "FeatureSet.append", "api.feature_set.append", None),
    ("workbench_spark.api.feature_set", "FeatureSet.snapshot", "api.feature_set.snapshot", None),
    ("workbench_spark.api.model", "Model.pipeline", "api.model.pipeline_load", None),
    ("workbench_spark.api.model", "Endpoint.inference", "api.model.inference", None),
    ("workbench_spark.api.registry", "Registry.read_meta", "api.registry.read_meta",
     "registry_reads"),
    ("workbench_spark.api.registry", "Registry.write_meta", "api.registry.write_meta",
     "registry_writes"),
    ("workbench_spark.operators.eda", "column_stats", "operators.eda.column_stats", None),
    ("workbench_spark.operators.eda", "sample_rows", "operators.eda.sample_rows", None),
    ("workbench_spark.operators.eda", "outliers", "operators.eda.outliers", None),
    ("workbench_spark.operators.eda", "smart_sample", "operators.eda.smart_sample", None),
    ("workbench_spark.operators.eda", "value_counts", "operators.eda.value_counts", None),
    ("workbench_spark.operators.eda", "descriptive_stats",
     "operators.eda.descriptive_stats", None),
    ("workbench_spark.operators.metrics", "regression_metrics",
     "operators.metrics.regression_metrics", None),
    ("workbench_spark.operators.dedup", "minhash_lsh_pairs",
     "operators.dedup.minhash_lsh_pairs_call", None),
    ("workbench_spark.operators.similarity", "cosine_knn",
     "operators.similarity.cosine_knn_call", None),
    ("workbench_spark.operators.text", "bm25_search", "operators.text.bm25_search_call", None),
    ("workbench_spark.streaming.monitor", "capture_inference", "streaming.capture", None),
    ("workbench_spark.streaming.monitor", "check_drift", "streaming.check_drift", None),
    ("pyspark.sql.readwriter", "DataFrameReader.parquet", "spark.resolve", "reader_calls"),
    ("pyspark.sql.readwriter", "DataFrameReader.json", "spark.resolve", "reader_calls"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "sources.write", None),
    ("pyspark.sql.readwriter", "DataFrameWriter.json", "sources.write", None),
]

# the layer of a span is the first dotted part of its name
LAYERS = ("client", "api", "functions", "session", "operators", "queries",
          "streaming", "sources", "spark")


def data_files(path: str) -> dict[str, int]:
    """Data files (name -> size) under a Spark output directory."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")) and not f.endswith(".crc"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def new_data(path: str, seen) -> dict[str, int]:
    """Data files (name -> size) under path whose names are not in seen."""
    return {p: n for p, n in data_files(path).items() if p not in seen}


def text_lines(paths) -> int:
    """Lines in the given files: rows, for the JSON-lines files a capture writes."""
    lines = 0
    for p in paths:
        with open(p, "rb") as f:
            lines += sum(1 for _ in f)
    return lines


class Tracer:
    """Spans and counters of one traced run. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self.counts: Counter = Counter()
        self.op = -1
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None]

    def self_times(self) -> dict[str, float]:
        """Total self time per layer."""
        child = defaultdict(float)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0 and end is not None:
                child[parent] += end - start
        out = defaultdict(float)
        for i, (name, start, end, _, _) in enumerate(self.spans):
            if end is not None:
                out[name.split(".")[0]] += end - start - child[i]
        return dict(out)

    def children_named(self, parent_name: str, child_name: str) -> list[tuple[float, float]]:
        """(parent duration, summed duration of its direct children named child_name)."""
        kids = defaultdict(float)
        for name, start, end, parent, _ in self.spans:
            if name == child_name and parent >= 0:
                kids[parent] += end - start
        return [
            (s[2] - s[1], kids[i])
            for i, s in enumerate(self.spans)
            if s[0] == parent_name and s[2] is not None
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)

    # -- wrapping ---------------------------------------------------------
    def _wrapper(self, orig, span_name: str, counter: str | None):
        tracer = self
        if span_name == "sources.write":
            @functools.wraps(orig)
            def write(self_, path, *a, **k):
                before = data_files(path)
                with tracer.span(span_name):
                    out = orig(self_, path, *a, **k)
                tracer.counts["files_written"] += len(set(data_files(path)) - set(before))
                return out
            return write
        if span_name == "streaming.capture":
            @functools.wraps(orig)
            def capture(df, capture_dir, *a, **k):
                before = data_files(capture_dir)
                with tracer.span(span_name):
                    out = orig(df, capture_dir, *a, **k)
                new = new_data(capture_dir, before)
                tracer.counts["capture_calls"] += 1
                tracer.counts["capture_files"] += len(new)
                tracer.counts["capture_bytes"] += sum(new.values())
                tracer.counts["capture_rows"] += text_lines(new)
                return out
            return capture
        if span_name == "streaming.check_drift":
            @functools.wraps(orig)
            def drift(spark, capture_dir, *a, **k):
                tracer.counts["drift_calls"] += 1
                tracer.counts["drift_files_scanned"] += len(data_files(capture_dir))
                with tracer.span(span_name):
                    return orig(spark, capture_dir, *a, **k)
            return drift

        @functools.wraps(orig)
        def wrapper(*a, **k):
            if counter:
                tracer.counts[counter] += 1
            with tracer.span(span_name):
                return orig(*a, **k)
        return wrapper

    def install(self) -> None:
        """Replace every target with its traced wrapper."""
        for mod_name, path, span_name, counter in TARGETS:
            module = importlib.import_module(mod_name)
            owner: object = module
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            wrapped = self._wrapper(orig, span_name, counter)
            self._set(owner, attr, wrapped, orig)
            if isinstance(owner, ModuleType):
                # modules that did ``from <module> import <attr>``
                for other in list(sys.modules.values()):
                    if (
                        other is not owner
                        and getattr(other, "__name__", "").startswith("workbench_spark")
                        and other.__dict__.get(attr) is orig
                    ):
                        self._set(other, attr, wrapped, orig)
        self._wrap_init()

    def _wrap_init(self) -> None:
        """DataSource construction: 'ingest' with onboard=False, else 'construct'."""
        from workbench_spark.api.data_source import DataSource

        orig = DataSource.__dict__["__init__"]
        tracer = self

        @functools.wraps(orig)
        def init(self_, *a, **k):
            name = "api.data_source.construct" if k.get("onboard", True) else "api.data_source.ingest"
            with tracer.span(name):
                orig(self_, *a, **k)
        self._set(DataSource, "__init__", init, orig)

    def _set(self, owner, attr, new, orig) -> None:
        setattr(owner, attr, new)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


class JobCounter:
    """Exact Spark job/stage/task counts per operation via job groups."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.groups: list[str] = []

    def start(self, op: int, kind: str) -> None:
        group = f"perfbench-op-{op}"
        self.sc.setJobGroup(group, kind)
        self.groups.append(group)

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def totals(self) -> dict[str, int]:
        """Summed counts over every recorded operation. Call after the run,
        when the listener has caught up with the last jobs."""
        st = self.sc.statusTracker()
        out = Counter()
        for group in self.groups:
            for job in st.getJobIdsForGroup(group):
                info = st.getJobInfo(job)
                if info is None:
                    continue
                out["jobs"] += 1
                for stage in info.stageIds:
                    s = st.getStageInfo(stage)
                    if s is None:
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numCompletedTasks + s.numFailedTasks
                    out["failed_tasks"] += s.numFailedTasks
        return dict(out)
