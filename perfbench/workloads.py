"""The benchmark's workloads: one homogeneous, closed-loop op type each.

Each workload generates its input from the seed in ``setup``, runs one op
per ``op`` call through the engine's public functions, checks each op's
output (untimed), and in a traced run names the layer spans of an op and
derives the per-layer metrics from them.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import statistics
import time
from typing import Any

import corpus
import logtree
from spans import Job, Span, Tracer, count_exchanges, scan_files

METRICS = (("ns_per_op", "N"), ("allocs_per_op", "A"), ("bytes_per_op", "B"), ("mb_per_s", "M"))


def _sum(jobs: list[Job], attr: str, spans: set[int]) -> float:
    return sum(getattr(j, attr) for j in jobs if j.span in spans)


def _ids(spans: list[Span], *names: str) -> set[int]:
    return {s.id for s in spans if s.name in names}


def _call(tracer: Tracer | None, name: str, fn, *args):
    return tracer.call(name, fn, *args) if tracer else fn(*args)


def _ms(spans: list[Span], *names: str) -> float:
    return sum(s.ms for s in spans if s.name in names)


class Logtree:
    """Each op is one pass of the paper's pipeline: a cold
    ``pipeline.run_pipeline(tree, fresh_out_dir)`` (list, read, parse,
    last-writer-wins dedup, per-test JSON, catalog), then ``views``
    plot-page compare views over the fact table stored in setup with
    ``serving.lake.write_fact_partitioned``. A compare view is two
    ``pipeline.point_lookup`` calls aligned on ``run_date`` by
    ``operators.compare.align_series`` over all four metrics, collected."""

    name = "logtree"
    warmup = 4
    timed = 5
    views = 1
    # 36 nightly dates x 12 whitelisted packages x 8 tests (~475 files,
    # ~5.8k lines), the reference's many-small-files shape. More than 32 date
    # dirs, so Spark lists them with a parallel listing job.
    tree_dates = 36
    tree_tests = 8

    def __init__(self, spark: Any, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.outs: dict[int, str] = {}
        self.read_dfs: dict[int, Any] = {}
        self.tracer: Tracer | None = None
        self.view_s: dict[int, list[float]] = {}
        self.charts: dict[int, list[Any]] = {}
        self.rows: dict[int, int] = {}

    def setup(self) -> dict:
        from benchviz_spark.serving.lake import write_fact_partitioned
        from benchviz_spark.sources.bench_logs import build_fact_table

        self.tree = logtree.generate(
            os.path.join(self.work, "benchSamples"), self.seed, self.tree_dates, self.tree_tests
        )
        lake = os.path.join(self.work, "lake", "bench_results")
        write_fact_partitioned(build_fact_table(self.spark, self.tree.root), lake)
        self.fact = self.spark.read.parquet(lake)
        rng = random.Random(self.seed)
        keys = sorted(self.tree.docs)
        self.pairs = [
            [tuple(rng.sample(keys, 2)) for _ in range(self.views)]
            for _ in range(self.warmup + self.timed)
        ]
        parquet = [f for _, _, fs in os.walk(lake) for f in fs if f.endswith(".parquet")]
        return {
            "files": self.tree.files,
            "lines": self.tree.lines,
            "bytes": self.tree.bytes,
            "fact_rows": sum(len(d) for d in self.tree.docs.values()),
            "fact_files": len(parquet),
        }

    def extras(self, timed: list[int], p50_s: float) -> dict[str, tuple[float, str]]:
        views = [v for i in timed for v in self.view_s.get(i, [])]
        return {
            "lines_per_s": (self.tree.lines / p50_s, "lines/s"),
            "view_p50_ms": (statistics.median(views) * 1000, "ms"),
        }

    def instrument(self, tracer: Tracer) -> None:
        from benchviz_spark import pipeline
        from benchviz_spark.operators import compare
        from benchviz_spark.sources import bench_logs

        self.tracer = tracer
        read_bench_lines = bench_logs.read_bench_lines

        def keep_read(*args, **kwargs):  # keeps the scan for its file count
            self.read_dfs[tracer.op] = read_bench_lines(*args, **kwargs)
            return self.read_dfs[tracer.op]

        bench_logs.read_bench_lines = keep_read
        tracer.wrap(bench_logs, "read_bench_lines", "bench_logs.read_bench_lines")
        tracer.wrap(bench_logs, "parse_bench_lines", "bench_logs.parse_bench_lines")
        tracer.wrap(bench_logs, "dedup_last_write_wins", "bench_logs.dedup_last_write_wins")
        for attr in ("build_fact_table", "per_test_json", "write_serving_tree", "catalog_json"):
            tracer.wrap(pipeline, attr, f"pipeline.{attr}")
        tracer.wrap(pipeline, "point_lookup", "pipeline.point_lookup")
        tracer.wrap(compare, "align_series", "compare.align_series")

    def op(self, i: int) -> list[list]:
        from benchviz_spark import pipeline

        self.outs[i] = os.path.join(self.work, "out", str(i))
        _call(
            self.tracer,
            "pipeline.run_pipeline",
            pipeline.run_pipeline,
            self.spark,
            self.tree.root,
            self.outs[i],
        )
        charts, self.view_s[i] = [], []
        for pair in self.pairs[i]:
            t0 = time.perf_counter()
            charts.append(self._compare(i, pair))
            self.view_s[i].append(time.perf_counter() - t0)
        self.rows[i] = sum(len(rows) for rows in charts)
        return charts

    def _compare(self, i: int, pair: tuple) -> list:
        from benchviz_spark import pipeline
        from benchviz_spark.operators import compare

        (pkg_a, test_a), (pkg_b, test_b) = pair
        chart = compare.align_series(
            pipeline.point_lookup(self.fact, pkg_a, test_a),
            pipeline.point_lookup(self.fact, pkg_b, test_b),
            "run_date",
        )
        rows = _call(self.tracer, "compare.collect", chart.collect)
        if self.tracer:  # its plan that ran gives the files read, after the op
            self.charts.setdefault(i, []).append(chart)
        return rows

    def check_op(self, i: int, charts: list[list]) -> list[str]:
        """Each chart must hold one row per date of either test, with each
        side's four metrics from the model and nulls where it has no run.
        The served JSON tree is checked after the timed phase."""
        errors = []
        for pair, rows in zip(self.pairs[i], charts):
            a, b = (self.tree.docs[k] for k in pair)
            want = {}
            for date_dir in set(a) | set(b):
                day = dt.datetime.strptime(date_dir, "%d-%m-%Y").date()
                want[day] = tuple(
                    side[date_dir][key] if date_dir in side else None
                    for side in (a, b)
                    for _, key in METRICS
                )
            cols = [f"{c}{s}" for s in ("_a", "_b") for c, _ in METRICS]
            got = {r["run_date"]: tuple(r[c] for c in cols) for r in rows}
            if len(rows) != len(got):
                errors.append(f"op {i}: {len(rows) - len(got)} repeated dates in the chart {pair}")
            elif got != want:
                wrong = sorted(set(got) ^ set(want)) or sorted(d for d in want if got[d] != want[d])
                errors.append(f"op {i}: chart for {pair} differs from the model at {wrong[:3]}")
        return errors

    def final_check(self, timed: list[int]) -> dict[int, list[str]]:
        errors = {i: logtree.check_serving_tree(self.tree, self.outs[i]) for i in timed}
        for out in self.outs.values():
            shutil.rmtree(out, ignore_errors=True)
        return errors

    def layer_metrics(self, op: int, spans: list[Span], jobs: list[Job]) -> dict:
        read = _ids(spans, "bench_logs.read_bench_lines")
        write = _ids(spans, "pipeline.write_serving_tree")
        collect = _ids(spans, "compare.collect")
        out = self.outs[op]
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs]
        read_df = self.read_dfs.pop(op, None)
        return {
            "bench_logs.list_ms": _ms(spans, "bench_logs.read_bench_lines"),
            "bench_logs.list_jobs": len([j for j in jobs if j.span in read]),
            "bench_logs.list_tasks": _sum(jobs, "tasks", read),
            "bench_logs.files_read": len(read_df.inputFiles()) if read_df is not None else 0,
            "bench_logs.read_tasks": _sum(jobs, "read_tasks", write),
            "bench_logs.input_bytes": _sum(jobs, "input_bytes", write),
            "json_sink.write_ms": _ms(spans, "pipeline.write_serving_tree"),
            "json_sink.catalog_ms": _ms(spans, "pipeline.catalog_json"),
            "json_sink.files_written": len(files),
            "json_sink.bytes_written": sum(os.path.getsize(f) for f in files),
            "compare.construct_ms": _ms(spans, "pipeline.point_lookup", "compare.align_series"),
            "compare.action_ms": _ms(spans, "compare.collect"),
            "compare.files_read": sum(scan_files(c) for c in self.charts.pop(op, [])),
            "compare.rows_read": _sum(jobs, "input_records", collect) / max(self.rows[op], 1),
        }


class Curation:
    """Each op is one cold ``curation_cluster_splits`` registry row, forced
    with a ``noop`` write as bench.py does. The row builds the duplicate
    clusters (``dedup_duplicate_clusters``: pair join, ``min_label_components``
    rounds, ``localCheckpoint``s) and the curated corpus from cold caches,
    in two ``concurrency.subtree_pool`` threads, then joins them."""

    name = "curation"
    warmup = 2
    timed = 4
    row = "curation_cluster_splits"
    # the clusters relation the row builds, checked from the engine's memo
    # cache after each op
    clusters_row = "dedup_duplicate_clusters"

    def __init__(self, spark: Any, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.sf_dir = os.path.join(work, "sf")
        self.tracer: Tracer | None = None
        self.counts: dict[int, tuple[int, int]] = {}
        self.exchanges: dict[int, int] = {}

    def setup(self) -> dict:
        from benchviz_spark.registry import all_queries

        size = corpus.generate(self.sf_dir, self.seed)
        self.queries = all_queries()
        return {"documents": corpus.N_DOCS, "bytes": size}

    def extras(self, timed: list[int], p50_s: float) -> dict[str, tuple[float, str]]:
        return {}

    def instrument(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def op(self, i: int) -> Any:
        t = self.tracer
        df = _call(t, "query.construct", self.queries[self.row], self.spark, self.sf_dir)
        if t:  # planning is timed in traced runs only; the write plans again
            self.exchanges[i] = t.call("query.plan", count_exchanges, df)
        _call(t, "query.action", df.write.format("noop").mode("overwrite").save)
        return df

    def check_op(self, i: int, df: Any) -> list[str]:
        clusters = self.queries[self.clusters_row](self.spark, self.sf_dir)
        self.counts[i] = (clusters.count(), df.count())
        self.last = (clusters, df)
        return []

    def final_check(self, timed: list[int]) -> dict[int, list[str]]:
        import duckdb
        from benchviz_spark.registry import all_oracles
        from tests.oracle_harness import compare_frames

        con = duckdb.connect()
        path = os.path.join(self.sf_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        oracles = all_oracles()
        want = []
        errors: dict[int, list[str]] = {}
        for name, df in zip((self.clusters_row, self.row), self.last):
            expected = con.execute(oracles[name]).fetchdf()
            want.append(len(expected))
            try:
                compare_frames(df.toPandas(), expected, name)
            except AssertionError as exc:
                errors.setdefault(timed[-1], []).append(str(exc))
        con.close()
        for i in timed:
            if self.counts.get(i) != tuple(want):
                errors.setdefault(i, []).append(
                    f"op {i}: row counts {self.counts.get(i)} != oracle {tuple(want)}"
                )
        return errors

    def layer_metrics(self, op: int, spans: list[Span], jobs: list[Job]) -> dict:
        construct = _ids(spans, "query.construct")
        action = _ids(spans, "query.action")
        return {
            "query.construct_ms": _ms(spans, "query.construct"),
            "query.plan_ms": _ms(spans, "query.plan"),
            "query.action_ms": _ms(spans, "query.action"),
            "query.construct_jobs": len([j for j in jobs if j.span in construct]),
            "query.action_jobs": len([j for j in jobs if j.span in action]),
            "query.exchanges": self.exchanges.pop(op, 0),
        }


WORKLOADS = {w.name: w for w in (Logtree, Curation)}
