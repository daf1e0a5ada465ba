"""Show that the benchmark's output checks fail on planted wrong outputs.

    python3 perfbench/selftest.py

Runs each workload's op once on a small seeded input and confirms that its
check passes, then plants wrong outputs and confirms that the same check
reports each of them. Exits 0 only if the right output passes and every
planted error is caught.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from logtree import check_serving_tree  # noqa: E402
from workloads import METRICS, Curation, Logtree  # noqa: E402


def report(workload: str, case: str, errors: list, want_errors: bool) -> bool:
    ok = bool(errors) == want_errors
    verdict = ("caught" if errors else "missed") if want_errors else (
        "passes" if not errors else f"fails: {errors[:2]}"
    )
    print(f"{workload} {case}: {verdict}")
    return ok


def plant_serving_trees(out: str, work: str) -> dict[str, str]:
    """Copies of a correct serving tree, each with one planted error."""
    # the largest document, so it has several dates to reorder
    victim = os.path.relpath(
        max(
            (os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs if d != out),
            key=os.path.getsize,
        ),
        out,
    )
    planted: dict[str, str] = {}

    def copy(case: str) -> str:
        planted[case] = os.path.join(work, "planted", case)
        shutil.copytree(out, planted[case])
        return planted[case]

    def rewrite(path: str, edit) -> None:
        with open(path) as f:
            doc = json.load(f)
        with open(path, "w") as f:
            json.dump(edit(doc), f)

    def first_entry(doc: dict, **values) -> dict:
        doc[min(doc)].update(values)
        return doc

    rewrite(os.path.join(copy("wrong_value"), victim), lambda d: first_entry(d, N=d[min(d)]["N"] + 1))
    rewrite(os.path.join(copy("one_digit_mb_s_parsed"), victim), lambda d: first_entry(d, M=5))
    rewrite(os.path.join(copy("unsorted_dates"), victim), lambda d: dict(sorted(d.items(), reverse=True)))
    os.remove(os.path.join(copy("missing_document"), victim))
    rewrite(
        os.path.join(copy("catalog_missing_test"), "test_names.json"),
        lambda d: {k: v[:-1] for k, v in d.items()},
    )
    extra = os.path.join(copy("ignored_package_served"), "util", "hlc")
    os.makedirs(extra)
    with open(os.path.join(extra, "BenchmarkHlc000_Cockroach-8.json"), "w") as f:
        f.write('{"04-01-2016":{"N":1,"A":0,"B":0,"M":0}}')
    return planted


def check_logtree(spark, work: str) -> bool:
    from pyspark.sql import Row

    wl = Logtree(spark, work, seed=3)
    wl.tree_dates, wl.tree_tests = 4, 6
    wl.warmup, wl.timed, wl.views = 0, 1, 1
    wl.setup()
    (rows,) = wl.op(0)
    out = wl.outs[0]
    ok = report(wl.name, "right served tree", check_serving_tree(wl.tree, out), False)
    for case, path in plant_serving_trees(out, work).items():
        ok &= report(wl.name, case, check_serving_tree(wl.tree, path), True)

    ok &= report(wl.name, "right chart", wl.check_op(0, [rows]), False)
    first = rows[0].asDict()

    def swap(r: Row) -> Row:  # test a's series under test b's columns and back
        d = r.asDict()
        sides = (("_a", "_b"), ("_b", "_a"))
        swapped = {c + s: d[c + t] for s, t in sides for c, _ in METRICS}
        return Row(run_date=d["run_date"], **swapped)

    planted = {
        "chart_missing_date": rows[1:],
        "chart_repeated_date": rows + rows[:1],
        "chart_wrong_value": [Row(**{**first, "ns_per_op_a": (first["ns_per_op_a"] or 0) + 1})]
        + rows[1:],
        "chart_tests_swapped": [swap(r) for r in rows],
    }
    for case, wrong in planted.items():
        ok &= report(wl.name, case, wl.check_op(0, [wrong]), True)
    return ok


def check_curation(spark, work: str) -> bool:
    wl = Curation(spark, work, seed=3)
    wl.setup()
    wl.check_op(0, wl.op(0))
    ok = report(wl.name, "right output", wl.final_check([0]).get(0, []), False)
    clusters, splits = wl.last
    planted = {
        "missing_row": (clusters.limit(clusters.count() - 1), splits),
        "wrong_cluster_id": (clusters.withColumn("cluster_id", clusters["cluster_id"] + 1), splits),
        "wrong_split": (clusters, splits.replace("train", "test", "split")),
    }
    for case, frames in planted.items():
        wl.last = frames
        wl.counts = {0: tuple(df.count() for df in frames)}
        ok &= report(wl.name, case, wl.final_check([0]).get(0, []), True)
    return ok


def main() -> int:
    from benchviz_spark.session import get_spark

    work = os.path.join(HERE, ".work", f"selftest-p{os.getpid()}")
    os.makedirs(work)
    spark = get_spark("perfbench-selftest", extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        ok = check_logtree(spark, work)
        ok &= check_curation(spark, work)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print("selftest:", "every planted error caught" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
