"""Seeded ``benchSamples`` log-tree generator and its expected serving model.

The tree has the reference layout
``benchSamples/<DD-MM-YYYY>/cockroach/<pkg>/*.test.stdout`` and keeps the
reference scanner's quirks, each of which the model encodes by rule, not by
running any ``benchviz_spark`` code:

- ``FAIL``/``PASS``/``ok`` lines are dropped;
- a one-digit ``5 MB/s`` parses to 0 (the MB/s pattern needs two digit chars);
- a metric absent from a line becomes 0;
- a test re-run later in one file, or in a second file of the same date and
  package whose name sorts later, wins (last writer wins);
- a package dir off the reference whitelist, a dir whose name holds no
  ``DD-MM-YYYY`` date and a file not named ``*test.stdout`` are ignored.

The model is what the serving tree must hold: one JSON document per
(package, test), ``{date_dir: {"N", "A", "B", "M"}}``, plus the catalog
``test_names.json`` ``{package: [test, ...]}``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

# The reference scans exactly these package dirs (main.go:23-25).
WHITELIST = (
    "sql",
    "sql/parser",
    "kv",
    "roachpb",
    "storage",
    "storage/engine",
    "util/cache",
    "util/caller",
    "util/decimal",
    "util/encoding",
    "util/interval",
    "util/log",
)
IGNORED_PACKAGE = "util/hlc"
IGNORED_DATE_DIR = "latest"
IGNORED_FILE = "pkg.test.stderr"
MAIN_FILE = "pkg.test.stdout"
RERUN_FILE = "rerun.test.stdout"  # sorts after MAIN_FILE, so its lines win

FIRST_DATE = dt.date(2016, 1, 4)


@dataclass
class LogTree:
    """A generated tree and the serving output it must produce."""

    root: str
    # (package, test) -> {date_dir: {"N": int, "A": int, "B": int, "M": float}}
    docs: dict[tuple[str, str], dict[str, dict[str, float]]] = field(
        default_factory=dict
    )
    files: int = 0  # whitelisted *test.stdout files, the pipeline's input
    lines: int = 0  # lines in those files
    bytes: int = 0  # bytes in those files

    def catalog(self) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        for pkg, test in self.docs:
            out.setdefault(pkg, []).append(test)
        return {pkg: sorted(tests) for pkg, tests in sorted(out.items())}


def _metric_line(rng: random.Random, test: str) -> tuple[str, dict[str, float]]:
    """One ``Benchmark...`` line and the values the parser must read from it."""
    ns = rng.randint(50, 5_000_000)
    fields = [test, str(rng.randint(1, 100_000)), f"{ns} ns/op"]
    want = {"N": ns, "A": 0, "B": 0, "M": 0}
    kind = rng.random()
    if kind < 0.3:  # two-digit-or-more MB/s with decimals: parsed
        mbps = rng.randint(100, 99_999) / 100
        fields.append(f"{mbps:.2f} MB/s")
        want["M"] = float(f"{mbps:.2f}")
    elif kind < 0.4:  # integral MB/s with two or more digits: parsed
        mbps = rng.randint(10, 999)
        fields.append(f"{mbps} MB/s")
        want["M"] = mbps
    elif kind < 0.45:  # one digit: the reference pattern misses it -> 0
        fields.append(f"{rng.randint(1, 9)} MB/s")
    if rng.random() < 0.8:  # otherwise B/op and allocs/op are absent -> 0
        b, a = rng.randint(0, 500_000), rng.randint(0, 5_000)
        fields += [f"{b} B/op", f"{a} allocs/op"]
        want["B"], want["A"] = b, a
    return " \t ".join(fields), want


def generate(
    root: str, seed: int, n_dates: int, tests_per_package: int
) -> LogTree:
    """Write a tree of ``n_dates`` nightly dates x 12 whitelisted packages
    (plus the ignored dirs and files) under ``root`` and return its model."""
    rng = random.Random(seed)
    tree = LogTree(root=root)
    tests = {
        pkg: [
            f"Benchmark{pkg.split('/')[-1].title()}{i:03d}_Cockroach-{rng.choice((8, 16))}"
            for i in range(tests_per_package)
        ]
        for pkg in WHITELIST + (IGNORED_PACKAGE,)
    }

    def write(path: str, lines: list[str], counted: bool) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        text = "\n".join(lines) + "\n"
        with open(path, "w") as f:
            f.write(text)
        if counted:
            tree.files += 1
            tree.lines += len(lines)
            tree.bytes += len(text.encode())

    # a fixed tenth of the (date, package) dirs get a second, re-run file
    slots = [(d, pkg) for d in range(n_dates) for pkg in WHITELIST]
    reruns = set(rng.sample(slots, k=len(slots) // 10))
    for d in range(n_dates):
        date_dir = (FIRST_DATE + dt.timedelta(days=d)).strftime("%d-%m-%Y")
        for pkg, names in tests.items():
            counted = pkg in WHITELIST
            base = os.path.join(root, date_dir, "cockroach", pkg)
            lines = ["goos: linux", "goarch: amd64"]
            latest: dict[str, dict[str, float]] = {}
            for test in names:
                if rng.random() < 0.15:  # not run that night
                    continue
                line, want = _metric_line(rng, test)
                lines.append(line)
                latest[test] = want
                if rng.random() < 0.03:
                    lines.append(f"--- FAIL: {test}")
            # re-runs later in the same file overwrite the earlier line
            for test in rng.sample(sorted(latest), k=min(2, len(latest))):
                line, want = _metric_line(rng, test)
                lines.append(line)
                latest[test] = want
            lines += ["PASS", f"ok  \tgithub.com/cockroachdb/cockroach/{pkg}\t12.345s"]
            write(os.path.join(base, MAIN_FILE), lines, counted)
            if (d, pkg) in reruns:
                rerun = []
                for test in rng.sample(names, k=min(3, len(names))):
                    line, want = _metric_line(rng, test)
                    rerun.append(line)
                    latest[test] = want
                write(os.path.join(base, RERUN_FILE), rerun + ["PASS"], counted)
            if counted:
                for test, want in latest.items():
                    tree.docs.setdefault((pkg, test), {})[date_dir] = want
        # ignored, never counted: a file the name filter rejects
        line, _ = _metric_line(rng, tests["sql"][0])
        write(os.path.join(root, date_dir, "cockroach", "sql", IGNORED_FILE), [line], False)
    # ignored: a dir with no date in its name
    line, _ = _metric_line(rng, tests["kv"][0])
    write(
        os.path.join(root, IGNORED_DATE_DIR, "cockroach", "kv", MAIN_FILE), [line], False
    )
    return tree


def check_serving_tree(tree: LogTree, out_dir: str) -> list[str]:
    """Compare every served JSON file and ``test_names.json`` with the model.
    Returns the mismatches found (empty when the output is right)."""
    errors: list[str] = []
    try:
        with open(os.path.join(out_dir, "test_names.json")) as f:
            catalog = json.load(f)
    except (OSError, ValueError) as exc:
        return [f"test_names.json unreadable: {exc}"]
    if catalog != tree.catalog():
        errors.append("test_names.json differs from the model catalog")
    served: set[tuple[str, str]] = set()
    for dirpath, _, names in os.walk(out_dir):
        for name in names:
            if not name.endswith(".json") or dirpath == out_dir:
                continue
            key = (os.path.relpath(dirpath, out_dir), name[: -len(".json")])
            served.add(key)
            want = tree.docs.get(key)
            if want is None:
                errors.append(f"unexpected served file {key}")
                continue
            with open(os.path.join(dirpath, name)) as f:
                text = f.read()
            try:
                doc = json.loads(text)
            except ValueError as exc:
                errors.append(f"{key}: not JSON ({exc})")
                continue
            if doc != want:
                errors.append(f"{key}: served document differs from the model")
            elif list(doc) != sorted(doc):
                errors.append(f"{key}: date keys are not sorted")
    missing = set(tree.docs) - served
    if missing:
        errors.append(f"{len(missing)} documents not served, e.g. {sorted(missing)[0]}")
    return errors
