"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload logtree --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The process starts its own Spark session
(``local[SPARK_GRAFT_CPUS]``, default: the CPUs this process may use),
generates the workload's input from the seed, runs a fixed number of
untimed warm-up ops, then a fixed number of timed ops, and checks every
timed op's output. Between ops, untimed, it clears the engine's memo
caches and Spark's cache and runs a JVM GC, as bench.py does.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` every op runs inside timing spans and the line carries
the per-layer metrics instead. Either way the full run record (host,
conditions, input size, every per-op sample) is written under
``perfbench/out/``. Everything the run writes stays inside the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def read_loadavg() -> list[float] | None:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cpu_jiffies() -> tuple[int, int] | None:
    """(steal, busy) jiffies of the whole host, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return steal, user + nice + system + irq + softirq + steal


def steal_share(j0, j1) -> float | None:
    if not j0 or not j1 or j1[1] <= j0[1]:
        return None
    return (j1[0] - j0[0]) / (j1[1] - j0[1])


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    loadavg_before = read_loadavg()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "benchviz_spark")):
        print(f"perfbench: no benchviz_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS  # noqa: E402

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    try:
        return run(args, cpus, work, tmp, loadavg_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, cpus: str, work: str, tmp: str, loadavg_before) -> int:
    from benchviz_spark.caching import clear_caches
    from benchviz_spark.session import get_spark

    from spans import PER_LAYER, Tracer, self_ms
    from workloads import WORKLOADS

    # The initial heap is the session's maximum heap, so the JVM does not
    # grow and shrink it between ops (each op ends with a full GC): heap
    # resizing moved op times within and between runs.
    heap = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    t = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_start_s = time.perf_counter() - t
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        input_size = wl.setup()
        tracer = Tracer(spark) if args.trace else None
        if tracer:
            wl.instrument(tracer)
        n_timed = wl.timed
        n_ops = wl.warmup + n_timed
        samples: list[float] = []
        warmup_samples: list[float] = []
        cleared: list[int] = []
        errors: dict[int, list[str]] = {}
        layers: list[dict] = []
        coverage: list[float] = []
        selftimes: list[dict[str, float]] = []
        setup_s = j0 = None
        checks_s = 0.0  # untimed output checks, between and after the timed ops
        for i in range(n_ops):
            n_cleared = clear_caches()
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            timed = i >= wl.warmup
            if i == wl.warmup:
                setup_s = time.perf_counter() - T_START
                j0 = cpu_jiffies()
                if tracer:
                    tracer.mark_jobs_seen()
            if tracer:
                tracer.op = i
            t0 = time.perf_counter()
            try:
                if tracer:
                    with tracer.span("op"):
                        result = wl.op(i)
                else:
                    result = wl.op(i)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                errors[i] = [f"op {i} raised {type(exc).__name__}: {exc}"]
                result = None
            elapsed = time.perf_counter() - t0
            if not timed:
                warmup_samples.append(elapsed)
                continue
            samples.append(elapsed)
            cleared.append(n_cleared)
            if tracer and result is not None:
                spans = tracer.op_spans(i)
                jobs = tracer.collect_jobs(i)
                op_span = next(s for s in spans if s.name == "op")
                named = [s for s in spans if s.parent == op_span.id]
                coverage.append(sum(s.ms for s in named) / op_span.ms)
                selftimes.append(self_ms(spans))
                layers.append(engine_metrics(jobs, op_span.ms, int(cpus)))
                layers[-1].update(wl.layer_metrics(i, spans, jobs))
                layers[-1]["caching.cleared"] = n_cleared
            t0 = time.perf_counter()
            if result is not None and (errs := wl.check_op(i, result)):
                errors[i] = errs
            checks_s += time.perf_counter() - t0
            if tracer:
                tracer.mark_jobs_seen()
        j1 = cpu_jiffies()
        timed_ops = list(range(wl.warmup, n_ops))
        t0 = time.perf_counter()
        for i, errs in wl.final_check(timed_ops).items():
            if errs:
                errors.setdefault(i, []).extend(errs)
        checks_s += time.perf_counter() - t0
        failed = len([i for i in timed_ops if errors.get(i)])
        for i in sorted(errors):
            for e in errors[i][:3]:
                print(f"perfbench: {e}", file=sys.stderr)

        p50 = statistics.median(samples)
        steal = steal_share(j0, j1)
        e2e = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (p50 * 1000, "ms"),
        }
        # Recorded and printed, but not in the result line: with 5-10 timed
        # ops no percentile above the median has ten samples beyond it, a
        # failure ratio reads 0 on a correct run, and a rate over the op
        # median is a fixed multiple of 1/op_p50_ms.
        extra = {
            "op_p90_ms": (percentile(samples, 0.9) * 1000, "ms"),
            "fail_ratio": (failed / n_timed, "ratio"),
            **wl.extras(timed_ops, p50),
        }
        print(
            f"perfbench: {args.workload} seed {args.seed}: "
            + ", ".join(f"{k} {v:.6g} {u}" for k, (v, u) in {**e2e, **extra}.items())
            + f", {n_timed} timed ops",
            file=sys.stderr,
        )
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": {
                "nproc": os.cpu_count(),
                "spark_graft_cpus": int(cpus),
                "commit": commit(),
                "spark": spark.version,
                "java": spark._jvm.System.getProperty("java.version"),
                "driver_heap_bytes": spark._jvm.java.lang.Runtime.getRuntime().maxMemory(),
            },
            "conditions": {"loadavg_before": loadavg_before, "steal_share": steal},
            "input": input_size,
            "warmup_ops": wl.warmup,
            "timed_ops": n_timed,
            "session_start_s": session_start_s,
            "checks_s": checks_s,
            "warmup_samples_s": warmup_samples,
            "samples_s": samples,
            "caching_cleared": cleared,
            "failed_ops": {str(i): e for i, e in errors.items()},
            "end_to_end": {k: v for k, (v, _) in {**e2e, **extra}.items()},
        }
        if tracer:
            per_layer = {
                k: statistics.median([d.get(k, 0) for d in layers] or [0]) for k in PER_LAYER
            }
            per_layer.update(
                {
                    "session.start_s": session_start_s,
                    "host.steal_share": steal if steal is not None else 0.0,
                    "trace.op_p50_ms": p50 * 1000,
                    "trace.span_coverage": min(coverage, default=0.0),
                }
            )
            record["per_layer"] = per_layer
            record["per_op_layers"] = layers
            record["self_ms"] = selftimes
            record["spans"] = [vars(s) for s in tracer.spans if s.op >= wl.warmup]
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in per_layer.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(record, f, indent=1, default=str)
        line = {
            "correct": failed == 0,
            "attempted": n_timed,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        stop_spark(spark)
    print(json.dumps(line))
    return 0


def engine_metrics(jobs, op_ms: float, cores: int) -> dict:
    """The Spark engine under every layer, summed over one op's jobs."""
    run_ms = sum(j.run_ms for j in jobs)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j.stages for j in jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.failed_tasks": sum(j.failed_tasks for j in jobs),
        "spark.executor_run_ms": run_ms,
        "spark.executor_cpu_ms": sum(j.cpu_ms for j in jobs),
        "spark.gc_ms": sum(j.gc_ms for j in jobs),
        "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spark.spill_bytes": sum(j.spill_bytes for j in jobs),
        "spark.idle_share": 1.0 - run_ms / (op_ms * cores),
    }


if __name__ == "__main__":
    sys.exit(main())
