#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one local[4] Spark session:

1. generate the workload's inputs from ``--seed`` (untimed);
2. start the session three times (the first launches the JVM, the
   others start a fresh SparkContext in it), then warm up and build the
   workload's store once; ``setup_s`` is the median session start plus
   the warm-up and store build;
3. call the workload's operation in a closed loop for ``--seconds``,
   then on to the end of the workload's current block of requests, so
   that every run measures whole blocks of the same mix;
4. check the outputs (untimed), run the host-speed canary as context,
   stop the session and its JVM, and read the peak RSS.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
of BENCHMARK.json. With ``--trace 1`` the set-up and every other timed
operation of each kind are traced; the last line carries the per-layer metrics,
harvested from the Spark status store by job group, and the tracing
overhead (the traced operations' total time against the untraced
ones'). The exit code is 1 when a check fails and 2
when the program or the workload cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
import traceback
from collections import Counter
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
CPUS = 4


def _environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the program."""
    for sub in ("tmp", "scratch", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # no hsperfdata files: the JVM writes those under /tmp whatever its tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"


def _warm_up(spark) -> None:
    """The JVM and Python-worker warm-up ``bench.py`` does before timing."""
    spark.range(1000).selectExpr("sum(id)").collect()

    def identity(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    (
        spark.range(n * 2).repartition(n).mapInPandas(identity, "id long")
        .write.format("noop").mode("overwrite").save()
    )


def _canary(spark) -> float:
    """``bench.py``'s fixed host-speed canary: 8M-row xxhash group-by."""
    t0 = time.perf_counter()
    (
        spark.range(0, 8_000_000, 1, 32)
        .selectExpr("xxhash64(id) % 1000003 AS h", "id % 200 AS k")
        .groupBy("k").agg({"h": "sum", "k": "count"})
        .write.format("noop").mode("overwrite").save()
    )
    return time.perf_counter() - t0


def _stop(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM, its Python workers), reaped children included."""
    kids: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        kids.setdefault(int(fields[1]), []).append(pid)
        cpu[pid] = sum(int(f) for f in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def _host_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole host since boot."""
    with open("/proc/stat") as fh:
        fields = [int(f) for f in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _timed(wl, spark, tr, seconds: float, trace: bool) -> dict:
    """The closed loop; with ``trace``, every other operation of each kind
    is traced. Blocks hold an even number of each kind, so the traced and
    untraced operations are the same mix."""
    lat: list[float] = []
    kinds: list[str] = []
    traced: list[bool] = []
    seen: Counter[str] = Counter()
    units = failed = 0
    cpu0 = _tree_cpu_s()
    steal0, ticks0 = _host_ticks()
    start = time.perf_counter()
    deadline = start + seconds
    while True:
        kind = wl.next_kind()
        seen[kind] += 1
        tr.enabled = trace and seen[kind] % 2 == 0
        t0 = time.perf_counter()
        try:
            units += wl.op(spark, tr)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            failed += 1
            traceback.print_exc(file=sys.stderr)
        lat.append(time.perf_counter() - t0)
        kinds.append(kind)
        traced.append(tr.enabled)
        if time.perf_counter() >= deadline and wl.at_boundary():
            break
    tr.enabled = False
    elapsed = time.perf_counter() - start
    cpu_s = _tree_cpu_s() - cpu0
    steal1, ticks1 = _host_ticks()
    return {
        "lat": lat, "kinds": kinds, "traced": traced, "units": units,
        "failed": failed, "elapsed": elapsed, "start": start, "cpu_s": cpu_s,
        "steal": (steal1 - steal0) / max(ticks1 - ticks0, 1),
    }


def median_wall_s(timed: dict) -> float:
    """The timed phase's wall seconds re-added from medians: every
    operation of a kind counted at the kind's median latency. A burst of
    load from other tenants of the host then moves a run's figure only
    when it covers most operations of a kind."""
    lat: dict[str, list[float]] = {}
    for kind, t in zip(timed["kinds"], timed["lat"]):
        lat.setdefault(kind, []).append(t)
    return sum(len(v) * median(v) for v in lat.values())


def run(args, spec: dict, work: str) -> tuple[dict, list[str]]:
    from perfbench.spans import Tracer
    from perfbench.stats import describe
    from perfbench.workloads import WORKLOADS

    from sstable_migrator_spark.session import get_spark

    wl = WORKLOADS[args.workload](os.path.join(work, "wl"), args.seed)
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if args.trace:
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    tr = Tracer()
    starts = []
    spark = None
    try:
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            tr.enabled = bool(args.trace)
            with tr.span("session.get_spark"):
                spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]", extra_conf=conf)
            tr.enabled = False
            starts.append(time.perf_counter() - t0)
        tr.spark = spark
        t0 = time.perf_counter()
        _warm_up(spark)
        tr.enabled = bool(args.trace)
        wl.setup(spark, tr)
        tr.enabled = False
        build_s = time.perf_counter() - t0

        lines = [
            f"session_start_s: {', '.join(f'{s:.3f}' for s in starts)} s (the first launches the JVM)",
            f"warm_up_and_store_build_s: {build_s:.3f} s",
        ]
        timed = _timed(wl, spark, tr, args.seconds, bool(args.trace))

        t0 = time.perf_counter()
        problems = wl.check(spark)
        lines.append(f"check_s: {time.perf_counter() - t0:.3f} s")
        lines += [f"check failed: {p}" for p in problems]
        lines.append(f"canary_s: {_canary(spark):.4f} s (host-speed context)")
        harvest = tr.harvest() if args.trace else {}
    finally:
        if spark is not None:
            _stop(spark)
    rss_kb = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        + resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    )
    lines += wl.detail()
    lines.append(describe("op_ms", [v * 1e3 for v in timed["lat"]], "ms"))
    wall_s = median_wall_s(timed)
    lines.append(f"timed_cpu_s: {timed['cpu_s']:.3f} s over {timed['elapsed']:.3f} s wall, {timed['units']} {wl.unit}")
    lines.append(f"timed_wall_at_medians_s: {wall_s:.3f} s")
    lines.append(f"host_steal: {100 * timed['steal']:.1f} % of host CPU time in the timed phase")
    lines.append(f"peak_rss_mb: {rss_kb / 1024.0:.1f} MB (Python driver plus JVM)")

    if args.trace:
        values = _per_layer(spec, harvest, wl.counts(), timed, tr)
        for name, row in sorted(harvest.items()):
            lines.append(f"span {name}: " + ", ".join(f"{k}={v:.4g}" for k, v in sorted(row.items())))
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump([vars(s) for s in tr.spans], fh)
    else:
        values = {
            "setup_s": median(starts) + build_s,
            "throughput_per_s": timed["units"] / wall_s,
            "cpu_ms_per_op": 1e3 * timed["cpu_s"] / len(timed["lat"]),
        }
    metrics_spec = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics_spec}
    result = {
        "correct": not problems and timed["failed"] == 0,
        "attempted": len(timed["lat"]),
        "failed": timed["failed"],
        "metrics": metrics,
    }
    return result, lines


def _per_layer(spec, harvest, counts, timed, tr) -> dict[str, float]:
    on = [t for t, traced in zip(timed["lat"], timed["traced"]) if traced]
    off = [t for t, traced in zip(timed["lat"], timed["traced"]) if not traced]
    values = dict(counts)
    values["trace.overhead_pct"] = 100.0 * (sum(on) / sum(off) - 1.0) if on else 0.0
    values["trace.span_coverage"] = tr.top_level_s(since=timed["start"]) / sum(on) if on else 0.0
    for m in spec["per_layer"]:
        name = m["name"]
        if name not in values:
            fn, metric = name.rsplit(".", 1)
            values[name] = harvest.get(fn, {}).get(metric, 0)
    return values


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import sstable_migrator_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    try:
        result, lines = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
