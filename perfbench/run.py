"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_upsert --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` alternates untraced and traced cycles of the
workload and prints the per-layer metrics. Every file the run writes
lives under ``.perfbench_run/`` in the checkout and is removed before
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

from stats import MIN_BEYOND

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_HEAP = "1g"      # well under the RAM of a small box; the data sets are MBs
WARM_TASK_S = 0.3       # long enough that every core forks its own worker


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def hermetic_env(tmp: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``tmp`` and make the library importable by Python workers."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "pytmp")
    os.environ["TZ"] = "UTC"
    os.environ["OMP_NUM_THREADS"] = "1"  # one BLAS thread per Python worker, whatever the caller set
    time.tzset()
    for d in ("local", "pytmp", "jtmp", "warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    tempfile.tempdir = os.path.join(tmp, "pytmp")


def spark_conf(tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jtmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(os.path.join(tmp, "eventlog"), exist_ok=True)
    return conf


def warm_workers(spark, cores: int) -> None:
    """Fork and warm one Arrow Python worker per core (imports
    included) so the first timed op does not pay for it."""
    def warm(batches):
        import time as _t

        import bi_utils_spark.operators.lshkern  # noqa: F401
        import bi_utils_spark.operators.similarity  # noqa: F401
        _t.sleep(WARM_TASK_S)
        yield from batches

    spark.range(0, cores, numPartitions=cores).mapInArrow(warm, "id long").collect()


def jvm_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [pid], [pid]
    while frontier:
        nxt = [c for c, p in parent.items() if p in frontier]
        out += nxt
        frontier = nxt
    return out


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark, the JVM and its Python workers; wait for each."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc
    pids = jvm_tree(proc.pid)
    try:
        spark.stop()
    finally:
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    for pid in pids[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def e2e_metrics(wl, log, setup_s: float, rss: float) -> dict:
    busy = sum(log.writes) + sum(log.reads)
    return {
        "setup_s": (setup_s, "s"),
        "throughput": (log.work / busy, "1/s"),
        "write_p50_s": (statistics.median(log.writes), "s"),
        "read_p50_s": (statistics.median(log.reads), "s"),
        "recall": (wl.recall(), "ratio"),
        "recall_at_k": (wl.recall_at_k(), "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }


def run(args) -> int:
    from spans import EventLog, Tracer, span_metrics
    from workloads import WORKLOADS

    import layers

    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(ROOT, ".perfbench_run"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_run"))
    spark = None
    try:
        hermetic_env(tmp)
        from bi_utils_spark.session import get_spark

        wl = WORKLOADS[args.workload](None, tmp, args.seed)
        t = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t

        t = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                          extra_conf=spark_conf(tmp, bool(args.trace)))
        get_spark_s = time.perf_counter() - t
        wl.spark = spark
        t = time.perf_counter()
        if wl.PYTHON_WORKERS:
            warm_workers(spark, cores)
        worker_warm_s = time.perf_counter() - t
        tracer = Tracer(spark.sparkContext) if args.trace else None
        t = time.perf_counter()
        wl.build_fixture(os.path.join(tmp, "fixture"),
                         tracer if tracer is not None else Tracer())
        fixture_s = time.perf_counter() - t
        setup_s = get_spark_s + worker_warm_s + fixture_s
        print(f"# workload={args.workload} seed={args.seed} cores={cores} "
              f"driver_heap={DRIVER_HEAP} shuffle_partitions="
              f"{spark.conf.get('spark.sql.shuffle.partitions')} spark={spark.version} "
              f"trace={args.trace}", flush=True)
        print(f"# inputs generated in {gen_s:.3f} s; get_spark {get_spark_s:.3f} s, "
              f"worker warm-up {worker_warm_s:.3f} s, fixture build {fixture_s:.3f} s",
              flush=True)

        log, tlog = wl.run(args.seconds, tracer)
        if tracer is not None:
            wl.finish_counters(tracer)
        problems = wl.check()
        if not (log.writes and log.reads):
            problems.append("no successful write or read op to measure")
        rss = peak_rss_mb(jvm_tree(spark.sparkContext._gateway.proc.pid))
        stop_spark(spark)
        spark = None
        metrics = e2e_metrics(wl, log, setup_s, rss) if not problems else {}
        report(wl, log, metrics)
        if tracer is not None and not problems:
            tracer.dump(os.path.join(tmp, "spans.jsonl"))
            groups = EventLog(os.path.join(tmp, "eventlog")).group_stats()
            by_span = span_metrics(tracer.spans, groups)
            metrics = layers.per_layer(wl, by_span, log, tlog, get_spark_s, worker_warm_s)
        attempted = log.attempted + tlog.attempted
        failed = log.failed + tlog.failed
        for p in problems:
            print(f"# CHECK FAILED: {p}", flush=True)
        print(json.dumps({
            "correct": not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)
        return 0 if not problems else 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(os.path.join(ROOT, ".perfbench_run"))
            except OSError:
                pass


def report(wl, log, metrics: dict) -> None:
    """Human-readable lines: every end-to-end metric with its unit,
    plus the tail latencies and failure share, which need more samples
    or are zero on a healthy run and so are not gated metrics."""
    from stats import tail

    print(f"# {wl.name}: {log.attempted} ops attempted, {log.failed} failed, "
          f"failed_frac = {log.failed / max(log.attempted, 1):.6g}, "
          f"{log.elapsed:.2f} s timed, throughput in {wl.throughput_unit}", flush=True)
    for k, (v, u) in metrics.items():
        print(f"# {k} = {v:.6g} {u}", flush=True)
    for kind, xs in (("write", log.writes), ("read", log.reads)):
        print(f"# {kind} samples (s): {' '.join(f'{x:.3f}' for x in xs)}", flush=True)
        t = tail(xs)
        if t is None:
            print(f"# {kind}_tail_s omitted: n={len(xs)} samples, a tail needs more "
                  f"than {MIN_BEYOND}", flush=True)
        else:
            print(f"# {kind}_tail_s = {t[0]:.6g} s at p{t[1]:.1f}, n={len(xs)} samples",
                  flush=True)


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its files (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "bi_utils_spark")):
        print(f"perfbench: no bi_utils_spark package next to {HERE}; run it from the "
              "root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
