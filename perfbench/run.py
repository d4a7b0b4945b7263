"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 18 --trace 0

Runs in one process on ``local[<cores>]`` against the engine in the
checkout this file sits in. Set-up runs several times and reports the
median; a warm-up pass follows it and its cost is part of ``setup_s``.
Then the workload's operations run in a closed loop for ``--seconds``
seconds and every output is checked against a numpy oracle.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.
``--trace 1`` spends the first half of the time untraced and the second
half traced, prints the per-layer metrics (tracing overhead included)
and writes the spans to ``.perfbench_traces/<workload>-seed<seed>.jsonl``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it carries the workload's own metric names. The exit code is not 0 when
the run could not be made (missing engine, failed set-up).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time
import traceback

# the workloads' own end-to-end figures, reported in the traced run from
# its untraced half
E2E_NAMED = ("join_points_per_s", "pip_p50_ms", "dwithin_p50_ms", "knn_p50_ms",
             "ingest_pages_per_s", "store_bytes_per_input_byte", "resume_s",
             "bbox_p50_ms", "peak_rss_mb", "error_rate")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class Ctx:
    def __init__(self, spark, seed, work, tracer, cores):
        self.spark, self.seed, self.work = spark, seed, work
        self.tracer, self.cores = tracer, cores


def _import_engine():
    """Import the engine from this checkout and nowhere else."""
    sys.path.insert(0, ROOT)
    import geomesa_spark

    where = os.path.dirname(os.path.abspath(geomesa_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"geomesa_spark imported from {where}, not from {ROOT}")


def _start_spark(work: str, cores: int, ui: bool):
    from geomesa_spark import get_spark
    from geomesa_spark.functions import register_functions

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # a quarter of the machine's memory for the driver JVM, at most 8 GB
    mem = min(_mem_total_mb() // 4, 8192)
    spark = get_spark("perfbench", cpus=cores, shuffle_partitions=2 * cores,
                      extra_conf={
                          "spark.driver.memory": f"{mem}m",
                          "spark.ui.enabled": "true" if ui else "false",
                          "spark.ui.showConsoleProgress": "false",
                          "spark.local.dir": os.path.join(work, "spark-local"),
                          "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                          "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{mem}m",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    register_functions(spark)
    return spark


def _stop_spark(spark):
    """Stop the session and the gateway JVM, and wait for every process
    this run started to end."""
    from pyspark import SparkContext

    from perfbench.measure import descendants

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while True:
        kids = descendants(os.getpid())
        if not kids:
            return
        if time.time() > deadline:
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.2)


def _loop(wl, rec, seconds: float):
    """Closed loop: run steps until ``seconds`` have passed and every
    operation kind has a sample."""
    end = time.perf_counter() + seconds
    while True:
        try:
            wl.step(rec)
        except Exception:
            rec.attempted += 1
            rec.failed += 1
            traceback.print_exc()
            if rec.failed > 3:
                break
        if time.perf_counter() >= end and wl.complete(rec):
            break


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _result(spec_metrics, values: dict, rec_attempted: int, rec_failed: int) -> dict:
    metrics = {}
    for m in spec_metrics:
        v = float(values[m["name"]])
        if not math.isfinite(v):
            raise ValueError(f"metric {m['name']} is not finite: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": rec_failed == 0, "attempted": rec_attempted,
            "failed": rec_failed, "metrics": metrics}


def run(args, work: str) -> dict:
    from perfbench.measure import PeakRss, SparkStages, cpu_steal_frac, cpu_times, median, summary
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Recorder

    spec = _spec()
    cores = _cores()
    tracer = Tracer(enabled=False)
    cpu0 = cpu_times()
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = _start_spark(work, cores, ui=bool(args.trace))
        session_s = time.perf_counter() - t0
        wl = None
        try:
            wl = WORKLOADS[args.workload](Ctx(spark, args.seed, work, tracer, cores))
            reps = []
            for _ in range(wl.setup_reps):
                t = time.perf_counter()
                wl.setup()
                reps.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.prepare_oracle()
            oracle_s = time.perf_counter() - t
            warm = Recorder()
            t = time.perf_counter()
            wl.warmup(warm)
            warm_s = time.perf_counter() - t

            rec = Recorder()
            t = time.perf_counter()
            if not args.trace:
                _loop(wl, rec, args.seconds)
            else:
                _loop(wl, rec, args.seconds / 2)
                traced = Recorder()
                stages = SparkStages(spark)
                stages.mark()
                tracer.enabled = True
                _loop(wl, traced, args.seconds / 2)
                tracer.enabled = False
                sp = stages.since_mark()
                layers = wl.layers(traced)
            measure_s = time.perf_counter() - t
        finally:
            if wl is not None:
                wl.close()
            _stop_spark(spark)

    setup_s = median(reps) + warm_s
    # warm-up operations are checked too; their failures count
    attempted = warm.attempted + rec.attempted + (traced.attempted if args.trace else 0)
    failed = warm.failed + rec.failed + (traced.failed if args.trace else 0)
    e2e = dict(wl.e2e(rec), setup_s=setup_s)
    named = dict(wl.named(rec), setup_s=setup_s, setup_reps_s=reps, warmup_s=warm_s,
                 session_s=session_s, oracle_s=oracle_s, measure_s=measure_s,
                 peak_rss_mb=rss.peak_mb,
                 peak_rss_split_mb={k: v // 1024 for k, v in rss.peak_split.items()},
                 cpu_steal_frac=cpu_steal_frac(cpu0, cpu_times()),
                 error_rate=failed / max(attempted, 1),
                 ops_ms={k: summary([x * 1000.0 for x in v]) for k, v in rec.ops.items()})
    print(json.dumps({"workload": args.workload, "seed": args.seed, "named": named}),
          flush=True)
    if not args.trace:
        return _result(spec["end_to_end"], e2e, attempted, failed)

    values = {m["name"]: 0.0 for m in spec["per_layer"]}
    values.update(layers)
    values.update({
        "spark.tasks": sp["tasks"], "spark.task_skew": sp["task_skew"],
        "spark.shuffle_write_bytes": sp["shuffle_write_bytes"],
        "trace.overhead_frac": wl.e2e(rec)["work_per_s"] / wl.e2e(traced)["work_per_s"] - 1.0,
    })
    values.update({f"e2e.{k}": named[k] for k in E2E_NAMED if k in named})
    unknown = set(values) - {m["name"] for m in spec["per_layer"]}
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    out_dir = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(out_dir, exist_ok=True)
    span_file = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.jsonl")
    tracer.dump(span_file)
    print(f"perfbench: spans written to {span_file}", file=sys.stderr)
    return _result(spec["per_layer"], values, attempted, failed)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["spatial_join", "ingest_store"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    sys.path.insert(0, ROOT)
    try:
        _import_engine()
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
