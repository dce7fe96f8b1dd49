"""Engine benchmark: one workload per run, metrics as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 12 --trace 0

Workloads (see README.md): ``sql_mix``, ``stream_ingest``.
With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run.  Lines
before it describe the run: every metric by name with unit and sample
count, plus cpus, seed, Spark version, load average and the inputs.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout.  At the end a traced run keeps its trace there (``KEPT``:
spans, event log, stream progress) and every run removes the rest.
The benchmark drives the engine only through its public modules and
never reads or writes the repository's other bench records.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("sql_mix", "stream_ingest")
E2E = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
}
KEPT = ("spans.jsonl", "eventlog", "progress.json")  # a traced run's trace


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _launch_env(work: str, trace: bool, cpus: int) -> None:
    """Confine scratch files to the checkout and pass launch confs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # every JVM (the launcher's too): temp files here, and no perf-data
    # file under /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = [
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"spark.sql.streaming.checkpointLocation={os.path.join(work, 'ckpt')}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    args = " ".join(f"--conf {c}" for c in confs)
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both.
    The JVM process is taken before ``spark.stop()``, which drops the
    gateway reference."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _clean(work: str, keep) -> None:
    """Remove the run's files except ``keep``; the directory too if empty."""
    for name in os.listdir(work):
        if name not in keep:
            path = os.path.join(work, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
    if not os.listdir(work):
        os.rmdir(work)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_main = time.perf_counter()

    cpus = _cpus()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _launch_env(work, bool(args.trace), cpus)
    sys.path.insert(0, ROOT)

    # The engine must be importable from the checkout; without it the
    # benchmark fails here, before printing any result.
    import flink_1_11_1_spark  # noqa: F401
    import pyspark

    from perfbench import harness, tracing
    from perfbench.workloads import WORKLOAD_FNS

    run = harness.Run(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), work=work)
    run.tracer = tracing.Tracer(run.trace)
    rss = tracing.PeakRss()
    try:
        with run.phase("setup"):
            run.setup()
        WORKLOAD_FNS[args.workload](run)
    finally:
        peak = rss.stop()
        with run.phase("stop"):
            _stop(run.spark)
    if run.trace:
        run.tracer.write(os.path.join(work, "spans.jsonl"))

    attempted = len(run.ops)
    failed = sum(1 for op in run.ops if not op.ok)
    run.layers["error_rate"] = failed / max(attempted, 1)
    run.e2e["setup_s"] = (run.setup_s, run.notes["setup_samples"])
    run.layers["e2e.latency_p90_s"] = run.e2e.pop("latency_p90_s")[0]
    run.layers["e2e.peak_rss_mb"] = peak

    run.notes["phase_s"]["total"] = round(time.perf_counter() - t_main, 3)
    describe = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "spark": pyspark.__version__,
        "loadavg": os.getloadavg(), "inputs": run.manifest, **run.notes,
        "failures": [f"{op.name}: {op.error}" for op in run.ops if not op.ok][:20],
    }
    print("# run " + json.dumps(describe, default=str))
    for name, (value, samples) in run.e2e.items():
        print(f"# metric {name} = {value:.6g} {E2E[name]} (n={samples})")
    for name, value in run.layers.items():
        print(f"# layer {name} = {value:.6g} {harness.LAYER_METRICS[name]}")

    if run.trace:
        metrics = {k: {"value": run.layers.get(k, 0.0), "unit": u}
                   for k, u in harness.LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": run.e2e[k][0], "unit": u} for k, u in E2E.items()}
    _clean(work, KEPT if run.trace else ())
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
