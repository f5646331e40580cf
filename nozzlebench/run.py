"""The nozzle benchmark: one command, one workload per run.

    python3 nozzlebench/run.py --workload firehose_saturated --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). Lines before it give the run context, every metric with
its unit and sample count, and each output check. Metric units come
from BENCHMARK.json, and a workload it lists must report every metric
it declares for the mode. ``analytics_headline``
is a manual workload: it needs ``--sf-dir`` (the bench.py test data).

The program under test is the ``kafka_firehose_nozzle_spark`` package
beside this directory; without it the benchmark exits with status 2 and
prints no result. See nozzlebench/NOTES.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kafka_firehose_nozzle_spark"

def _environment(work: str) -> None:
    """Spark settings this benchmark fixes: all cores, the package
    importable by Spark's Python workers, scratch files in the checkout."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def _context_header(spark, args, protocol: str) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "master": spark.sparkContext.master,
        "sf": args.sf_dir if args.workload == "analytics_headline" else None,
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "jvm_max_heap_mb": round(jvm.Runtime.getRuntime().maxMemory() / 2**20),
        "protocol": protocol,
    }


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it Spark's Python
    workers) to exit; the JVM ends when its stdin pipe closes."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="nozzle benchmark")
    ap.add_argument("--workload", required=True, help="see nozzlebench/NOTES.md")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", default=None, help="analytics_headline only")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"nozzlebench: {PACKAGE}/ not found beside {HERE}", file=sys.stderr)
        return 2
    if args.workload == "analytics_headline" and not args.sf_dir:
        print("nozzlebench: analytics_headline needs --sf-dir", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from nozzlebench import workloads
    from nozzlebench.rss import PeakRSS

    if args.workload not in workloads.WORKLOADS:
        print(f"nozzlebench: workloads are {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".nozzlebench_work")
    out = os.path.join(ROOT, ".nozzlebench_out")
    workloads.reset_dir(work)
    os.makedirs(out, exist_ok=True)
    _environment(work)

    from kafka_firehose_nozzle_spark.session import get_spark

    workload = workloads.WORKLOADS[args.workload]
    with contextlib.ExitStack() as stack:
        gen = None
        if workload.rate is not None:
            # the generator builds its corpus while the JVM starts
            gen = workloads.GeneratorProcess(ROOT, args.seed, workload.rate)
            stack.callback(gen.close)
        rss = stack.enter_context(PeakRSS(exclude={gen.proc.pid} if gen else set()))
        spark = get_spark(
            "nozzlebench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            },
        )
        stack.callback(_stop_spark, spark)
        ctx = workloads.Context(
            workload=args.workload,
            spark=spark,
            root=ROOT,
            work=work,
            out=out,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            t_start=T_START,
            rss=rss,
            gen=gen,
            sf_dir=args.sf_dir,
        )
        header = _context_header(spark, args, workload.protocol)
        print("# context " + json.dumps(header), flush=True)
        res = workload.run(ctx)
    workloads.reset_dir(work)

    # units come from BENCHMARK.json; the manual workloads' own timings
    # are all in seconds
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for ok, text in res.checks:
        print(f"# check {'ok' if ok else 'FAILED'}: {text}")
    for note in res.notes:
        print(f"# note: {note}")
    for flag in res.flags:
        print(f"# flag: {flag}")
    failed_frac = res.failed / max(1, res.attempted)
    print(f"# failed_frac {failed_frac:.6g} ({res.failed} of {res.attempted})")
    for name, (value, n) in res.metrics.items():
        print(f"# metric {name} = {value:.6g} {units.get(name, 's')} (n={n})")
    for name, value in sorted(res.layers.items()):
        print(f"# layer {name} = {value:.6g}")

    if args.trace:
        measured, declared = res.layers, spec["per_layer"]
    else:
        measured = {k: v for k, (v, _) in res.metrics.items()}
        declared = spec["end_to_end"]
    if args.workload in {w["name"] for w in spec["workloads"]}:
        missing = sorted({m["name"] for m in declared} - set(measured))
        if missing:
            raise RuntimeError(f"declared metrics not measured: {missing}")
    metrics = {k: {"value": v, "unit": units.get(k, "s")} for k, v in measured.items()}
    result = {
        "correct": all(ok for ok, _ in res.checks) and res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
