#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 20 --trace 0

Workloads: ``stream_live`` and ``batch_faces`` (BENCHMARK.json), and
``drain_backlog``, which runs by hand (see README.md). With ``--trace 0``
the result carries every end-to-end metric of BENCHMARK.json; with
``--trace 1`` every per-layer metric, and the run's spans are written to
``.bench_out/``. A workload outside BENCHMARK.json reports every metric
it measured. Every result is also appended
to ``.bench_out/results.jsonl``; ``--summary`` prints the per-workload
medians from that file and the tracing overhead, from seeds run both
with and without tracing.

Run from the repository root; everything the run writes stays under it.
"""

from __future__ import annotations

import time

STARTED = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("stream_live", "drain_backlog", "batch_faces")


def spark_session(work: str, cpus: int):
    from redix_stream_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def unit_of(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"),
                         ("_bytes", "bytes"), ("_share", "share")):
        if name.endswith(suffix):
            return unit
    return "count"


def run_workload(args, spec: dict, work: str) -> dict:
    import numpy as np

    from harness import METRIC_NAME, Run, StealMeter, Tracer

    steal = StealMeter()
    steal.start()
    tracer = Tracer(bool(args.trace))
    cpus = min(4, len(os.sched_getaffinity(0)))
    with tracer.span("session.get_spark"):
        t = time.perf_counter()
        spark = spark_session(work, cpus)
        get_spark_s = time.perf_counter() - t
    try:
        run = Run(
            spark,
            tracer,
            work,
            np.random.default_rng(args.seed),
            args.seconds,
            args.latency_limit_s,
            STARTED,
        )
        run.layer["session.get_spark_s"] = get_spark_s
        if args.workload == "batch_faces":
            from faces import batch_faces as fn
        else:
            import stream

            fn = getattr(stream, args.workload)
        fn(run)
    finally:
        stop_session(spark)
    run.layer["host.steal_share"] = steal.share()
    run.layer["trace.spans"] = len(tracer.spans)
    run.e2e["setup_s"] = run.setup_s
    for name, value in run.e2e.items():
        run.layer[f"trace.{name}"] = value
    source = run.layer if args.trace else run.e2e
    listed = any(w["name"] == args.workload for w in spec["workloads"])
    if listed:
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    else:  # a workload outside BENCHMARK.json reports what it measured
        wanted = [{"name": n, "unit": unit_of(n)} for n in sorted(source)]
    metrics = {}
    for m in wanted:
        if not METRIC_NAME.match(m["name"]):
            raise ValueError(f"bad metric name {m['name']!r}")
        # A layer this workload does not exercise did no work: 0.
        value = source.get(m["name"], 0.0) if args.trace else source[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    for p in run.problems:
        print(f"problem: {p}", file=sys.stderr)
    if args.trace:
        os.makedirs(OUT, exist_ok=True)
        tracer.write(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
    print(
        f"# {args.workload} seed={args.seed} trace={args.trace} "
        f"steal_share={run.layer['host.steal_share']:.4f} cpus={cpus}"
    )
    return {
        "correct": run.failed == 0 and not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
        "_record": {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "steal_share": run.layer["host.steal_share"],
            "e2e": run.e2e,
        },
    }


def summary() -> None:
    """Per workload, the median of each end-to-end metric over the latest
    untraced run of every seed, and the tracing overhead: the median over
    seeds run both ways of traced ÷ untraced − 1."""
    from harness import median

    latest: dict[tuple[str, int, int], dict] = {}
    with open(os.path.join(OUT, "results.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            latest[rec["workload"], rec["seed"], rec["trace"]] = rec
    for workload in WORKLOADS:
        plain = {s: r for (w, s, t), r in latest.items() if w == workload and not t}
        if not plain:
            continue
        traced = {s: r for (w, s, t), r in latest.items() if w == workload and t}
        both = sorted(plain.keys() & traced.keys())
        steal = median([r["steal_share"] for r in plain.values()])
        print(f"{workload}: {len(plain)} seeds untraced, {len(both)} also traced, "
              f"steal {steal:.3f}")
        for name in next(iter(plain.values()))["e2e"]:
            value = median([r["e2e"][name] for r in plain.values()])
            line = f"  {name:12s} {value:12.4f}"
            if both:
                ratio = median(
                    [traced[s]["e2e"][name] / plain[s]["e2e"][name] for s in both]
                )
                line += f"  traced/untraced {ratio - 1:+.1%}"
            print(line)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--latency-limit-s",
        type=float,
        default=4.0,
        help="stream_live goodput counts messages delivered within this",
    )
    ap.add_argument("--summary", action="store_true")
    args = ap.parse_args()
    if args.summary:
        summary()
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "redix_stream_spark")):
        print("redix_stream_spark is not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark, its Python workers and tempfile all write under the run's
    # work dir; workers import perfbench modules from the repo root.
    # -XX:-UsePerfData keeps the launcher and driver JVMs from writing
    # /tmp/hsperfdata_<user>.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} -XX:-UsePerfData".strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT]
    # On SIGTERM, unwind through the finally blocks that stop Spark and
    # delete the work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run_workload(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when other runs are live
            os.rmdir(os.path.dirname(work))
    record = result.pop("_record")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
