"""The ``batch_faces`` workload: six registry faces at sf0.01, pass after
pass, each fully materialized through the noop sink.

Warm-up is the output check (every face run cold, collected and hashed
against its DuckDB oracle on the same parquet) followed by one untimed
noop pass.
Traced passes give each face its own job group and, after the timed
section, read its jobs, stages and tasks from the status tracker and its
executor and shuffle totals from the status store.
"""

from __future__ import annotations

import os
import time

import duckdb

from redix_stream_spark import registry

from datagen import TABLES, write_sf_tables
from harness import group_jobs, median, result_hash, stage_totals

#: One face per registry layer it exercises: operators.relational (q01),
#: llm.dedup (q36, q80b), operators.graph (q156, q176), llm.similarity
#: (q169).
FACES = (
    "q01_pricing_summary",
    "q36_minhash_lsh_neardup",
    "q80b_neardup_clusters_star",
    "q156_kcore_decomposition",
    "q169_knn_graph",
    "q176_link_prediction",
)

#: Seconds of the run's budget one timed pass stands for (a warm pass
#: takes 9-11 s on a 4-vCPU host at low steal, and the run's set-up about
#: 45 s, so a 15 s budget buys two passes).
PASS_BUDGET_S = 7.5

#: Per-face per-layer metrics (suffixes of ``face.<name>.``).
FACE_METRICS = (
    "build_s",
    "exec_s",
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
)


def check_faces(run, sf_dir: str) -> set[str]:
    """Hash each face's result and its oracle's; returns the faces that
    failed (mismatch or exception)."""
    queries, oracle = registry.all_queries(), registry.all_oracle_sql()
    duck = duckdb.connect()
    try:
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        bad = set()
        for face in FACES:
            try:
                with run.tracer.span("face.check", face=face):
                    df = queries[face](run.spark, sf_dir)
                    got = result_hash(df.columns, df.collect())
                cur = duck.execute(oracle[face])
                want = result_hash([d[0] for d in cur.description], cur.fetchall())
            except Exception as e:
                run.problems.append(f"{face} check: {e!r}")
                bad.add(face)
                continue
            if got != want:
                run.problems.append(f"{face}: result {got} != oracle {want}")
                bad.add(face)
        return bad
    finally:
        duck.close()


def one_pass(run, sf_dir: str, tag: str) -> tuple[float, dict, list[str]]:
    """Run every face once. Returns (pass wall, per-face (build, exec,
    job group), faces that raised)."""
    spark, tracer = run.spark, run.tracer
    sc = spark.sparkContext
    queries = registry.all_queries()
    per_face: dict[str, tuple[float, float, str]] = {}
    errors = []
    start = time.perf_counter()
    with tracer.span("pass", tag=tag):
        for face in FACES:
            group = f"{tag}.{face}"
            if tracer.enabled:
                sc.setJobGroup(group, face)
            try:
                with tracer.span(f"face.{face}.build"):
                    t0 = time.perf_counter()
                    df = queries[face](spark, sf_dir)
                    t1 = time.perf_counter()
                with tracer.span(f"face.{face}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as e:
                run.problems.append(f"{tag} {face}: {e!r}")
                errors.append(face)
                continue
            per_face[face] = (t1 - t0, t2 - t1, group)
    wall = time.perf_counter() - start
    if tracer.enabled:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return wall, per_face, errors


def _face_layers(run, passes: list[dict]) -> None:
    """Per-face medians over the timed passes, stage data read after
    the timed section."""
    sc = run.spark.sparkContext
    for face in FACES:
        rows = []
        for per_face in passes:
            if face not in per_face:
                continue
            build, exe, group = per_face[face]
            jobs, stages = group_jobs(sc, group)
            totals = stage_totals(sc, stages)
            rows.append(
                {
                    "build_s": build,
                    "exec_s": exe,
                    "jobs": len(jobs),
                    "stages": totals["stages"],
                    "tasks": totals["tasks"],
                    **{k: totals[k] for k in FACE_METRICS[5:]},
                }
            )
        for metric in FACE_METRICS:
            vals = [r[metric] for r in rows]
            run.layer[f"face.{face}.{metric}"] = median(vals) if vals else 0.0


def batch_faces(run) -> None:
    """Closed loop: one operation is one face; a pass runs all six.

    The number of timed passes is fixed by the run's seconds, one per
    PASS_BUDGET_S, at least two, so that a slower host runs longer rather
    than fewer passes.
    """
    sf_dir = os.path.join(run.work, "sf0.01")
    write_sf_tables(run.rng, sf_dir)
    run.warmup_starts()
    bad = check_faces(run, sf_dir)
    one_pass(run, sf_dir, "warm")
    run.timing_starts()
    walls: list[float] = []
    passes: list[dict] = []
    for p in range(max(2, round(run.seconds / PASS_BUDGET_S))):
        wall, per_face, errors = one_pass(run, sf_dir, f"p{p}")
        run.attempted += len(FACES)
        run.failed += len(set(errors) | bad)
        walls.append(wall)
        passes.append(per_face)
    run.e2e["op_p50_s"] = median(walls)
    run.e2e["work_per_s"] = len(FACES) * len(walls) / sum(walls)
    run.layer["batch.passes"] = len(walls)
    if run.tracer.enabled:
        _face_layers(run, passes)
