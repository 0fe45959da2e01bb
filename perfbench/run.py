#!/usr/bin/env python3
"""Repository benchmark: two seeded workloads through the program's
public entry points, with end-to-end metrics (``--trace 0``) or
per-layer metrics from a traced run (``--trace 1``).

    python3 perfbench/run.py --workload extract_resume --seed 1 --seconds 12 --trace 0

Run it from the repository root. Inputs, outputs, Spark scratch space
and span files go under ``.perfbench/`` there. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). See
``perfbench/README.md`` for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("extract_resume", "curate")
DEFAULT_SEED = 1
#: Fewest timed extraction jobs / curate chains per run, however short
#: --seconds is. The first one after set-up is still on the JIT warm-up
#: curve: it is checked like the others but left out of the medians.
MIN_UNITS = 5
CORES = 4


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def metric_units(trace: int) -> dict[str, str]:
    """Name -> unit of the metrics a run prints, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def set_up(cores: int, warmup) -> tuple[float, object]:
    """The cold set-up a job pays: start the JVM and build the
    SparkSession, then one full-size warm-up job, which also spawns the
    Python workers and pays the first-execution cost."""
    from sparkenv import build_session, stop_session

    t0 = time.perf_counter()
    spark = build_session(cores, WORK)
    try:
        warmup(spark)
    except BaseException:
        stop_session(spark)
        raise
    return time.perf_counter() - t0, spark


# ------------------------------------------------------------ extraction
def extraction_run(args, cores: int) -> tuple[dict, int, int, list[str]]:
    import inputs
    from extraction import ExtractionWorkload
    from sparkenv import WorkerRssSampler, stop_session
    from tracing import kernel_pass

    t0 = time.perf_counter()
    inp = inputs.extract_input(WORK, args.seed)
    corpus = inputs.corpus_dir(WORK)
    rows = inputs.read_corpus_rows(WORK)
    ref_path = os.path.join(corpus, "reference.json")
    if args.trace or not os.path.exists(ref_path):
        ref_docs, ref_ms, ref_pages = kernel_pass(rows)
        with open(ref_path + ".tmp", "w") as f:
            json.dump(ref_docs, f)
        os.replace(ref_path + ".tmp", ref_path)
    else:
        with open(ref_path) as f:
            ref_docs = {u: None if d is None else (d[0], d[1], [tuple(s) for s in d[2]], d[3], d[4])
                        for u, d in json.load(f).items()}
    w = ExtractionWorkload(WORK, args.seed, inp, corpus, [r["url"] for r in rows], ref_docs)
    t1 = time.perf_counter()
    w.ensure_prestate(cores, WORK)
    log(f"inputs and reference: {t1 - t0:.1f}s for {w.docs} docs; "
        f"resume pre-state: {time.perf_counter() - t1:.1f}s")
    attempted = failed = 0
    notes: list[str] = []
    m: dict[str, float] = {}

    def checked_job(spark, group: str) -> float:
        nonlocal attempted, failed
        rss.arm()
        dt = w.timed_job(spark, group)
        rss.disarm()
        a, f, n = w.check()
        attempted, failed = attempted + a, failed + f
        notes.extend(n)
        return dt

    with WorkerRssSampler() as rss:
        setup_s, spark = set_up(cores, w.warmup)
        try:
            if not args.trace:
                walls: list[float] = []
                while len(walls) < MIN_UNITS or sum(walls) < args.seconds:
                    walls.append(checked_job(spark, f"job-{len(walls)}"))
                m["suite_s"] = statistics.median(walls[1:])
                m["docs_per_s"] = w.docs / m["suite_s"]
                m["setup_s"] = setup_s
                m["worker_peak_rss_mb"] = rss.peak_mb
                log(f"set-up {setup_s:.3f}s, jobs {[round(x, 3) for x in walls]} s, "
                    f"{rss.samples} rss samples")
                log(f"lineage rows_in error of the last job: {w.lineage_rows_in_error()}")
            else:
                m.update(extraction_trace(args, w, spark, cores, checked_job, rows,
                                          ref_docs, ref_ms, ref_pages))
            if not notes:  # the output does not depend on the seed's layout
                digest = w.output_digest()
                with open(os.path.join(HERE, "digests.json")) as f:
                    pinned = json.load(f).get(args.workload)
                if digest != pinned:
                    notes.append(f"output digest {digest} != pinned {pinned}")
                    failed += 1
        finally:
            stop_session(spark)
    return m, attempted, failed, notes


#: Order of untraced and traced units in a traced run, after one
#: settling unit: balanced against the warm-up drift, so the overhead
#: estimate is not biased by it.
ABBA = ("traced", "plain", "plain", "traced")

PIPELINE_PROBES = [
    ("karanta_ocr_spark.resume", "filter_already_committed", "resume"),
    ("karanta_ocr_spark.resume", "filter_known_failures", "resume"),
    ("karanta_ocr_spark.pipeline", "prepare_for_extraction", "plans.partitioning"),
    ("karanta_ocr_spark.pipeline", "extract_documents_fused", "pipeline"),
    ("karanta_ocr_spark.sources.table_io", "write_table", "sources.table_io"),
    ("karanta_ocr_spark.sources.table_io", "read_table", "sources.table_io"),
    ("karanta_ocr_spark.metrics", "write_lineage", "metrics"),
]


def extraction_trace(args, w, spark, cores, checked_job, rows, ref_docs, ref_ms, ref_pages):
    import importlib

    from sparkenv import StageStats, pin_process_tree
    from tracing import Tracer, kernel_layer_metrics

    tracer = Tracer(uuid.uuid4().hex[:12])
    walls: dict[str, list[float]] = {"plain": [], "traced": []}
    checked_job(spark, "job-settle")
    for i, kind in enumerate(ABBA):
        if kind == "plain":
            walls[kind].append(checked_job(spark, f"job-{i}"))
            continue
        for mod, attr, layer in PIPELINE_PROBES:
            tracer.wrap(importlib.import_module(mod), attr, layer)
        try:
            walls[kind].append(tracer.span("job", checked_job, spark, f"job-{i}"))
        finally:
            tracer.restore()
    plain, traced = statistics.median(walls["plain"]), statistics.median(walls["traced"])
    m = spark_metrics(StageStats(spark, [f"job-{ABBA.index('plain')}"]), walls["plain"][0], cores)
    m["metrics.lineage_rows_in_error"] = float(w.lineage_rows_in_error())
    m["trace.docs_per_s"] = w.docs / traced
    m["trace.overhead_frac"] = traced / plain - 1.0

    km = kernel_layer_metrics(rows, ref_ms, ref_pages, ref_docs, tracer)
    m.update(km)
    m.update(w.layer_times(spark, km["kernel.extract.ms_per_doc"], cores))
    # extract_s includes the scan and the resume filters; shuffle_s does too.
    attributed = (m["pipeline.extract_s"] + m["table_io.write_s"] + m["metrics.lineage_s"]
                  + m["partitioning.shuffle_s"] - m["resume.filter_s"])
    m["trace.unattributed_s"] = plain - attributed
    # Scaling pair: the same session's job on all cores, then pinned to one.
    m["scaling.p4_docs_per_s"] = w.docs / plain
    pin_process_tree({min(os.sched_getaffinity(0))})
    m["scaling.p1_docs_per_s"] = w.docs / checked_job(spark, "job-p1")
    m["scaling.efficiency"] = m["scaling.p4_docs_per_s"] / (cores * m["scaling.p1_docs_per_s"])
    write_spans(tracer, args)
    return m


def spark_metrics(st, wall: float, cores: int) -> dict[str, float]:
    return {
        "spark.jobs": float(st.jobs),
        "spark.stages": float(st.stages),
        "spark.tasks": float(st.tasks),
        "spark.executor_run_s": st.executor_run_s,
        "spark.executor_cpu_s": st.executor_cpu_s,
        "spark.cpu_util": st.executor_cpu_s / (wall * cores) if wall > 0 else 0.0,
        "spark.shuffle_write_mb": st.shuffle_write_mb,
        "spark.shuffle_read_mb": st.shuffle_read_mb,
        "spark.spill_mb": st.spill_mb,
        "spark.task_skew": st.task_skew,
    }


def write_spans(tracer, args) -> None:
    d = os.path.join(WORK, "traces")
    os.makedirs(d, exist_ok=True)
    tracer.write(os.path.join(d, f"{args.workload}-s{args.seed}-{tracer.run_id}.jsonl"))


# ---------------------------------------------------------------- curate
def curate_run(args, cores: int) -> tuple[dict, int, int, list[str]]:
    import inputs
    from curate import QUERIES, CurateWorkload
    from sparkenv import StageStats, WorkerRssSampler, stop_session
    from tracing import Tracer

    w = CurateWorkload(inputs.curate_input(WORK, args.seed))
    w.expected()  # DuckDB oracles, before Spark starts
    attempted = failed = 0
    notes: list[str] = []
    m: dict[str, float] = {}

    def checked_chain(spark, tag: str, tracer=None):
        nonlocal attempted, failed
        rss.arm()
        wall, per, results = w.chain(spark, tag, tracer)
        rss.disarm()
        a, f, n = w.check(results)
        attempted, failed = attempted + a, failed + f
        notes.extend(n)
        return wall, per

    with WorkerRssSampler() as rss:
        setup_s, spark = set_up(cores, w.warmup)
        try:
            if not args.trace:
                per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
                walls: list[float] = []
                while len(walls) < MIN_UNITS or sum(walls) < args.seconds:
                    wall, per = checked_chain(spark, f"chain-{len(walls)}")
                    walls.append(wall)
                    for q in QUERIES:
                        per_query[q].append(per[q])
                # Per-query medians: a stall in one query moves one term.
                m["suite_s"] = sum(statistics.median(v[1:]) for v in per_query.values())
                m["docs_per_s"] = w.docs / m["suite_s"]
                m["setup_s"] = setup_s
                m["worker_peak_rss_mb"] = rss.peak_mb
                log(f"set-up {setup_s:.3f}s, chains {[round(x, 3) for x in walls]} s, "
                    f"{rss.samples} rss samples")
            else:
                tracer = Tracer(uuid.uuid4().hex[:12])
                walls = {"plain": [], "traced": []}
                checked_chain(spark, "settle")
                for i, kind in enumerate(ABBA):
                    wall, per_i = checked_chain(spark, f"{kind}-{i}",
                                                tracer if kind == "traced" else None)
                    walls[kind].append(wall)
                    if i == 0:
                        per = per_i
                plain, traced = statistics.median(walls["plain"]), statistics.median(walls["traced"])
                tags = {q: f"{q}#traced-0" for q in QUERIES}
                m.update(spark_metrics(StageStats(spark, list(tags.values())),
                                       walls["traced"][0], cores))
                for q, tag in tags.items():
                    st = StageStats(spark, [tag])
                    m[f"query.{q}.s"] = per[q]
                    m[f"query.{q}.jobs"] = float(st.jobs)
                    m[f"query.{q}.shuffle_mb"] = st.shuffle_write_mb + st.shuffle_read_mb
                    m[f"query.{q}.executor_cpu_s"] = st.executor_cpu_s
                m["trace.docs_per_s"] = w.docs / traced
                m["trace.overhead_frac"] = traced / plain - 1.0
                m["trace.unattributed_s"] = walls["traced"][0] - sum(per.values())
                write_spans(tracer, args)
        finally:
            stop_session(spark)
    return m, attempted, failed, notes


# ------------------------------------------------------------------ main
def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "karanta_ocr_spark", "__init__.py")):
        print(f"perfbench: no karanta_ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    cpus = sorted(os.sched_getaffinity(0))[:CORES]
    os.sched_setaffinity(0, cpus)
    cores = len(cpus)
    sys.path.insert(0, ROOT)
    # Python workers import the package from the checkout; temporary
    # files (the JVM's connection file among them) stay in the work dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    units = metric_units(args.trace)

    from sparkenv import become_subreaper, reap_descendants

    # Every process the run starts (the JVMs, the pyspark daemon and its
    # workers, the pre-state child) has ended before the run returns.
    become_subreaper()
    try:
        if args.workload == "curate":
            m, attempted, failed, notes = curate_run(args, cores)
        else:
            m, attempted, failed, notes = extraction_run(args, cores)
    finally:
        reap_descendants()
    if not args.trace:
        m["correct_frac"] = 1.0 - failed / attempted
    for n in notes[:20]:
        log(f"check: {n}")
    unknown = set(m) - set(units)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # A layer the workload bypasses did no work: its metrics read 0.
    metrics = {k: {"value": float(m.get(k, 0.0)), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
