"""The ``extract_resume`` workload.

One job is what ``jobs/extract_job.py`` runs: ``read_web_pages`` then
``run_extraction`` with the job's argument choices (fused mode, resume
on, the default error-rate gate, a metrics table), timed from the
table read to committed output plus lineage.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import random
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

from inputs import CORPUS_SEED
from sparkenv import build_session, stop_session, timed


class ExtractionWorkload:
    """The job runs with ``repartition_input=True`` (the job's
    ``--repartition-input``) against a resume pre-state: a seeded half of
    the urls already committed, and a seeded half of the failing urls
    outside it already failed in three runs (so quarantined). The
    pre-state depends on the corpus only, not on the run's seed, so it
    is built once per work dir."""

    name = "extract_resume"

    def __init__(self, work: str, seed: int, input_dir: str, corpus_dir: str,
                 urls: list[str], reference: dict):
        self.input_dir = input_dir
        self.corpus_dir = corpus_dir
        self.table = os.path.join(input_dir, "web_pages")
        self.urls = urls
        self.reference = reference
        self.run_dir = os.path.join(work, "runs", f"{self.name}-s{seed}")
        self.out = os.path.join(self.run_dir, "out")
        self.met = os.path.join(self.run_dir, "metrics")
        rng = random.Random(CORPUS_SEED)
        urls = sorted(self.urls)
        self._half = set(rng.sample(urls, len(urls) // 2))
        failing = [u for u in urls if reference[u] is None and u not in self._half]
        self.quarantine = set(rng.sample(failing, len(failing) // 2))
        self.committed = {u for u in self._half if reference[u] is not None}

    @property
    def docs(self) -> int:
        return len(self.urls)

    # -------------------------------------------------------------- job
    def job(self, spark, out: str | None = None, met: str | None = None, source=None) -> None:
        from karanta_ocr_spark.pipeline import ExtractConfig, run_extraction
        from karanta_ocr_spark.sources.web_pages import read_web_pages

        web = read_web_pages(spark, self.table) if source is None else source(spark)
        run_extraction(
            spark, web,
            cfg=ExtractConfig(max_page_error_rate=0.004),
            num_partitions=None,
            output_path=out or self.out,
            metrics_path=met or self.met,
            resume=True,
            mode="fused",
            repartition_input=True,
        )

    def warmup(self, spark) -> None:
        """One full-size job, the same as a timed one."""
        self.reset_output()
        self.job(spark)

    def reset_output(self) -> None:
        pristine = self._prestate_dir()
        for p in ("out", "metrics", "metrics_failures"):
            shutil.rmtree(os.path.join(self.run_dir, p), ignore_errors=True)
            shutil.copytree(os.path.join(pristine, p), os.path.join(self.run_dir, p))

    def timed_job(self, spark, group: str) -> float:
        self.reset_output()
        spark.sparkContext.setJobGroup(group, group)
        dt, _ = timed(self.job, spark)
        return dt

    # -------------------------------------------------- resume pre-state
    def _prestate_dir(self) -> str:
        return os.path.join(self.corpus_dir, "prestate")

    def ensure_prestate(self, cores: int, work: str) -> None:
        """Build the pre-state if this work dir has none, in a child
        process with its own JVM, so this process's set-up stays cold."""
        if os.path.exists(os.path.join(self._prestate_dir(), "_READY")):
            return
        proc = subprocess.run([sys.executable, os.path.abspath(__file__)],
                              input=pickle.dumps((self, cores, work)))
        if proc.returncode != 0:
            raise RuntimeError(f"pre-state build failed (exit code {proc.returncode})")

    def build_prestate(self, spark) -> None:
        """Create the pre-state through the program's own run_extraction
        calls: one run over the committed half and the quarantine set
        (whose urls fail, so are never committed), then two metrics-only
        runs over the quarantine set, for three failed runs in all."""
        from pyspark.sql import functions as F

        from karanta_ocr_spark.pipeline import run_extraction

        pristine = self._prestate_dir()
        shutil.rmtree(pristine, ignore_errors=True)
        out, met = os.path.join(pristine, "out"), os.path.join(pristine, "metrics")
        corpus = os.path.join(self.corpus_dir, "corpus.parquet")

        def subset(urls):
            return lambda s: s.read.parquet(corpus).where(F.col("url").isin(sorted(urls)))

        self.job(spark, out, met, subset(self._half | self.quarantine))
        for _ in range(2):
            run_extraction(spark, subset(self.quarantine)(spark), metrics_path=met,
                           repartition_input=True).count()
        with open(os.path.join(pristine, "_READY"), "w") as f:
            f.write("ok\n")

    # ------------------------------------------------------ correctness
    def _read_output(self) -> list[dict]:
        cols = ["url", "doc_id", "text", "spans", "n_pages", "n_failed"]
        return pq.read_table(self.out, columns=cols).to_pylist()

    def check(self) -> tuple[int, int, list[str]]:
        """Compare the committed output with the in-process reference.
        Returns (attempted, failed, notes); an operation is one input url."""
        bad: set[str] = set()
        notes: list[str] = []
        got: dict[str, tuple] = {}
        for r in self._read_output():
            u = r["url"]
            if u in got:
                bad.add(u)
                continue
            got[u] = (r["doc_id"], r["text"], [(s["start"], s["end"], s["page"]) for s in r["spans"]],
                      r["n_pages"], r["n_failed"])
        for u in self.urls:
            if self.reference[u] != got.pop(u, None):
                bad.add(u)
        if got:
            notes.append(f"{len(got)} output urls not in the input")
            bad.update(got)
        bad |= self._check_resume(notes)
        return self.docs, len(bad), notes

    def _check_resume(self, notes: list[str]) -> set[str]:
        """The timed run must skip exactly the committed urls and
        quarantine exactly the quarantine set. A committed url processed
        again would be appended twice, and an ok url left out would be
        missing (both caught by ``check``); here, the run's failure rows
        must be exactly the failing urls it was meant to process."""
        failures = pq.read_table(self.met + "_failures", columns=["run_id", "url"]).to_pylist()
        failed_now = {r["url"] for r in failures if r["run_id"] in self._new_runs()}
        expected = {u for u in self.urls
                    if self.reference[u] is None and u not in self.committed and u not in self.quarantine}
        if failed_now != expected:
            notes.append(f"failure rows differ on {len(failed_now ^ expected)} urls")
        return failed_now ^ expected

    def _new_runs(self) -> set[str]:
        prior = pq.read_table(os.path.join(self._prestate_dir(), "metrics"), columns=["run_id"])
        now = pq.read_table(self.met, columns=["run_id"])
        return set(now.column("run_id").to_pylist()) - set(prior.column("run_id").to_pylist())

    def lineage_rows_in_error(self) -> int:
        """|rows_in the timed run's lineage reports - urls it processed|."""
        new = self._new_runs()
        lineage = pq.read_table(self.met, columns=["run_id", "rows_in"]).to_pylist()
        rows_in = sum(r["rows_in"] for r in lineage if r["run_id"] in new)
        processed = sum(1 for u in self.urls if u not in self.committed and u not in self.quarantine)
        return abs(rows_in - processed)

    def output_digest(self) -> str:
        h = hashlib.sha256()
        for r in sorted(self._read_output(), key=lambda r: r["url"]):
            h.update(json.dumps([r["url"], r["doc_id"], r["text"],
                                 [[s["start"], s["end"], s["page"]] for s in r["spans"]],
                                 r["n_pages"], r["n_failed"]]).encode())
        return h.hexdigest()

    # -------------------------------------------------------- layers
    def layer_times(self, spark, kernel_ms_per_doc: float, cores: int) -> dict[str, float]:
        """Each Spark-layer public call of the job timed alone into a noop
        sink (best of two), on the job's own input and pre-state. Each
        frame includes the ones it is built on: filter_s includes a scan,
        and shuffle_s, arrow_roundtrip_s and extract_s include filter_s.
        write_s and lineage_s write frames materialized beforehand."""
        from karanta_ocr_spark.metrics import write_lineage
        from karanta_ocr_spark.pipeline import extract_documents_fused
        from karanta_ocr_spark.plans.partitioning import prepare_for_extraction
        from karanta_ocr_spark.resume import filter_already_committed, filter_known_failures
        from karanta_ocr_spark.sources.table_io import read_table, write_table

        sc = spark.sparkContext
        scratch = os.path.join(self.run_dir, "layers")
        shutil.rmtree(scratch, ignore_errors=True)

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        def best(group: str, make_df) -> float:
            sc.setJobGroup(group, group)
            return min(timed(noop, make_df())[0] for _ in range(2))

        def materialized(df):
            df = df.persist()
            df.count()
            return df

        def web():
            return read_table(spark, self.table, fmt="parquet")

        def unskipped():
            return filter_already_committed(spark, web(), self.out)

        def filtered():
            return filter_known_failures(spark, unskipped(), self.met, max_attempts=3)

        def roundtrip():
            src = filtered().select("url", "lang", "html")
            return src.mapInPandas(lambda it: (b for b in it), schema=src.schema)

        m: dict[str, float] = {}
        # The rows the last timed job appended: its output minus the pre-state.
        pre = read_table(spark, os.path.join(self._prestate_dir(), "out"), fmt="parquet")
        docs = materialized(read_table(spark, self.out, fmt="parquet").join(
            pre.select("url"), "url", "left_anti"))
        sc.setJobGroup("table_io.write_s", "table_io.write_s")
        m["table_io.write_s"], _ = timed(write_table, docs, os.path.join(scratch, "out"), "append")
        docs.unpersist()

        self.reset_output()
        raw = materialized(extract_documents_fused(filtered()))
        sc.setJobGroup("metrics.lineage_s", "metrics.lineage_s")
        m["metrics.lineage_s"], _ = timed(
            write_lineage, spark, raw, os.path.join(scratch, "metrics"), "perfbench", "layers")
        raw.unpersist()
        shutil.rmtree(scratch, ignore_errors=True)

        not_committed, processed = unskipped().count(), filtered().count()
        m["table_io.scan_s"] = best("table_io.scan_s", web)
        m["resume.filter_s"] = best("resume.filter_s", filtered)
        m["resume.skipped_frac"] = 1.0 - not_committed / self.docs
        m["resume.quarantined"] = float(not_committed - processed)
        m["partitioning.shuffle_s"] = best(
            "partitioning.shuffle_s",
            lambda: prepare_for_extraction(filtered(), max(sc.defaultParallelism, 8)))
        m["pipeline.arrow_roundtrip_s"] = best("pipeline.arrow_roundtrip_s", roundtrip)
        m["pipeline.extract_s"] = best(
            "pipeline.extract_s", lambda: extract_documents_fused(filtered()))
        ideal = kernel_ms_per_doc * processed / 1000.0 / cores
        m["pipeline.extract_overhead_s"] = (
            m["pipeline.extract_s"] - m["pipeline.arrow_roundtrip_s"] - ideal)
        return m


def _build_prestate_main() -> None:
    """Child-process entry of ``ensure_prestate``: the pickled
    (workload, cores, work dir) arrive on standard input."""
    workload, cores, work = pickle.load(sys.stdin.buffer)
    spark = build_session(cores, work)
    try:
        workload.build_prestate(spark)
    finally:
        stop_session(spark)


if __name__ == "__main__":
    _build_prestate_main()
