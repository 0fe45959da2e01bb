"""The Spark extraction pipeline.

Logical plan (SURVEY.md §7):

::

    web_pages (url, warc_ts, html binary, text, lang)
      │ scan (column-pruned: only url/html/lang reach the extractor)
      ├ resume: LEFT ANTI JOIN committed output ON url
      ├ salt + size-bucket repartition          (plans/partitioning)
      ├ mapInPandas(extract_pages)              (Arrow-batched kernel)
      ├ groupBy(url) JVM assembly               (higher-order fns —
      │    span math, sha1, error-rate gate; NO Python here)
      ├ filter(text != '')
      └ write parquet (Iceberg-ready)  +  lineage/metrics append

The per-page extraction is the only Python stage, and it is
Arrow-vectorized (one ``mapInPandas`` batch = many documents;
``input_hint``: "no per-row Python" — i.e. no row-at-a-time Spark
UDFs). Assembly replicates ``build_dolma_document``
(``karanta/pipeline.py:538-591``) byte-exactly in Catalyst
expressions, so the whole agg stage stays in whole-stage codegen.

A run with an output and a metrics table reads the resume snapshot
once and extracts once: the extracted frame is a ``localCheckpoint``,
and the three commits (output, lineage, failures) all consume it.
A ``persist()`` cannot do this, because each file-source write calls
``recacheByPath`` on its destination and the extracted plan reads all
three destinations, so every write after the first would re-run the
anti-joins against the new snapshot and extract again (see
:func:`run_extraction`).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from karanta_ocr_spark.plans.partitioning import apply_engine_conf, prepare_for_extraction

#: Output schema of the page-extraction stage.
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("lang", StringType()),
        StructField("page_num", IntegerType()),
        StructField("natural_text", StringType()),
        StructField("anchor_text", StringType()),
        StructField("ok", BooleanType()),
        StructField("error", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("extract_ms", DoubleType()),
    ]
)

#: reference --max_page_error_rate default (karanta/pipeline.py:1146-1151)
MAX_PAGE_ERROR_RATE = 0.004

#: Output schema of the fused extract+assemble stage.
DOCS_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("doc_id", StringType()),
        StructField("text", StringType()),
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("start", LongType()),
                        StructField("end", LongType()),
                        StructField("page", IntegerType()),
                    ]
                )
            ),
        ),
        StructField("n_pages", IntegerType()),
        StructField("n_failed", IntegerType()),
        StructField("lang", StringType()),
        StructField("ok", BooleanType()),
        StructField("error", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("extract_ms", DoubleType()),
    ]
)


@dataclass(frozen=True)
class ExtractConfig:
    max_page_error_rate: float = MAX_PAGE_ERROR_RATE
    anchor_budget: int = 4000  # karanta/prompts/anchor.py:349
    keep_anchor: bool = False  # anchor text is debug/parity output

    def config_hash(self) -> str:
        import hashlib
        import json

        blob = json.dumps(self.__dict__, sort_keys=True, default=str)
        return hashlib.sha1(blob.encode()).hexdigest()[:16]


def extract_pages(df: DataFrame, cfg: ExtractConfig | None = None) -> DataFrame:
    """url/html → one row per extracted page, via the pure kernel
    inside Arrow batches. Per-document failure isolation: a bad doc
    becomes an ``ok=false`` row, never a task failure (mirrors
    ``karanta/pipeline.py:522-532``)."""
    cfg = cfg or ExtractConfig()
    keep_anchor = cfg.keep_anchor
    anchor_budget = cfg.anchor_budget

    def run(batches: Iterator) -> Iterator:
        # Imports inside the worker function: the kernel is pure
        # stdlib, shipped with --py-files; nothing heavy loads here.
        import pandas as pd
        from pyspark import TaskContext

        from karanta_ocr_spark.kernel.extract import extract_document

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in PAGES_SCHEMA.fields}
            urls = pdf["url"].tolist()
            langs = pdf["lang"].tolist() if "lang" in pdf else [None] * len(urls)
            payloads = pdf["html"].tolist()
            for url, lang, payload in zip(urls, langs, payloads):
                t0 = time.perf_counter()
                pages = extract_document(
                    url, payload if payload is not None else b"", anchor_budget
                )
                dt_ms = (time.perf_counter() - t0) * 1000.0
                per_page = dt_ms / max(len(pages), 1)
                for p in pages:
                    out["url"].append(url)
                    out["lang"].append(lang)
                    out["page_num"].append(p.page_num)
                    out["natural_text"].append(p.natural_text)
                    out["anchor_text"].append(p.anchor_text if keep_anchor else None)
                    out["ok"].append(p.ok)
                    out["error"].append(p.error)
                    out["partition_id"].append(pid)
                    out["extract_ms"].append(per_page)
            yield pd.DataFrame(out)

    return df.select("url", "lang", "html").mapInPandas(run, schema=PAGES_SCHEMA)


def extract_documents_fused(df: DataFrame, cfg: ExtractConfig | None = None) -> DataFrame:
    """Fused extract+assemble: one mapInPandas pass, ZERO shuffles.

    A web document's bytes arrive as one row, so every page of a doc
    is already colocated — the page fan-out + groupBy(url) of the
    staged path (which mirrors the reference's worker architecture,
    ``karanta/pipeline.py:496-521``) is a shuffle the data model
    doesn't require. The kernel assembles in-process with the exact
    same span math; ``tests/test_spark_pipeline.py`` proves fused and
    staged outputs byte-identical. Use staged only when page-level
    rows are themselves an output.
    """
    cfg = cfg or ExtractConfig()
    rate = cfg.max_page_error_rate
    anchor_budget = cfg.anchor_budget

    def run(batches: Iterator) -> Iterator:
        import pandas as pd
        from pyspark import TaskContext

        from karanta_ocr_spark.kernel.assemble import assemble_document
        from karanta_ocr_spark.kernel.extract import extract_document

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in DOCS_SCHEMA.fields}
            langs = pdf["lang"].tolist() if "lang" in pdf else [None] * len(pdf)
            for url, lang, payload in zip(pdf["url"].tolist(), langs, pdf["html"].tolist()):
                t0 = time.perf_counter()
                pages = extract_document(
                    url, payload if payload is not None else b"", anchor_budget
                )
                doc = assemble_document(url, pages, max_page_error_rate=rate)
                dt_ms = (time.perf_counter() - t0) * 1000.0
                out["url"].append(url)
                out["lang"].append(lang)
                out["partition_id"].append(pid)
                out["extract_ms"].append(dt_ms)
                if doc is None:
                    # Dropped doc (empty text or error-rate gate): keep
                    # the row for lineage; run_extraction filters it
                    # out of the committed output.
                    first_err = next((p.error for p in pages if p.error), None)
                    out["doc_id"].append(None)
                    out["text"].append(None)
                    out["spans"].append([])
                    out["n_pages"].append(len(pages))
                    out["n_failed"].append(sum(1 for p in pages if not p.ok))
                    out["ok"].append(False)
                    out["error"].append(first_err or "empty_text_or_error_rate")
                else:
                    out["doc_id"].append(doc.doc_id)
                    out["text"].append(doc.text)
                    out["spans"].append(
                        [{"start": s, "end": e, "page": p} for s, e, p in doc.spans]
                    )
                    out["n_pages"].append(doc.n_pages)
                    out["n_failed"].append(doc.n_failed)
                    out["ok"].append(True)
                    out["error"].append(None)
            yield pd.DataFrame(out)

    return df.select("url", "lang", "html").mapInPandas(run, schema=DOCS_SCHEMA)


# SQL fragments for the JVM-side assembly. `pages` is the
# page-num-sorted array<struct<page_num,natural_text,ok>>; `contents`
# is the reference's per-page content: text + "\n" on every non-last
# page, but a None page contributes "" with NO newline
# (karanta/pipeline.py:544-550 — this is why array_join(texts, '\n')
# would be wrong).
_CONTENTS_EXPR = """
transform(pages, (p, i) ->
  CASE WHEN p.natural_text IS NULL THEN ''
       ELSE p.natural_text || IF(i < size(pages) - 1, '\n', '')
  END)
"""

_SPANS_EXPR = """
aggregate(
  arrays_zip(contents, pages),
  named_struct(
    'pos', cast(0 as bigint),
    'spans', cast(array() as array<struct<start:bigint,end:bigint,page:int>>)),
  (acc, z) -> named_struct(
    'pos', acc.pos + length(z.contents),
    'spans', array_append(acc.spans, named_struct(
        'start', acc.pos,
        'end', acc.pos + length(z.contents),
        'page', cast(z.pages.page_num as int)))),
  acc -> acc.spans)
"""


def assemble_documents(
    pages: DataFrame, cfg: ExtractConfig | None = None
) -> DataFrame:
    """Per-page rows → assembled documents. 100% Catalyst expressions:
    the span fold, sha1, sums and gates all run JVM-side (whole-stage
    codegen), replicating ``build_dolma_document``
    (``karanta/pipeline.py:538-591``) + the error-rate gate
    (``:507-515``) byte-exactly."""
    cfg = cfg or ExtractConfig()

    per_doc = pages.groupBy("url").agg(
        # array_sort on struct array sorts by leading field page_num —
        # the explicit ordering the reference gets from task creation
        # order (pipeline.py:497-505); never rely on collect order.
        F.array_sort(
            F.collect_list(F.struct("page_num", "natural_text", "ok"))
        ).alias("pages"),
        F.first("lang", ignorenulls=True).alias("lang"),
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("n_failed"),
    )

    # Error-rate gate BEFORE building text (cheap filter first).
    gated = per_doc.filter(
        F.col("n_failed") / F.col("n_pages") <= F.lit(cfg.max_page_error_rate)
    )

    assembled = (
        gated.withColumn("contents", F.expr(_CONTENTS_EXPR))
        .withColumn("text", F.array_join("contents", ""))
        .filter(F.length("text") > 0)  # pipeline.py:557-559
        .withColumn("spans", F.expr(_SPANS_EXPR))
        .withColumn("doc_id", F.sha1(F.col("text")))  # pipeline.py:571
    )
    return assembled.select(
        "url", "doc_id", "text", "spans",
        F.col("n_pages").cast("int").alias("n_pages"),
        F.col("n_failed").cast("int").alias("n_failed"),
        "lang",
    )


OUTPUT_COLS = ["url", "doc_id", "text", "spans", "n_pages", "n_failed", "lang"]


def with_rotation_attributes(docs: DataFrame) -> DataFrame:
    """Schema parity with the reference's Dolma attributes
    (``karanta/pipeline.py:582-589``): it carries the VLM retry loop's
    ``rotation_correction`` / ``is_rotation_valid`` per document
    (``karanta/data/utils.py:619``). This pipeline has no VLM rotation
    loop (SURVEY T5: metadata retained), so the values are the
    constants the reference emits on the no-rotation path: 0/true."""
    return docs.withColumn("rotation_correction", F.lit(0).cast("int")).withColumn(
        "is_rotation_valid", F.lit(True)
    )


def _release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint``-ed frame now.
    ``DataFrame.unpersist`` is a no-op on one: the blocks belong to the
    RDD under the checkpoint's logical plan, not to a cached plan."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(True)


def run_extraction(
    spark: SparkSession,
    web_pages: DataFrame,
    cfg: ExtractConfig | None = None,
    num_partitions: int | None = None,
    output_path: str | None = None,
    metrics_path: str | None = None,
    resume: bool = True,
    mode: str = "fused",
    repartition_input: bool = True,
    apply_conf: bool = True,
) -> DataFrame:
    """End-to-end: web_pages → assembled documents DataFrame.

    *mode* ``"fused"`` (default): extract+assemble in one mapInPandas
    pass — zero shuffles, the right plan when each doc is one input
    row. ``"staged"``: page rows → JVM groupBy assembly (one shuffle)
    — use when page-level rows are an output of interest. Both produce
    byte-identical documents (tested).

    *repartition_input*: salt-shuffle the input to *num_partitions*
    first. Right when the source's splits are few or skewed (one hot
    domain's files, a directory of giant PDFs). Wrong when the scan
    already yields balanced splits — extraction is map-only, so the
    shuffle is a full extra disk round-trip of the corpus; pass False
    and size ``spark.sql.files.maxPartitionBytes`` for the CPU-bound
    scan instead.

    If *output_path* is given, writes parquet (snapshot-commit
    semantics come from the atomic parquet/Iceberg commit) and — when
    *resume* — anti-joins the already-committed urls first: the
    reference's skip-if-done (bulk_processing/workers/
    inference_worker.py:316-321) as one distributed join.

    With both *output_path* and *metrics_path*, the run reads the
    resume snapshot once and extracts once. The extracted frame is a
    lazy ``localCheckpoint``: the output append computes it and stores
    its blocks, and the lineage and failure writes read those blocks,
    so the lineage counts exactly the docs this run processed. The
    blocks are released when the writes finish. A ``persist()`` would
    not survive the first write: Spark's file-source write calls
    ``recacheByPath`` on its destination, which drops every cached
    plan reading that path, and this plan reads the output (resume)
    and both metrics tables (quarantine). The trade-off: the blocks
    live only on executors, so if one is lost after the output commit
    the lineage write fails instead of recomputing. The output is
    committed by then, so a re-run resumes cleanly past it.
    """
    cfg = cfg or ExtractConfig()
    if apply_conf:
        # Engine defaults (AQE, Arrow batch size, scan split size).
        # Pass apply_conf=False when the session owner tuned these —
        # this runtime set would silently override builder/session
        # values (it bit the bench's scan-split sizing once).
        apply_engine_conf(spark)
    if num_partitions is None:
        num_partitions = max(spark.sparkContext.defaultParallelism, 8)

    df = web_pages
    if output_path and resume:
        from karanta_ocr_spark.resume import (
            filter_already_committed,
            filter_known_failures,
        )

        df = filter_already_committed(spark, df, output_path)
        if metrics_path:
            # Quarantine docs that failed too many prior runs (they are
            # never committed, so snapshot resume alone retries forever).
            df = filter_known_failures(spark, df, metrics_path, max_attempts=3)

    if repartition_input:
        df = prepare_for_extraction(df, num_partitions)

    extracted = (
        extract_documents_fused(df, cfg) if mode == "fused" else extract_pages(df, cfg)
    )
    if metrics_path and output_path:
        # One extraction for three commits; a persist() would be
        # dropped by the first write's recacheByPath (see docstring).
        extracted = extracted.localCheckpoint(eager=False)
    elif metrics_path:
        extracted = extracted.persist()
    if mode == "fused":
        docs = extracted.filter(F.col("ok")).select(*OUTPUT_COLS)
    else:
        docs = assemble_documents(extracted, cfg)
    docs = with_rotation_attributes(docs)

    def _emit_metrics() -> None:
        from karanta_ocr_spark.metrics import write_lineage

        write_lineage(
            spark, extracted, metrics_path,
            run_id=uuid.uuid4().hex[:12], config_hash=cfg.config_hash(),
        )

    if output_path:
        # Through the table-IO seam: Iceberg snapshot-commit append on
        # an equipped cluster, parquet job-commit append here — both
        # all-or-nothing, which is what the resume anti-join requires.
        from karanta_ocr_spark.sources.table_io import read_table, write_table

        try:
            write_table(docs, output_path, mode="append")
            if metrics_path:
                _emit_metrics()
        finally:
            if metrics_path:
                _release_checkpoint(extracted)
        return read_table(spark, output_path)

    if metrics_path:
        # No-output metrics variant (REPL/inspection): emit lineage —
        # the two writes are the caller's explicit ask — but do NOT
        # materialize docs too (an eager persist+count here cost one
        # whole extra job). `extracted` stays
        # persisted instead: docs is a filter+select over it, so the
        # caller's own first action reuses the cache rather than
        # re-running extraction; the cache is bounded by the input and
        # is dropped by Spark's LRU or an explicit unpersist. Nothing
        # here writes a path the plan reads, so the cache survives.
        _emit_metrics()
    return docs
