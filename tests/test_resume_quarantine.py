"""Failure quarantine: permanently-failing docs stop being retried
after max_attempts runs (lineage-driven, no mutable state)."""

import pytest
from pyspark.sql import functions as F

from karanta_ocr_spark.metrics import failures_path
from karanta_ocr_spark.pipeline import run_extraction
from karanta_ocr_spark.resume import filter_known_failures
from karanta_ocr_spark.sources.web_pages import synthetic_web_pages


def test_failed_docs_quarantined_after_attempts(spark, tmp_path):
    out = str(tmp_path / "extr")
    met = str(tmp_path / "metrics")
    # 64-doc corpus: doc 49 is a corrupt PDF that always fails.
    web = synthetic_web_pages(spark, n_docs=64, seed=42)

    for _ in range(3):
        run_extraction(spark, web, output_path=out, metrics_path=met,
                       num_partitions=4)

    # After 3 failing runs the corrupt url is quarantined.
    remaining = filter_known_failures(spark, web, met, max_attempts=3)
    skipped = web.count() - remaining.count()
    assert skipped >= 1
    # Committed docs unaffected: 63 docs, exactly once each.
    docs = spark.read.parquet(out)
    assert docs.count() == 63
    assert docs.select("url").distinct().count() == 63

    # 4th run with quarantine active processes nothing new.
    d4 = run_extraction(spark, web, output_path=out, metrics_path=met,
                        num_partitions=4)
    assert d4.count() == 63


def test_quarantine_no_metrics_is_noop(spark, tmp_path):
    web = synthetic_web_pages(spark, n_docs=8, seed=42)
    same = filter_known_failures(spark, web, str(tmp_path / "nope"), 3)
    assert same.count() == web.count()


def test_quarantine_not_capped_by_failure_sample_bound(spark, tmp_path):
    # >FAILURE_SAMPLE_N failing urls in ONE partition: the bounded
    # lineage sample alone would hide most of them from the attempt
    # counter; the dedicated failures table must quarantine all of
    # them after max_attempts runs (ADVICE r01).
    import datetime

    from karanta_ocr_spark.metrics import FAILURE_SAMPLE_N
    from karanta_ocr_spark.sources.web_pages import WEB_PAGES_SCHEMA

    n_bad = FAILURE_SAMPLE_N + 4
    ts = datetime.datetime(2025, 1, 1)
    rows = [
        (f"https://bad.example.org/{i}", ts,
         b"%PDF-1.4\nnot a real pdf body at all", None, "en")
        for i in range(n_bad)
    ] + [
        (f"https://good.example.org/{i}", ts,
         ("<html><body><article><h1>T</h1><p>" + "words " * 40 +
          "</p></article></body></html>").encode(), None, "en")
        for i in range(4)
    ]
    web = spark.createDataFrame(rows, WEB_PAGES_SCHEMA).coalesce(1)
    out, met = str(tmp_path / "extr"), str(tmp_path / "metrics")
    for _ in range(3):
        run_extraction(spark, web, output_path=out, metrics_path=met,
                       num_partitions=1)
    remaining = filter_known_failures(spark, web, met, max_attempts=3)
    kept = {r["url"] for r in remaining.select("url").collect()}
    assert not any(u.startswith("https://bad.") for u in kept)
    assert sum(u.startswith("https://good.") for u in kept) == 4


def test_pre_upgrade_lineage_attempts_still_count(spark, tmp_path):
    # Attempts recorded only in lineage failure_samples (before the
    # dedicated failures table existed) must union with the new
    # table's attempts (code-review r2).
    met = str(tmp_path / "metrics")
    from karanta_ocr_spark.metrics import failures_path
    from karanta_ocr_spark.sources.web_pages import WEB_PAGES_SCHEMA

    url = "https://bad.example.org/x"
    # two pre-upgrade runs: failure evidence only in lineage samples
    lineage = spark.createDataFrame(
        [(rid, [ {"url": url, "error": "boom"} ]) for rid in ("r1", "r2")],
        "run_id string, failure_samples array<struct<url:string,error:string>>",
    )
    lineage.write.mode("append").parquet(met)
    # one post-upgrade run: failures table only
    spark.createDataFrame(
        [("r3", url, "boom")], "run_id string, url string, error string"
    ).write.mode("append").parquet(failures_path(met))

    import datetime
    src = spark.createDataFrame(
        [(url, datetime.datetime(2025, 1, 1), b"x", None, "en"),
         ("https://ok.example.org/y", datetime.datetime(2025, 1, 1), b"x", None, "en")],
        WEB_PAGES_SCHEMA,
    )
    kept = {r["url"] for r in
            filter_known_failures(spark, src, met, max_attempts=3).collect()}
    assert kept == {"https://ok.example.org/y"}


def _resumed_corpus(spark):
    """Four corrupt PDFs (always fail) and eight good pages. The first
    run sees half of each; the resumed run then sees all of them."""
    import datetime

    from karanta_ocr_spark.sources.web_pages import WEB_PAGES_SCHEMA

    ts = datetime.datetime(2025, 1, 1)
    bad = [f"https://bad.example.org/{i}" for i in range(4)]
    good = [f"https://good.example.org/{i}" for i in range(8)]
    rows = [(u, ts, b"%PDF-1.4\nnot a real pdf body at all", None, "en")
            for u in bad] + [
        (u, ts, ("<html><body><article><h1>T</h1><p>" + f"words {u} " * 40 +
                 "</p></article></body></html>").encode(), None, "en")
        for u in good
    ]
    web = spark.createDataFrame(rows, WEB_PAGES_SCHEMA).repartition(2)
    first = web.where(web.url.isin(bad[:2] + good[:4]))
    return web, first, set(bad), set(good[:4])


@pytest.mark.parametrize("mode", ["fused", "staged"])
def test_resumed_run_lineage_counts_processed_urls(spark, tmp_path, mode):
    # A resumed run's lineage must describe the docs it processed: the
    # output append must not make the lineage and failure writes
    # re-read the resume snapshot (which then holds the new commits).
    web, first, bad, committed = _resumed_corpus(spark)
    out, met = str(tmp_path / "extr"), str(tmp_path / "metrics")
    run_extraction(spark, first, output_path=out, metrics_path=met,
                   num_partitions=2, mode=mode)
    prior = {r["run_id"] for r in spark.read.parquet(met).select("run_id").collect()}

    run_extraction(spark, web, output_path=out, metrics_path=met,
                   num_partitions=2, mode=mode)
    processed = {r["url"] for r in web.select("url").collect()} - committed
    lineage = spark.read.parquet(met).filter(~F.col("run_id").isin(sorted(prior)))
    assert lineage.groupBy().sum("rows_in").first()[0] == len(processed)
    failed = {r["url"] for r in spark.read.parquet(failures_path(met))
              .filter(~F.col("run_id").isin(sorted(prior))).collect()}
    assert failed == bad & processed
    assert spark.read.parquet(out).count() == 8


@pytest.mark.parametrize("mode", ["fused", "staged"])
def test_resumed_run_releases_its_blocks(spark, tmp_path, mode):
    web, first, _, _ = _resumed_corpus(spark)
    out, met = str(tmp_path / "extr"), str(tmp_path / "metrics")
    run_extraction(spark, first, output_path=out, metrics_path=met,
                   num_partitions=2, mode=mode)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    run_extraction(spark, web, output_path=out, metrics_path=met,
                   num_partitions=2, mode=mode)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
