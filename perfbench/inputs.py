"""Seeded workload inputs, cached by (workload, seed, size).

Every input comes from the program's public ``fixtures`` API or from
the committed copy of the read-only ``sf0.01`` documents table under
``perfbench/data``. The same seed always gives the same bytes. A cache
entry is a directory under the work dir whose ``_READY`` file marks it
complete, so an interrupted generation is redone, never half-read. Its
name also carries a digest of the program's sources: what is cached
beside the inputs (kernel reference, resume pre-state, oracle rows) is
made by the program, so a changed program must not reuse it.
"""

from __future__ import annotations

import functools
import hashlib
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data")

WEB_COLS = ["url", "warc_ts", "html", "text", "lang"]

#: extract_resume corpus: fixture rows generated with CORPUS_SEED (the
#: generator's natural mix: ~90% HTML with a 50x size-skew tail, ~10%
#: PDFs of its five kinds) plus ENCRYPTED_PDFS rc4/aes PDFs. The run's
#: seed shuffles the rows and splits them into files holding these
#: shares of the rows (few, size-skewed splits).
CORPUS_SEED = 42
GEN_ROWS = 1600
ENCRYPTED_PDFS = 80
FILE_SHARES = (0.6, 0.3, 0.1)


@functools.cache
def source_digest() -> str:
    """sha1 over the program's Python sources (package and registry)."""
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _dirs, names in os.walk(os.path.join(ROOT, "karanta_ocr_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith((".py", ".txt"))]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def cache_dir(work: str, workload: str, seed: int, size: int) -> str:
    return os.path.join(work, "inputs", f"{workload}-s{seed}-n{size}-{source_digest()}")


def _ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_READY"))


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _mark_ready(path: str) -> None:
    with open(os.path.join(path, "_READY"), "w") as f:
        f.write("ok\n")


def _write_rows(rows: list[dict], path: str) -> None:
    pq.write_table(
        pa.table({c: [r[c] for r in rows] for c in WEB_COLS}), path
    )


def _encrypted_pdf_rows(seed: int, n: int) -> list[dict]:
    """Owner-locked (empty user password) rc4/aes PDFs, 1-3 pages each,
    built through ``fixtures.build_pdf``."""
    import datetime as dt

    from karanta_ocr_spark.fixtures import PageSpec, TextRun, build_pdf
    from karanta_ocr_spark.fixtures.gen import EPOCH, WORDS

    rng = random.Random(seed * 7919 + 1)
    langs = sorted(WORDS)
    rows = []
    for i in range(n):
        lang = rng.choice(langs)
        pages = []
        for _ in range(rng.randint(1, 3)):
            runs = [
                TextRun(" ".join(rng.choice(WORDS[lang]) for _ in range(6)), 72.0, 720.0 - 20.0 * j)
                for j in range(rng.randint(4, 10))
            ]
            pages.append(PageSpec(runs=runs))
        mode = "rc4" if i % 2 == 0 else "aes"
        rows.append(dict(
            url=f"https://secure.example-za.org/{lang}/{mode}-{i:06d}.pdf",
            warc_ts=EPOCH + dt.timedelta(minutes=i),
            html=build_pdf(pages, compress=rng.random() < 0.5, encrypt=mode),
            text="", lang=lang,
        ))
    return rows


def corpus_dir(work: str) -> str:
    """The extract_resume corpus in its canonical order, one file."""
    from karanta_ocr_spark.fixtures import generate_web_pages

    path = cache_dir(work, "extract_resume", CORPUS_SEED, GEN_ROWS)
    if not _ready(path):
        _fresh(path)
        rows = (generate_web_pages(GEN_ROWS, CORPUS_SEED)
                + _encrypted_pdf_rows(CORPUS_SEED, ENCRYPTED_PDFS))
        _write_rows(rows, os.path.join(path, "corpus.parquet"))
        _mark_ready(path)
    return path


def extract_input(work: str, seed: int) -> str:
    """The corpus with its rows shuffled by *seed*, split into
    size-skewed parquet files under ``web_pages/``."""
    path = cache_dir(work, "extract_resume", seed, GEN_ROWS)
    if _ready(path):
        return path
    table = pq.read_table(os.path.join(corpus_dir(work), "corpus.parquet"))
    _fresh(path)
    order = list(range(table.num_rows))
    random.Random(seed).shuffle(order)
    table = table.take(pa.array(order))
    table_dir = os.path.join(path, "web_pages")
    os.makedirs(table_dir)
    start = 0
    for k, share in enumerate(FILE_SHARES):
        end = table.num_rows if k == len(FILE_SHARES) - 1 else start + round(share * table.num_rows)
        pq.write_table(table.slice(start, end - start), os.path.join(table_dir, f"part-{k:02d}.parquet"))
        start = end
    _mark_ready(path)
    return path


def curate_input(work: str, seed: int) -> str:
    """The committed sf0.01 ``documents`` table with its rows permuted by
    *seed*, in one single-row-group file (the layout of the original)."""
    import numpy as np

    path = cache_dir(work, "curate", seed, 0)
    if _ready(path):
        return path
    _fresh(path)
    table = pq.read_table(os.path.join(DATA_DIR, "documents.parquet"))
    perm = np.random.default_rng(seed).permutation(table.num_rows)
    pq.write_table(table.take(pa.array(perm)), os.path.join(path, "documents.parquet"))
    _mark_ready(path)
    return path


def read_corpus_rows(work: str) -> list[dict]:
    """(url, html) rows of the extract_resume corpus, read without Spark."""
    table = pq.read_table(os.path.join(corpus_dir(work), "corpus.parquet"), columns=["url", "html"])
    return table.to_pylist()
