"""The ``curate`` workload: four registry queries run as one chain.

Each query is run and collected the way ``scripts/check_oracles.py``
runs it, and its rows are compared with its ``oracle_sql()`` twin on
DuckDB in that script's canonical form (reproduced here so that the
benchmark does not import a script that edits ``sys.path``).
"""

from __future__ import annotations

import json
import os
import time

#: The four unresolved round-6 control regressions.
QUERIES = ["lm_perplexity", "domain_reweight", "corpus_datacard", "tokenizer_fertility"]


def _norm_cell(v) -> str:
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)


class CurateWorkload:
    def __init__(self, input_dir: str):
        import __spark_entry__ as entry

        self.input_dir = input_dir
        self.registry = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        missing = [q for q in QUERIES if q not in self.registry or q not in self.oracle_sql]
        if missing:
            raise SystemExit(f"queries without a registry entry or oracle: {missing}")
        import pyarrow.parquet as pq

        self.docs = pq.ParquetFile(os.path.join(input_dir, "documents.parquet")).metadata.num_rows

    def warmup(self, spark) -> None:
        """One pass of the chain: the first execution of each query."""
        self.chain(spark, "warmup")

    def chain(self, spark, tag: str, tracer=None) -> tuple[float, dict, dict]:
        """Run every query once, in order, each under job group
        ``<query>#<tag>``. Returns (wall, per-query seconds, per-query
        (columns, rows))."""
        sc = spark.sparkContext
        per, results = {}, {}
        t_chain = time.perf_counter()
        for q in QUERIES:
            sc.setJobGroup(f"{q}#{tag}", q)
            t0 = time.perf_counter()
            if tracer is None:
                results[q] = self._run(spark, q)
            else:
                results[q] = tracer.span(f"query.{q}", self._run, spark, q)
            per[q] = time.perf_counter() - t0
        return time.perf_counter() - t_chain, per, results

    def _run(self, spark, q: str):
        df = self.registry[q](spark, self.input_dir)
        rows = df.collect()
        cols = df.columns
        spark.catalog.clearCache()  # drop intra-query persisted frames
        return cols, [tuple(r) for r in rows]

    def expected(self) -> dict[str, list[str]]:
        """Canonical oracle rows per query, cached beside the input."""
        path = os.path.join(self.input_dir, "oracle.json")
        if os.path.exists(path):
            with open(path) as f:
                cached = json.load(f)
            if sorted(cached) == sorted(QUERIES):
                return cached
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"'{os.path.join(self.input_dir, 'documents.parquet')}'")
            out = {}
            for q in QUERIES:
                rows = con.execute(self.oracle_sql[q]).fetchall()
                cols = [d[0] for d in con.description]
                out[q] = [sorted(cols)] + [canon(rows, cols)]
        finally:
            con.close()
        with open(path + ".tmp", "w") as f:
            json.dump(out, f)
        os.replace(path + ".tmp", path)
        return out

    def check(self, results: dict) -> tuple[int, int, list[str]]:
        expected = self.expected()
        notes = []
        for q in QUERIES:
            cols, rows = results[q]
            exp_cols, exp_rows = expected[q]
            if sorted(cols) != exp_cols:
                notes.append(f"{q}: columns {sorted(cols)} != {exp_cols}")
            elif canon(rows, cols) != exp_rows:
                notes.append(f"{q}: rows differ from the oracle")
        return len(QUERIES), len(notes), notes
