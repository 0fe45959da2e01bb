"""Connected components + duplicate clusters."""

import pytest
from pyspark.sql import functions as F

from karanta_ocr_spark.operators.graph import (
    connected_components,
    duplicate_clusters,
)


def test_connected_components_chain_and_islands(spark):
    # A 6-node path (worst diameter per edge count), a triangle, and
    # an isolated edge: min-label must cross the whole path.
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
             (10, 11), (11, 12), (12, 10),
             (20, 21)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_direction_invariant(spark):
    # Edges are undirected: reversing every edge changes nothing.
    edges = [(5, 1), (2, 5), (9, 2)]
    fwd = spark.createDataFrame(edges, "src long, dst long")
    rev = spark.createDataFrame([(b, a) for a, b in edges], "src long, dst long")
    a = {(r["id"], r["component"]) for r in connected_components(fwd).collect()}
    b = {(r["id"], r["component"]) for r in connected_components(rev).collect()}
    assert a == b and a == {(1, 1), (2, 1), (5, 1), (9, 1)}


def test_duplicate_clusters_transitive_families(spark):
    # a,b share paragraph X; b,c share paragraph Y -> one family of 3
    # even though a and c share nothing directly. d is a singleton.
    rows = [
        (1, "unique alpha\nSHARED X"),
        (2, "SHARED X\nSHARED Y"),
        (3, "SHARED Y\nunique gamma"),
        (4, "all alone here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["component"], r["cluster_size"])
           for r in duplicate_clusters(df).collect()}
    assert got == {1: (1, 3), 2: (1, 3), 3: (1, 3), 4: (4, 1)}


def test_duplicate_clusters_partition_invariant(spark):
    rows = [(i, f"body {i}\nfooter {i % 4}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {(r["doc_id"], r["component"], r["cluster_size"])
         for r in duplicate_clusters(df).collect()}
    b = {(r["doc_id"], r["component"], r["cluster_size"])
         for r in duplicate_clusters(df.repartition(7)).collect()}
    assert a == b
    # 4 footer families of 10 docs each, anchored at min ids 0..3
    comps = {c for _, c, _ in a}
    assert comps == {0, 1, 2, 3}
    assert all(s == 10 for _, _, s in a)


def test_minhash_incremental_flags_copies(spark):
    # New docs 101/103 copy indexed texts; 105 is novel. The copy rows
    # must match their source (est Jaccard 1.0), the novel row none.
    from karanta_ocr_spark.operators.dedup import (
        minhash_dedup_against_index,
        minhash_index,
    )

    def words(seed, n=40):
        import random

        rng = random.Random(seed)
        return " ".join(
            rng.choice(["alpha", "beta", "gamma", "delta", "eps", "zeta",
                        "eta", "theta", "iota", "kappa"])
            for _ in range(n)
        )

    index_rows = [(i, words(i)) for i in range(0, 20, 2)]
    idx_df = spark.createDataFrame(index_rows, "doc_id long, text string")
    index = minhash_index(idx_df)
    new_rows = [
        (101, words(4)),     # copy of indexed doc 4
        (103, words(10)),    # copy of indexed doc 10
        (105, words(9999)),  # novel
    ]
    new_df = spark.createDataFrame(new_rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           minhash_dedup_against_index(new_df, index).collect()}
    assert out[101]["is_dup"] and out[101]["n_index_matches"] >= 1
    assert out[103]["is_dup"]
    assert not out[105]["is_dup"] and out[105]["n_index_matches"] == 0
    # one row per new doc, always
    assert set(out) == {101, 103, 105}


def test_minhash_incremental_agrees_with_batch_dedup(spark):
    # Splitting a corpus into (index, increment) and probing must flag
    # exactly the increment docs that the BATCH dedup would have
    # dropped for duplicating an index doc (same params, same seed).
    from karanta_ocr_spark.operators.dedup import (
        minhash_dedup_against_index,
        minhash_index,
        minhash_lsh_dedup,
    )

    rows = [(i, f"the quick brown fox {i % 4} jumps over the lazy dog "
                f"number {i % 4} again and again")
            for i in range(16)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx_df = df.filter("doc_id < 8")
    new_df = df.filter("doc_id >= 8")
    out = minhash_dedup_against_index(
        new_df, minhash_index(idx_df, num_perm=32, bands=8),
        num_perm=32, bands=8,
    )
    flagged = {r["doc_id"] for r in out.collect() if r["is_dup"]}
    # every new doc's text equals index doc (doc_id%4 determines text)
    assert flagged == {8, 9, 10, 11, 12, 13, 14, 15}
    survivors = {
        r["doc_id"]
        for r in minhash_lsh_dedup(df, num_perm=32, bands=8).collect()
    }
    assert survivors == {0, 1, 2, 3}  # batch keeps min-id reps only


def test_connected_components_string_ids_converge(spark):
    # Regression (r4 advice): F.sum over string labels is NULL every
    # round, and NULL == NULL used to exit the loop after ONE
    # iteration with unconverged labels. A 5-node path needs several
    # min-label rounds, so an early exit is visible here.
    edges = [("e", "d"), ("d", "c"), ("c", "b"), ("b", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "a"}


def test_duplicate_clusters_string_doc_ids(spark):
    rows = [
        ("url-b", "unique alpha\nSHARED X"),
        ("url-a", "SHARED X\nSHARED Y"),
        ("url-c", "SHARED Y\nunique gamma"),
        ("url-d", "all alone here"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: (r["component"], r["cluster_size"])
           for r in duplicate_clusters(df).collect()}
    assert got == {"url-a": ("url-a", 3), "url-b": ("url-a", 3),
                   "url-c": ("url-a", 3), "url-d": ("url-d", 1)}


def test_connected_components_driver_path_matches_loop(spark, monkeypatch):
    # The size-gated driver union-find must label exactly what the
    # distributed fixpoint labels, on a graph mixing a long path (the
    # loop's worst case), a cycle, a star, and an isolated edge.
    import karanta_ocr_spark.operators.graph as gm

    edges = (
        [(i, i + 1) for i in range(1, 30)]          # path 1..30
        + [(100, 101), (101, 102), (102, 100)]       # cycle
        + [(200, v) for v in range(201, 208)]        # star
        + [(300, 301)]                               # island
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = {(r["id"], r["component"])
            for r in connected_components(df).collect()}
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "0")
    slow = {(r["id"], r["component"])
            for r in connected_components(df).collect()}
    assert fast == slow
    comps = {}
    for node, c in fast:
        comps.setdefault(c, set()).add(node)
    assert set(comps) == {1, 100, 200, 300}
    assert comps[1] == set(range(1, 31))


def test_connected_components_rejects_malformed_driver_cap(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "250k")
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match=r"SPARK_GRAFT_CC_DRIVER_EDGES.*'250k'"):
        connected_components(df)


def test_duplicate_clusters_anchor_contraction_paths(spark):
    # Exercises the r6 star-contraction internals:
    # - doc 5 is the min of its only group {5,7}, so its label must
    #   arrive through the anchor self-lookup (comp of anchor 5),
    #   propagated from doc 7's star edge (5 -> 3);
    # - docs 10/11 form a one-group family whose anchor appears in no
    #   anchor edge (the coalesce fallback path);
    # - doc 20 shares nothing (left-join fallback to its own id).
    rows = [
        (5, "SHARED P"),
        (7, "SHARED P\nSHARED Q"),
        (3, "SHARED Q\nown text"),
        (10, "SHARED R"),
        (11, "SHARED R"),
        (20, "totally unique"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["component"], r["cluster_size"])
           for r in duplicate_clusters(df).collect()}
    assert got == {3: (3, 3), 5: (3, 3), 7: (3, 3),
                   10: (10, 2), 11: (10, 2), 20: (20, 1)}
