"""Distributed connected components + duplicate-cluster forensics.

Near-dup pipelines (the reference's downstream consumers; Gopher,
SlimPajama, RefinedWeb all publish this step) don't just DROP
duplicates — they need the CLUSTERS: which documents form one
duplicated family (mirror sites, syndicated articles, template
farms), how big each family is, and one canonical representative.
Pairwise candidate edges (shared paragraphs, MinHash buckets, SimHash
slices) only give local links; the family is the CONNECTED COMPONENT
of the duplicate graph, which needs transitive closure — an iterative
algorithm no single join expresses.

:func:`connected_components` — min-label propagation: every node
starts labeled with its own id; each round, every node takes the min
label in its neighborhood; fixpoint = components labeled by their
min-id member. One shuffle per round (join + groupBy on node id),
``localCheckpoint`` per round to truncate lineage, convergence
detected by the monotone global label sum (labels only ever
decrease, so an unchanged sum IS the fixpoint — one scalar action
per round, no row-wise diff join). Rounds needed = graph diameter;
duplicate graphs built from STAR edges (member → group anchor, the
shape our dedup operators emit) have tiny diameters, so in practice
a handful of rounds. This is the simple O(diameter) baseline of the
large-star/small-star family (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC 2014) — the two-phase star variant
becomes worthwhile only on adversarial long-path graphs, which
deduplicate candidate graphs are not.

:func:`duplicate_clusters` — the concrete forensics operator: docs
sharing any (trimmed, non-empty) line/paragraph are linked through
that paragraph's min-doc anchor (star edges — NEVER the quadratic
within-group pair set), components are resolved by propagation, and
each doc comes back as ``(id, component, cluster_size)``. Grouping
uses ``struct(xxhash64(para), length(para))`` so corpus text stays
out of the shuffle key (same rationale as
``corpus_filters.dedup_paragraphs``).

The DuckDB oracle (``oracle_sql()['duplicate_clusters']``) replays
paragraph split → anchor edges → transitive closure with a recursive
CTE, so the Spark fixpoint is verified against an independent
reachability computation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import NumericType, StructField, StructType


from karanta_ocr_spark.operators.corpus_filters import lines_expr

#: Edge-count bound for the driver union-find fast path of
#: :func:`connected_components`. The symmetrized edge table below this
#: size is collected (two ids per row — a few MB at the default) and
#: solved in one pass instead of an O(log diameter) Spark loop whose
#: every round costs join+groupBy+checkpoint stage scheduling. At
#: production scale a contracted duplicate graph can exceed any
#: driver bound, so the distributed fixpoint stays the general path;
#: the gate is a runtime row count, never an assumption. (Read at
#: call time so tests and deployments can steer it per run.)
_CC_DRIVER_EDGE_CAP = 250000


def _cc_driver_edge_cap() -> int:
    raw = os.environ.get("SPARK_GRAFT_CC_DRIVER_EDGES", str(_CC_DRIVER_EDGE_CAP))
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_CC_DRIVER_EDGES must be an integer edge count, got {raw!r}"
        ) from None


def _driver_components(sym_rows, id_type) -> tuple[list, StructType]:
    """Union-find (path halving) over collected symmetric edges;
    returns (rows, schema) labeling every node with its component's
    MINIMUM id — exactly the distributed fixpoint's contract."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for a, b in sym_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    rows = [(node, comp_min[find(node)]) for node in parent]
    schema = StructType(
        [
            StructField("id", id_type, nullable=False),
            StructField("component", id_type, nullable=False),
        ]
    )
    return rows, schema


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components of the undirected graph given by *edges*.

    Returns ``(id, component)`` for every node appearing in any edge;
    ``component`` is the minimum node id of the component. Node ids
    must be orderable (use longs at scale — numeric ids also get the
    cheaper one-scalar-per-round convergence check; string ids pay a
    changed-row-count join per round).

    Graphs whose symmetrized edge table is small (runtime count ≤
    ``SPARK_GRAFT_CC_DRIVER_EDGES``, default 250k rows — the bounded-
    collect pattern used throughout this repo, bound enforced at the
    collect site) skip the loop entirely: a driver union-find labels
    the components in one pass, replacing O(log diameter) rounds of
    join+groupBy+checkpoint stage scheduling with one job. The result
    is the same by definition — components and their min ids are
    unique — and the equivalence is pinned by the small-path/loop
    parity pytest.
    """
    driver_cap = _cc_driver_edge_cap()  # a bad knob fails before any job
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    if sym.count() <= driver_cap:
        rows, schema = _driver_components(
            [(r["a"], r["b"]) for r in sym.collect()],
            sym.schema["a"].dataType,
        )
        return sym.sparkSession.createDataFrame(rows, schema)
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    # Convergence detection: the monotone-sum trick (one scalar agg
    # per round) only works when labels are numeric — F.sum over a
    # string id column is NULL every round, and NULL == NULL would
    # exit after ONE round with unconverged labels. Non-numeric ids
    # fall back to an exact changed-row count against the previous
    # round's (checkpointed) labels.
    numeric_ids = isinstance(
        labels.schema["component"].dataType, NumericType
    )
    prev_sum = labels.agg(F.sum("component")).first()[0] if numeric_ids else None
    prev_labels = labels
    for _ in range(int(max_iters)):
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("id").alias("b"), F.col("component").alias("_nc")
                ),
                on="b",
            )
            .groupBy("a")
            .agg(F.min("_nc").alias("_nbr"))
        )
        stepped = labels.join(
            nbr_min, labels["id"] == nbr_min["a"], "left"
        ).select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("_nbr"), F.col("component"))
            ).alias("component"),
        )
        # Pointer jumping: additionally adopt the CURRENT label of the
        # node this label points at (component values are node ids).
        # Each round then composes two hops, so convergence needs
        # O(log diameter) rounds instead of O(diameter) — on a Spark
        # loop where every round pays fixed stage/checkpoint costs,
        # halving the round count beats the one extra self-join.
        # Correctness: labels still only decrease and stay lower-
        # bounded by the component min, so the fixpoint is unchanged.
        jump = stepped.select(
            F.col("id").alias("component"), F.col("component").alias("_jc")
        )
        labels = (
            stepped.join(jump, on="component", how="left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("_jc"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint()  # truncate the iterative lineage
        )
        if numeric_ids:
            cur_sum = labels.agg(F.sum("component")).first()[0]
            # Labels are monotone non-increasing, so sum-unchanged IS
            # the fixpoint (cheaper than a row-wise changed-count
            # join).
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            changed = (
                labels.join(
                    prev_labels.withColumnRenamed("component", "_prev"),
                    on="id",
                )
                .filter(F.col("component") != F.col("_prev"))
                .count()
            )
            if changed == 0:
                break
        prev_labels = labels
    return labels


def duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iters: int = 25,
) -> DataFrame:
    """Duplicate-family clusters over shared paragraphs.

    Returns one row per input row: ``(id_col, component,
    cluster_size)`` — ``component`` = min doc id of the family,
    ``cluster_size`` = number of docs in it (1 for docs sharing no
    paragraph with anyone).
    """
    paras = df.select(
        F.col(id_col).alias("_id"),
        F.explode(lines_expr(F.col(text_col))).alias("para"),
    ).select(
        "_id", F.struct(F.xxhash64("para"), F.length("para")).alias("_pk")
    ).distinct()
    # Star contraction (optimization r6): run the iterative fixpoint
    # over the ANCHOR graph, not the member graph. Only paragraphs
    # shared by >= 2 docs link anything (a group of one produced no
    # edge before either), so unshared paragraphs — the vast majority
    # of a real corpus — exit here, before any join graph exists.
    # Each doc then contracts to a star over its anchor set (every
    # anchor -> the doc's min anchor), which preserves exactly the
    # doc-level connectivity: two anchors are linked iff some doc
    # contains both, which is the same reachability the member->anchor
    # edges induced. The fixpoint now iterates over |shared-paragraph
    # anchors| nodes instead of |docs in any shared group| — fewer
    # nodes AND half the diameter (doc hops are gone), so fewer
    # propagation rounds at a fixed per-round stage cost.
    anchors = (
        paras.groupBy("_pk")
        .agg(F.min("_id").alias("_anchor"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .drop("_n")
    )
    # Persisted: the (doc, anchor) distillate feeds the star edges
    # (via doc_min), the symmetrized fixpoint input, and the final
    # doc-label aggregate; uncached, each consumer re-runs the
    # paragraph explode + anchor join over the corpus. Two ids per
    # row, bounded by docs-in-shared-groups × their shared-paragraph
    # anchors — the same distillate class the webgraph caches.
    doc_anchors = (
        paras.join(anchors, on="_pk").select("_id", "_anchor").distinct().persist()
    )
    doc_min = doc_anchors.groupBy("_id").agg(F.min("_anchor").alias("_dmin"))
    anchor_edges = (
        doc_anchors.join(doc_min, on="_id")
        .filter(F.col("_anchor") != F.col("_dmin"))
        .select(F.col("_anchor").alias("src"), F.col("_dmin").alias("dst"))
        .distinct()
    )
    comp_a = connected_components(anchor_edges, max_iters=max_iters)
    # Doc label = min over its anchors' components (an anchor absent
    # from every anchor edge — a one-group family — keeps its own id
    # via the coalesce). The family minimum is itself the min anchor
    # of every group it belongs to, so this min IS the family min the
    # member-graph fixpoint produced.
    doc_comp = (
        doc_anchors.join(
            comp_a.withColumnRenamed("id", "_anchor"), on="_anchor", how="left"
        )
        .withColumn("_c", F.coalesce("component", F.col("_anchor")))
        .groupBy("_id")
        .agg(F.min("_c").alias("component"))
        .withColumnRenamed("_id", id_col)
    )
    out = (
        df.select(F.col(id_col))
        .join(doc_comp, on=id_col, how="left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    # Persisted: both the size aggregate and the final join consume
    # `out`; uncached each branch re-runs the docs⋈labels join. (A
    # count window over `component` would do it in one pass but puts
    # an entire duplicate family into ONE window partition — a
    # hot-family hazard at corpus scale; the partial-agg groupBy +
    # join keeps sizes map-side-combinable.) The cache is two longs
    # per doc.
    out = out.persist()
    sizes = out.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return out.join(sizes, on="component").select(
        id_col, "component", "cluster_size"
    )
