"""Per-document and per-cell aggregates — the capture-stats analogue.

Re-grounds the reference's ``stats`` property (reference har2tree.py:505-528;
golden values asserted at tests/simple_test.py:63-75), the HostNode rollups
(nodes.py:802-835, :735-760) and ``build_all_hashes`` (har2tree.py:550-569)
as single groupBy aggregates, plus the engine's one pointer-doubling
ancestor walk (:func:`ancestors`) behind the tree-depth / redirect-chain
figures, the forest roots and the pages-ladder cycle guard (Spark has no
recursion; a walk over parent pointers resolves in log2(group size)
self-joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from har2tree_spark.geo import grid


def ancestors(edges: DataFrame) -> DataFrame:
    """(doc_id, node, parent) -> (doc_id, node, root, depth, on_cycle): the
    one exact ancestor walk behind every tree walk in the engine (tree
    depth, forest roots, the pages-ladder cycle guard).

    A null parent (or -1, for numeric ids) marks a root; ``node`` is unique
    within its ``doc_id`` group. The input projection is materialised ONCE
    and the pass count N is bounded from that checkpoint: the bit length of
    the largest group's row count, so 2^N exceeds every root path and every
    tail leading into a cycle. No per-pass convergence action.

    Each row carries (anc, steps, done): ``anc`` is the node ``steps`` hops
    up, a root is its own fixed point (anc = itself, steps 0, done), and a
    pass replaces anc by anc's anc. After N passes a row is done iff its
    walk reached a root, and then root = anc, depth = steps. A row whose
    walk never reaches a root (on a cycle, on a tail into one, or under a
    parent missing from its group) gets a null root and depth.

    Cycle rule: the N-step map is a bijection on each cycle and sends every
    tail row onto its cycle, so the final ancestors of the rows that never
    reached a root are exactly the cycle members — ``on_cycle`` is one
    semi-join, no extra pass (and the planner drops it for a caller that
    reads only root/depth)."""
    parent = F.col("parent")
    is_root = parent.isNull()
    if isinstance(edges.schema["parent"].dataType, NumericType):
        is_root = is_root | (parent == -1)
    cur = edges.select(
        "doc_id",
        "node",
        F.when(is_root, F.col("node")).otherwise(parent).alias("anc"),
        F.when(is_root, 0).otherwise(1).alias("steps"),
        is_root.alias("done"),
    ).localCheckpoint()
    top = cur.groupBy("doc_id").count().agg(F.max("count")).first()[0]
    for _ in range(max(1, int(top or 1).bit_length())):
        up = cur.select(
            "doc_id",
            F.col("node").alias("anc"),
            F.col("anc").alias("anc2"),
            F.col("steps").alias("steps2"),
            F.col("done").alias("done2"),
        )
        cur = (
            cur.join(up, ["doc_id", "anc"], "left")
            .select(
                "doc_id",
                "node",
                F.coalesce("anc2", "anc").alias("anc"),
                (F.col("steps") + F.coalesce("steps2", F.lit(0))).alias("steps"),
                F.coalesce("done2", "done").alias("done"),
            )
            .localCheckpoint()
        )
    cyc = (
        cur.filter(~F.col("done"))
        .select("doc_id", F.col("anc").alias("node"))
        .distinct()
        .withColumn("on_cycle", F.lit(True))
    )
    return cur.join(cyc, ["doc_id", "node"], "left").select(
        "doc_id",
        "node",
        F.when(F.col("done"), F.col("anc")).alias("root"),
        F.when(F.col("done"), F.col("steps")).alias("depth"),
        F.coalesce("on_cycle", F.lit(False)).alias("on_cycle"),
    )


def compute_depths(
    join_result: DataFrame,
    depth_complete: bool | None = None,
) -> DataFrame:
    """(doc_id, span_idx, depth) from parent pointers.

    Exact-mode join results carry ``depth`` already (the DFS computes it for
    free) — pass through with zero jobs. Otherwise: :func:`ancestors` over
    the parent pointers (exact; a span whose walk never reaches the root
    gets a null depth).

    ``depth_complete`` is the path switch for frames that carry a ``depth``
    column: True = trust it (zero jobs), False = ignore it and re-derive by
    doubling. The default (None) probes ONE row and passes through iff it is
    non-null — correct only under the homogeneity PRECONDITION that
    ``depth`` is all-filled or all-null, which holds for every frame this
    package produces (exact mode fills every row, rank mode none). For a
    mixed frame (e.g. a caller's union of exact- and rank-mode results) the
    one-row probe is nondeterministic: pass ``depth_complete=False`` there,
    or the rank rows may silently keep their null depths."""
    if "depth" in join_result.columns and depth_complete is not False:
        if depth_complete is True:
            return join_result.select("doc_id", "span_idx", "depth")
        probe = join_result.select("depth").limit(1).collect()
        if probe and probe[0][0] is not None:
            return join_result.select("doc_id", "span_idx", "depth")
    edges = join_result.select(
        "doc_id", F.col("span_idx").alias("node"), F.col("parent_idx").alias("parent")
    )
    return ancestors(edges).select(
        "doc_id", F.col("node").alias("span_idx"), "depth"
    )


def doc_stats(
    features: DataFrame,
    join_result: DataFrame,
    depth_complete: bool | None = None,
) -> DataFrame:
    """Golden per-doc stats (DOC_STATS_SCHEMA; A4 analogue).

    ``depth_complete`` is forwarded to :func:`compute_depths`. Pass False
    when ``join_result`` carries a partially stale ``depth`` column — e.g.
    after ``pages.attach_pages``, which re-parents rows and nulls only
    THEIR depths, leaving descendants' depths stale — so tree_depth is
    re-derived from the new parent pointers instead of read from the
    mixed column (r7 ADVICE #1)."""
    f = features.filter(F.col("span_idx").isNotNull() & (F.col("n_live") > 0))
    base = f.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("total_spans"),
        F.count_distinct("key").cast("int").alias("unique_keys"),
        F.count(F.col("cell")).cast("int").alias("total_cells"),
        F.count_distinct("cell").cast("int").alias("unique_cells"),
        F.sum("nbytes").cast("long").alias("total_bytes"),
    )
    chains = join_result.groupBy("doc_id").agg(
        F.sum(F.when(F.col("join_kind") == "redirect", 1).otherwise(0))
        .cast("int")
        .alias("total_chain")
    )
    depths = (
        compute_depths(join_result, depth_complete=depth_complete)
        .groupBy("doc_id")
        .agg((F.max("depth") + 1).cast("int").alias("tree_depth"))
    )
    return (
        base.join(chains, "doc_id", "left")
        .join(depths, "doc_id", "left")
        .select(
            "doc_id",
            "total_spans",
            "unique_keys",
            "total_cells",
            "unique_cells",
            F.coalesce("tree_depth", F.lit(0)).alias("tree_depth"),
            F.coalesce("total_chain", F.lit(0)).alias("total_chain"),
            "total_bytes",
        )
    )


def cell_rollup(features: DataFrame, res: int = grid.COARSE_RES) -> DataFrame:
    """HostNode rollup analogue (nodes.py:802-835 + derived counts
    :735-760): per (doc, coarse cell): member keys, span count, distinct
    keys, media/text mix flags (the http/https mixed_content analogue)."""
    f = features.filter(F.col("cell").isNotNull())
    cell = grid.col_cell_parent(F.col("cell"), grid.FINE_RES, res).alias("cell")
    has_media = F.max(
        F.when(F.col("kind").isin("img", "video", "audio"), 1).otherwise(0)
    )
    has_text = F.max(F.when(F.col("kind").isin("text", "html", "css", "js"), 1).otherwise(0))
    return (
        f.groupBy("doc_id", cell)
        .agg(
            F.count("*").cast("int").alias("n_spans"),
            F.count_distinct("key").cast("int").alias("n_keys"),
            F.sort_array(F.collect_set("key")).alias("keys"),
            has_media.cast("boolean").alias("has_media"),
            has_text.cast("boolean").alias("has_text"),
            (has_media + has_text == 2).alias("mixed_content"),
            F.sum("nbytes").cast("long").alias("total_bytes"),
        )
    )


def hash_groups(features: DataFrame) -> DataFrame:
    """build_all_hashes analogue (har2tree.py:550-569): group spans by
    content digest -> member list."""
    f = features.filter(F.col("text") != "")
    return (
        f.select("doc_id", "span_idx", F.sha2(F.col("text"), 256).alias("body_hash"))
        .groupBy("body_hash")
        .agg(
            F.count("*").cast("int").alias("n_spans"),
            F.count_distinct("doc_id").cast("int").alias("n_docs"),
        )
    )


def redirect_chains(
    features: DataFrame,
    join_result: DataFrame,
    depth_complete: bool | None = None,
) -> DataFrame:
    """Redirect-chain listing per doc (the ``redirects`` property analogue,
    har2tree.py:530-533): redirect-edge members ordered root-to-leaf.
    ``chain_len`` counts redirect EDGES anywhere in the tree — a whole-tree
    figure, deliberately broader than the reference's ``redirects`` list
    (which is the root->rendered-node path only; r7 ADVICE #3 documents
    the divergence). ``depth_complete`` as in :func:`doc_stats`."""
    red = join_result.filter(F.col("join_kind") == "redirect")
    d = compute_depths(join_result, depth_complete=depth_complete)
    d = d.withColumnRenamed("depth", "d")
    return (
        red.join(d, ["doc_id", "span_idx"])
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("d"), F.col("span_idx")))
                ),
                lambda s: s["span_idx"],
            ).alias("chain"),
            F.count("*").cast("int").alias("chain_len"),
        )
    )
