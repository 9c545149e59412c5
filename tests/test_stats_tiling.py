"""doc_stats vs oracle golden stats; tile assignment & compaction laws."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from har2tree_spark.datagen import gen_docs, scenario_docs
from har2tree_spark.geo import grid
from har2tree_spark.operators import stats, tiling
from har2tree_spark.operators.cascade import resolve_exact
from har2tree_spark.operators.parse import parse_documents
from har2tree_spark.oracle import pycascade
from har2tree_spark.schema import DOCUMENTS_SCHEMA


def test_doc_stats_vs_oracle(spark):
    docs = scenario_docs() + gen_docs(21, 80)
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    feats = parse_documents(df)
    jr = resolve_exact(feats)
    got = (
        stats.doc_stats(feats, jr)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        pd.DataFrame(pycascade.doc_stats(docs))
        .query("total_spans > 0")
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(got.doc_id) == list(want.doc_id)
    for col in [
        "total_spans",
        "unique_keys",
        "total_cells",
        "unique_cells",
        "tree_depth",
        "total_chain",
        "total_bytes",
    ]:
        mism = got[col].to_numpy() != want[col].to_numpy()
        assert not mism.any(), (
            f"{col} mismatch: {got[mism.argmax():mism.argmax()+1].to_dict()} vs "
            f"{want[mism.argmax():mism.argmax()+1].to_dict()}"
        )


def test_depths_match_oracle_chain(spark):
    docs = [scenario_docs()[0]]  # scn-redirect: depths 0,1,2,3
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    jr = resolve_exact(parse_documents(df))
    d = stats.compute_depths(jr).toPandas().sort_values("span_idx")
    assert list(d.depth) == [0, 1, 2, 3]


def test_depths_mixed_frame_recomputed(spark):
    # a caller-made union of exact rows (depth filled) and rank rows
    # (depth null) violates compute_depths' homogeneity precondition;
    # depth_complete=False must re-derive every depth from the pointers
    import pyspark.sql.functions as F

    docs = [scenario_docs()[0]]
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    jr = resolve_exact(parse_documents(df))
    mixed = jr.withColumn(
        "depth",
        F.when(F.col("span_idx") % 2 == 0, F.col("depth")).otherwise(F.lit(None)),
    )
    d = stats.compute_depths(mixed, depth_complete=False).toPandas().sort_values(
        "span_idx"
    )
    assert list(d.depth) == [0, 1, 2, 3]


def test_ancestors_roots_depths_and_cycles(spark):
    """The one pointer-doubling walk on a hand-built edge set: a chain, a
    doc with two roots (null and -1 parents), a self-loop, and a 2- and a
    3-cycle each with a tail. Cycle members are flagged; neither they nor
    their tails reach a root, so both get a null root and depth."""
    rows = [
        ("chain", 0, -1), ("chain", 1, 0), ("chain", 2, 1), ("chain", 3, 2),
        ("two", 0, None), ("two", 1, 0), ("two", 5, -1), ("two", 6, 5),
        ("self", 0, -1), ("self", 1, 1), ("self", 2, 1),
        ("cyc", 0, -1), ("cyc", 1, 2), ("cyc", 2, 1), ("cyc", 3, 2), ("cyc", 4, 3),
        ("cyc", 10, 11), ("cyc", 11, 12), ("cyc", 12, 10), ("cyc", 13, 12),
    ]
    edges = spark.createDataFrame(rows, "doc_id string, node int, parent int")
    got = {
        (r["doc_id"], r["node"]): (r["root"], r["depth"], r["on_cycle"])
        for r in stats.ancestors(edges).collect()
    }
    assert got == {
        ("chain", 0): (0, 0, False),
        ("chain", 1): (0, 1, False),
        ("chain", 2): (0, 2, False),
        ("chain", 3): (0, 3, False),
        ("two", 0): (0, 0, False),
        ("two", 1): (0, 1, False),
        ("two", 5): (5, 0, False),
        ("two", 6): (5, 1, False),
        ("self", 0): (0, 0, False),
        ("self", 1): (None, None, True),
        ("self", 2): (None, None, False),
        ("cyc", 0): (0, 0, False),
        ("cyc", 1): (None, None, True),
        ("cyc", 2): (None, None, True),
        ("cyc", 3): (None, None, False),
        ("cyc", 4): (None, None, False),
        ("cyc", 10): (None, None, True),
        ("cyc", 11): (None, None, True),
        ("cyc", 12): (None, None, True),
        ("cyc", 13): (None, None, False),
    }


def test_tile_assignment_levels(spark):
    docs = gen_docs(3, 40)
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    feats = parse_documents(df)
    tiles = tiling.tile_assignment(feats).toPandas()
    assert set(tiles.level.unique()) <= set(grid.TILE_LEVELS)
    # parity: each span with a key appears once per level
    n_keyed = feats.filter("cell is not null").count()
    assert len(tiles) == n_keyed * len(grid.TILE_LEVELS)
    # cell/parent consistency: parent_cell == coarsened cell
    for _, row in tiles.dropna(subset=["parent_cell"]).head(200).iterrows():
        lvl = int(row.level)
        prev = grid.TILE_LEVELS[grid.TILE_LEVELS.index(lvl) - 1]
        assert int(
            grid.np_cell_parent(np.asarray([int(row.cell)]), prev)[0]
        ) == int(row.parent_cell)
    # first level has null parent
    first = tiles[tiles.level == grid.TILE_LEVELS[0]]
    assert first.parent_cell.isna().all()


def test_compact_cells_law(spark):
    # a complete quartet at FINE_RES compacts into one parent; a lone cell stays
    ix, iy = 100, 200
    quartet = [
        int(grid.make_cell(grid.FINE_RES, np.int64(ix * 2 + a), np.int64(iy * 2 + b)))
        for a in (0, 1)
        for b in (0, 1)
    ]
    lone = int(grid.make_cell(grid.FINE_RES, np.int64(5), np.int64(7)))
    rows = [("d1", c) for c in quartet] + [("d1", lone)]
    df = spark.createDataFrame(rows, "doc_id string, cell long")
    got = sorted(
        r.cell for r in tiling.compact_cells(df, grid.FINE_RES, grid.FINE_RES - 1).collect()
    )
    parent = int(grid.np_cell_parent(np.asarray([quartet[0]]), grid.FINE_RES - 1)[0])
    assert got == sorted([parent, lone])


def test_hot_cells_detects_skew(spark):
    hot = [{"kind": "img", "text": "k1", "media_ref": "", "offset": i} for i in range(50)]
    cold = [{"kind": "img", "text": f"k{1000+i}", "media_ref": "", "offset": 100 + i} for i in range(5)]
    df = spark.createDataFrame(
        [{"doc_id": "d", "spans": hot + cold}], DOCUMENTS_SCHEMA
    )
    tiles = tiling.tile_assignment(parse_documents(df))
    hc = tiling.hot_cells(tiles, grid.TILE_LEVELS[-1], threshold_ratio=0.3).toPandas()
    assert len(hc) == 1
    assert int(hc.cell.iloc[0]) == int(grid.np_cell(np.asarray([1]), grid.FINE_RES)[0])


def test_cell_rollup_mixed_content(spark):
    docs = [
        {
            "doc_id": "d",
            "spans": [
                {"kind": "html", "text": "k1", "media_ref": "", "offset": 0},
                {"kind": "img", "text": "k1 x", "media_ref": "", "offset": 10},
            ],
        }
    ]
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    r = stats.cell_rollup(parse_documents(df)).toPandas()
    assert len(r) == 1 and bool(r.mixed_content.iloc[0])
    assert r.n_spans.iloc[0] == 2 and r.n_keys.iloc[0] == 1


def test_tile_rollup_hierarchical_matches(spark):
    """Hierarchical rollup: n_spans exact-matches the direct rollup at
    every level; HLL doc estimates stay within the sketch accuracy class."""
    docs = spark.createDataFrame(gen_docs(31, 150), DOCUMENTS_SCHEMA)
    feats = parse_documents(docs)
    direct = (
        tiling.tile_rollup(tiling.tile_assignment(feats))
        .selectExpr("level", "cell", "n_spans")
        .toPandas()
        .sort_values(["level", "cell"])
        .reset_index(drop=True)
    )
    hier = tiling.tile_rollup_hierarchical(feats).toPandas()
    h_spans = (
        hier[["level", "cell", "n_spans"]]
        .sort_values(["level", "cell"])
        .reset_index(drop=True)
    )
    assert direct.equals(h_spans)
    # exact distinct-doc counts bound the sketch estimates (within 10%)
    tiles = tiling.tile_assignment(feats)
    exact = (
        tiles.groupBy("level", "cell")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .toPandas()
        .set_index(["level", "cell"])["nd"]
    )
    for _, r in hier.iterrows():
        e = exact[(r.level, r.cell)]
        assert abs(r.n_docs - e) <= max(1, 0.1 * e), (r.level, r.cell, r.n_docs, e)
