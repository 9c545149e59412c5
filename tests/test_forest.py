"""Forest join (CrawledTree analogue): cross-doc tree attachment."""

from har2tree_spark.operators.cascade import resolve_exact
from har2tree_spark.operators.forest import forest_edges, forest_join
from har2tree_spark.operators.parse import parse_documents
from har2tree_spark.schema import DOCUMENTS_SCHEMA


def _forest_docs():
    # docA: root k100 redirects k100->k101 (landing k101)
    # docB: root has media_ref k101 (cross-doc referer) -> attaches under A
    # docC: root ref k999 (nothing) -> own root
    # docD: root ref = docB's root key k200 -> chain D -> B -> A
    return [
        {
            "doc_id": "A",
            "spans": [
                {"kind": "redirect", "text": "k100", "media_ref": "k101", "offset": 0},
                {"kind": "html", "text": "k101", "media_ref": "", "offset": 10},
            ],
        },
        {
            "doc_id": "B",
            "spans": [
                {"kind": "html", "text": "k200", "media_ref": "k101", "offset": 0},
                {"kind": "img", "text": "k201", "media_ref": "k200", "offset": 10},
            ],
        },
        {
            "doc_id": "C",
            "spans": [{"kind": "html", "text": "k300", "media_ref": "k999", "offset": 0}],
        },
        {
            "doc_id": "D",
            "spans": [{"kind": "html", "text": "k400", "media_ref": "k200", "offset": 0}],
        },
    ]


def test_forest_edges_and_roots(spark):
    df = spark.createDataFrame(_forest_docs(), DOCUMENTS_SCHEMA)
    feats = parse_documents(df)
    jr = resolve_exact(feats)
    edges = {
        (r.child_doc, r.parent_doc) for r in forest_edges(feats, jr).collect()
    }
    assert edges == {("B", "A"), ("D", "B")}
    fj = forest_join(feats, jr).toPandas().set_index("doc_id")
    assert fj.loc["A", "forest_root"] == "A"
    assert fj.loc["B", "forest_root"] == "A"
    assert fj.loc["D", "forest_root"] == "A"  # transitive through B
    assert fj.loc["C", "forest_root"] == "C"


def test_forest_cycle_terminates(spark):
    # two docs pointing at each other's landing keys: must not hang; a
    # 3-doc cycle plus a tail doc pointing into it likewise. No walk in
    # either reaches a root, so every one of these docs is its own root.
    def doc(doc_id, key, ref):
        return {
            "doc_id": doc_id,
            "spans": [{"kind": "html", "text": key, "media_ref": ref, "offset": 0}],
        }

    docs = [
        doc("X", "k1", "k2"),
        doc("Y", "k2", "k1"),
        doc("P", "k10", "k11"),
        doc("Q", "k11", "k12"),
        doc("R", "k12", "k10"),
        doc("T", "k13", "k10"),
    ]
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    feats = parse_documents(df)
    jr = resolve_exact(feats)
    assert {
        (r.child_doc, r.parent_doc) for r in forest_edges(feats, jr).collect()
    } == {("X", "Y"), ("Y", "X"), ("P", "Q"), ("Q", "R"), ("R", "P"), ("T", "P")}
    fj = forest_join(feats, jr).toPandas().set_index("doc_id")
    assert len(fj) == 6
    for d in "XYPQRT":
        assert fj.loc[d, "forest_root"] == d


def test_forest_join_leaves_no_cache_entry(spark):
    # the cross-doc edges are read twice inside forest_join; holding them in
    # the CacheManager (persist() with no unpersist) would grow the cache by
    # one table per call on a long-lived driver
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    feats = parse_documents(spark.createDataFrame(_forest_docs(), DOCUMENTS_SCHEMA))
    rows = forest_join(feats, resolve_exact(feats)).collect()
    assert len(rows) == 4
    assert cache.isEmpty()
