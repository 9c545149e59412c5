"""Output checks. Each returns a list of problems; an empty list passes.

The comparisons (``multiset_diff``, ``tree_diff``, ``tile_diff``,
``har_report_diff``, ``outcome``) are plain Python so that ``test_checks.py`` can feed them corrupted
expectations without a Spark session. The ``*_problems`` functions collect
the program's outputs and hand them to those comparisons.
"""

from __future__ import annotations

from collections import Counter

import duckdb
from pyspark.sql import functions as F

import __spark_entry__ as entry
from har2tree_spark.geo import grid
from har2tree_spark.operators.cascade import live_features
from har2tree_spark.oracle import pycascade

JOIN_COLS = ("doc_id", "span_idx", "parent_idx", "join_kind", "priority", "depth")
REPORT_FIELDS = (
    "n_entries",
    "total_urls",
    "n_unique_hostnames",
    "total_redirects",
    "total_cookies_sent",
    "total_cookies_received",
    "initial_title",
)


def multiset_diff(name: str, got, want) -> list[str]:
    """Rows of ``got`` and ``want`` must be equal as multisets."""
    g, w = Counter(map(tuple, got)), Counter(map(tuple, want))
    if g == w:
        return []
    extra, missing = g - w, w - g
    return [
        f"{name}: {sum(extra.values())} unexpected rows (e.g. {next(iter(extra), None)}), "
        f"{sum(missing.values())} missing rows (e.g. {next(iter(missing), None)})"
    ]


def har_report_diff(rows: list[dict], expect: dict[str, dict | None]) -> list[str]:
    """One report row per capture; a corrupt capture (expected ``None``) is
    quarantined: no entries and no tree. A well-formed one reports exactly
    what the generator wrote, and the corpus totals add up."""
    problems = []
    by_doc = Counter(r["doc_id"] for r in rows)
    if dupes := [d for d, n in by_doc.items() if n > 1]:
        problems.append(f"har: {len(dupes)} captures with more than one report row")
    if missing := sorted(set(expect) - set(by_doc)):
        problems.append(f"har: no report row for {len(missing)} captures, e.g. {missing[0]}")
    if unknown := sorted(set(by_doc) - set(expect)):
        problems.append(f"har: report rows for unknown captures, e.g. {unknown[0]}")
    got = {r["doc_id"]: r for r in rows}
    bad = []
    for doc, exp in sorted(expect.items()):
        row = got.get(doc)
        if row is None:
            continue
        if exp is None:
            if row["n_entries"] or row["total_urls"]:
                bad.append(f"{doc}: corrupt capture not quarantined")
            continue
        for f in REPORT_FIELDS:
            if row[f] != exp[f]:
                bad.append(f"{doc}.{f}: got {row[f]!r}, want {exp[f]!r}")
    if bad:
        problems.append(f"har: {len(bad)} wrong report fields, e.g. {bad[0]}")
    for f in ("n_entries", "total_cookies_sent", "total_cookies_received"):
        want = sum(e[f] for e in expect.values() if e)
        have = sum(r[f] or 0 for r in rows)
        if have != want:
            problems.append(f"har: corpus total {f} is {have}, generator wrote {want}")
    return problems


def outcome(attempted: int, raised: int, problems: list[str]) -> tuple[bool, int]:
    """(correct, failed). A failed output check fails every run: the runs
    all execute the same deterministic program on the same inputs."""
    failed = attempted if problems else raised
    return failed == 0, failed


def tree_diff(live: list[tuple], join_rows: list[tuple]) -> list[str]:
    """Every live span ``(doc_id, span_idx)`` appears in exactly one join
    row, and every live document has exactly one root (parent -1)."""
    problems = []
    spans = Counter((r[0], r[1]) for r in join_rows)
    live_set = set(map(tuple, live))
    if repeated := [k for k, n in spans.items() if n > 1]:
        problems.append(f"tree: {len(repeated)} spans in more than one join row, e.g. {repeated[0]}")
    if spans.keys() != live_set:
        lost, extra = live_set - spans.keys(), spans.keys() - live_set
        problems.append(
            f"tree: {len(lost)} live spans without a join row, {len(extra)} join rows "
            f"for spans that are not live"
        )
    roots = Counter(r[0] for r in join_rows if r[2] == -1)
    docs = {d for d, _ in live_set}
    if bad := sorted(d for d in docs if roots.get(d) != 1):
        problems.append(f"tree: {len(bad)} live docs without exactly one root, e.g. {bad[0]}")
    return problems


def tile_diff(n_cells: int, level_sums: dict[int, int], levels) -> list[str]:
    """Per level, the rollup's sum(n_spans) equals the features with a cell."""
    if not n_cells:
        return ["tiles: no features with a cell"]
    if bad := {lvl: level_sums.get(lvl) for lvl in levels if level_sums.get(lvl) != n_cells}:
        return [f"tiles: per-level sum(n_spans) {bad} != {n_cells} features with a cell"]
    return []


# ----------------------------------------------------------- Spark-side ---
def _live_keys(features) -> list[tuple]:
    return [tuple(r) for r in live_features(features).select("doc_id", "span_idx").collect()]


def exact_problems(out, sample_docs: list[dict]) -> list[str]:
    """Exact cascade: bit-exact with the pure-Python oracle on the sampled
    documents, every live span exactly once, one root per live document."""
    rows = [tuple(r) for r in out["join_result"].select(*JOIN_COLS).collect()]
    ids = {d["doc_id"] for d in sample_docs}
    got = [r for r in rows if r[0] in ids]
    want = [tuple(r[c] for c in JOIN_COLS) for r in pycascade.cascade_docs(sample_docs)]
    return multiset_diff("exact vs oracle", got, want) + tree_diff(
        _live_keys(out["features"]), rows
    )


def tile_problems(features, rollup) -> list[str]:
    n_cells = features.filter(F.col("cell").isNotNull()).count()
    sums = rollup.groupBy("level").agg(F.sum("n_spans").alias("s")).collect()
    return tile_diff(n_cells, {r["level"]: r["s"] for r in sums}, grid.TILE_LEVELS)


def rank_problems(out, events_path: str) -> list[str]:
    """Rank cascade and tiles: multiset-equal to the repository's DuckDB
    replays over the same events file."""
    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        quoted = events_path.replace("'", "''")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{quoted}')")
        want_rank = con.sql(sql["geo_cascade_rank"]).fetchall()
        want_tiles = con.sql(sql["geo_tiles"]).fetchall()
    finally:
        con.close()
    got_rank = [
        tuple(r)
        for r in out["join_result"].select(
            "doc_id",
            F.col("span_idx").cast("long"),
            F.col("parent_idx").cast("long"),
            "join_kind",
            F.col("priority").cast("long"),
        ).collect()
    ]
    got_tiles = out["tiles"].select(
        "doc_id",
        F.col("span_idx").cast("long"),
        F.col("cell").cast("long"),
        F.col("level").cast("long"),
        F.col("parent_cell").cast("long"),
    ).collect()
    return (
        multiset_diff("rank vs duckdb", got_rank, want_rank)
        + multiset_diff("tiles vs duckdb", got_tiles, want_tiles)
        + tree_diff(_live_keys(out["features"]), got_rank)
    )


def har_problems(report, expect: dict[str, dict | None]) -> list[str]:
    rows = [r.asDict() for r in report.collect()]
    return har_report_diff(rows, expect)
