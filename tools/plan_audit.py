"""Physical-plan audit for the headline queries -> BENCH/PLANS.md.

The scale story lives in the plans: every headline query should show the
exchange count, whole-stage-codegen coverage, broadcast choices and
parquet pushdown we designed for (the same properties test_plans.py
asserts on a subset). This tool materializes the audit as a committed
artifact so a reviewer can read the plans without running Spark.

Plan SHAPE is scale-independent, so the audit builds each query at
sf0.001 and explains it without running it (AQE's runtime re-planning is
noted where it applies). The one job it runs is the eager parse
checkpoint that q1-q3 read, as bench.py builds them. Node counts are
parsed from the `(N) Name` detail headers of explain("formatted"), which
list each operator exactly once (the tree section repeats names).

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

NODE_RE = re.compile(r"^\(\d+\) ([A-Za-z0-9_]+)", re.M)
PUSHED_RE = re.compile(r"PushedFilters: \[([^\]]*)\]")
# formatted mode annotates codegen membership per-operator, not as a
# WholeStageCodegen node: count DISTINCT codegen ids
CODEGEN_RE = re.compile(r"\[codegen id : (\d+)\]")


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> dict:
    nodes = NODE_RE.findall(plan)

    def n(*names):
        return sum(1 for x in nodes if x in names)

    pushed = [m for m in PUSHED_RE.findall(plan) if m.strip()]
    return {
        "exchanges": n("Exchange"),
        "codegen_spans": len(set(CODEGEN_RE.findall(plan))),
        "broadcast_joins": n("BroadcastHashJoin", "BroadcastNestedLoopJoin"),
        "shuffle_joins": n("SortMergeJoin", "ShuffledHashJoin"),
        "python_stages": n(
            "MapInArrow", "MapInPandas", "ArrowEvalPython",
            "FlatMapGroupsInPandas", "BatchEvalPython",
        ),
        "windows": n("Window"),
        "aggregates": n("HashAggregate", "SortAggregate", "ObjectHashAggregate"),
        "pushed_filters": "; ".join(pushed) if pushed else "(none)",
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entrymod  # noqa: PLC0415
    from har2tree_spark.datagen import GenConfig, gen_documents_df  # noqa: PLC0415
    from har2tree_spark.operators import cascade, parse, tiling  # noqa: PLC0415
    from har2tree_spark.session import get_spark  # noqa: PLC0415
    from har2tree_spark.sources import events_spans  # noqa: PLC0415

    spark = get_spark("plan_audit", parallelism=8, driver_memory="8g")
    # AQE wraps the static plan in AdaptiveSparkPlan(isFinalPlan=false),
    # which hides codegen-span annotations until execution. The audit is
    # explain-only, so disable AQE HERE ONLY to read the full static plan
    # (the engine runs with AQE on everywhere else — session.py defaults).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    docs = events_spans.documents_from_events(spark, sf_dir)
    feats = parse.parse_documents(docs).localCheckpoint()
    gen = gen_documents_df(spark, 200, seed=42, cfg=GenConfig(max_spans=32))

    queries = {
        "q1_cascade_exact": (
            cascade.resolve_exact(feats),
            "Over the eager parse checkpoint (the narrow, codegen'd parse "
            "runs once in that job; q1-q3 read it): one hash exchange on "
            "doc_id feeds the Tungsten sort + the Arrow-batched "
            "consume-once kernel (MapInArrow). The explicit 1-task/core "
            "repartition is the only shuffle.",
        ),
        "q2_cascade_rank": (
            cascade.resolve_rank(feats),
            "One probe->target equi-join (shuffled hash, reusing the "
            "redirect-prefix window's partitioning) yields the candidate "
            "edges of all five stages; one min_by aggregate per child "
            "picks the consume-once winner with map-side partial combine. "
            "Design budget is <=3 exchanges (plan-asserted in "
            "test_plans.py): target window, probe side, aggregate.",
        ),
        "q3_tile_rollup": (
            tiling.tile_rollup(tiling.tile_assignment(feats)),
            "Multi-resolution explode then one partial-agg rollup: the "
            "groupBy reuses the explode's partitioning where possible and "
            "map-side combine keeps the exchange small.",
        ),
        "q4_gen20k_exact": (
            cascade.resolve_exact(parse.parse_documents(gen)).select(
                "doc_id"
            ).distinct(),
            "Same kernel plan as q1 over the generated corpus plus the "
            "distinct doc count (one extra agg exchange).",
        ),
        "q5_tpch_q1": (
            entrymod.q_tpch_q1(spark, sf_dir),
            "Classic scan->filter->agg: filter and column pruning must "
            "reach the parquet scan (PushedFilters below), one agg "
            "exchange.",
        ),
        "q6_hhhash": (
            entrymod.q_hhhash(spark, sf_dir),
            "Order-sensitive per-doc fold as sort-within-group + "
            "aggregate; no Python stage.",
        ),
        "q7_minhash_lsh": (
            entrymod.q_dedup_minhash(spark, sf_dir),
            "Signature computation is HOF array exprs over one scan "
            "(staged projections defeat CollapseProject re-eval); the r6 "
            "rewrite then does ALL pair generation in one "
            "HashPartitioning(band, bh) exchange — window row_number "
            "pre-cap (bounded bucket state), collect_list sharing the "
            "window's partitioning, JVM pairwise expansion — plus the "
            "pair-dedup exchange. Join-free, checkpoint-free, no Python.",
        ),
        "q8_ann_lsh": (
            entrymod.q_ann_lsh(spark, sf_dir),
            "One fused matmul produces all table signatures; the probe "
            "side is broadcast (small query set), one (table,bucket) "
            "equi-join then exact re-rank.",
        ),
    }

    out = [
        "# BENCH/PLANS — physical-plan audit of the headline queries",
        "",
        f"(Generated by `tools/plan_audit.py {sf_dir}` — explain-only "
        "apart from the eager parse checkpoint q1-q3 read (as in "
        "bench.py); plan shape is scale-independent. AQE is disabled "
        "in the audit session only, so the static plan — including "
        "codegen spans — is visible; at runtime AQE can only improve on "
        "these counts (coalescing exchanges, skew-splitting joins). Node "
        "counts parse the `(N) Name` detail headers, which list each "
        "operator once; codegen spans count distinct `[codegen id : N]` "
        "groups.)",
        "",
        "| query | exchanges | codegen spans | bcast joins | shuffle joins "
        "| python stages | windows | aggs |",
        "|---|---|---|---|---|---|---|---|",
    ]
    details = []
    for name, (df, note) in queries.items():
        plan = formatted_plan(df)
        s = summarize(plan)
        out.append(
            f"| {name} | {s['exchanges']} | {s['codegen_spans']} | "
            f"{s['broadcast_joins']} | {s['shuffle_joins']} | "
            f"{s['python_stages']} | {s['windows']} | {s['aggregates']} |"
        )
        details.append(
            f"## {name}\n\n{note}\n\nPushed filters: `{s['pushed_filters']}`\n\n"
            f"```\n{plan.rstrip()}\n```\n"
        )
        print(name, s)
    out += [
        "",
        "Python stages appear ONLY where they are the designed "
        "Arrow-batched path: q1/q4's consume-once DFS kernel (the "
        "reference-exact contract; MapInArrow), q4's distributed document "
        "generator (MapInPandas) and q8's fused signature matmul "
        "(vectorized pandas_udf over stacked hyperplanes). No "
        "row-at-a-time Python anywhere; every other headline query is "
        "fully JVM-side. `test_plans.py` pins the load-bearing subset of "
        "these properties (exchange budgets, pushdown, broadcast, "
        "no-Python assertions) so regressions fail CI, not just this "
        "audit.",
        "",
    ]
    with open(f"{REPO}/BENCH/PLANS.md", "w") as fh:
        fh.write("\n".join(out) + "\n" + "\n".join(details))
    print(f"wrote {REPO}/BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
