"""Render the physical plans of the headline frames into PLANS.md.

tests/test_plans.py ASSERTS the plan properties (single UDF eval,
broadcast-only joins, shuffle-free spine, pushdown/pruning, codegen);
this tool makes the same evidence readable without running Spark —
the artifact the scale review reads next to BENCH/BASELINE.md.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from skewer_spark import enrich as enr
    from skewer_spark.datagen import ensure_transcripts
    from skewer_spark.parsing import parse_transcripts
    from skewer_spark.routing import rules as R
    from skewer_spark.session import get_spark

    spark = get_spark(app_name="dump-plans", master="local[4]", shuffle_partitions=8, silence_window_warn=True)
    df = spark.read.parquet(ensure_transcripts(sf_dir))

    sections: list[tuple[str, str, str]] = []

    parsed = parse_transcripts(df).select("conv_id", "priority", "facility")
    sections.append((
        "Parse stage (scan -> one Arrow-batched UDF -> projection)",
        "Input pruned to (text, ts) at the scan (ReadSchema); exactly one "
        "ArrowEvalPython; no exchange.",
        formatted(parsed),
    ))

    routed = R.route_fanout(
        enr.enrich(R.with_route_status(parse_transcripts(df)), spark)
    ).select("sink", "topic", "partition_key", "partition_number", "conv_id")
    sections.append((
        "Full routed spine (parse -> status -> 4 broadcast enrich joins -> fan-out)",
        "All dim joins are BroadcastHashJoin; the spine has NO shuffle "
        "exchange; rule constants are folded into the projection.",
        formatted(routed),
    ))

    pushed = df.where(F.col("conv_id") == "conv-hot").select("conv_id", "turn_idx")
    sections.append((
        "Predicate pushdown + column pruning",
        "PushedFilters carries the conv_id equality into the parquet scan; "
        "ReadSchema omits the wide text column.",
        formatted(pushed),
    ))

    rollup = (
        R.route_fanout(enr.enrich(R.with_route_status(parse_transcripts(df)), spark))
        .groupBy("sink", "facility")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sections.append((
        "Rollup aggregate (map-side partial combine)",
        "HashAggregate(partial) under the single exchange of rollup keys — "
        "row bodies never shuffle.",
        formatted(rollup),
    ))

    from skewer_spark.parsing.binary_sources import octet_framed_roundtrip

    framed = octet_framed_roundtrip(df)
    sections.append((
        "Octet framing roundtrip (bounded-state streaming scan, round 2)",
        "repartition(conv_id) + NON-GLOBAL sort + MapInPandas with "
        "one-partial-frame scanner state; no collect_list / "
        "ObjectHashAggregate, so a hot conversation costs sort time "
        "instead of one unbounded aggregation buffer.",
        formatted(framed),
    ))

    from skewer_spark.ops.packing import pack_sequences
    from skewer_spark.queries import _make_ops_query

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sections.append((
        "Sequence packing (distributed two-phase prefix sum, round 3)",
        "The row-level running-sum window is PARTITIONED by block "
        "(windowspecdefinition carries _blk); the only SinglePartition "
        "exchange holds block TOTALS (rows/block_size rows) above a "
        "HashAggregate; block offsets rejoin via BroadcastHashJoin. A "
        "naive sum() OVER (ORDER BY doc_id) would move every document "
        "row through one task.",
        formatted(pack_sequences(docs)),
    ))

    from skewer_spark.routing.filter_hooks import apply_hooks_for_rules

    hook_rules = (
        R.RouteRule(
            "sink_limited", "'limited'", "TRUE", filter_hook="rate_limit_mask"
        ),
        R.RouteRule("sink_all", "'everything'", "TRUE"),
    )
    hooked = R.route_fanout(
        apply_hooks_for_rules(
            enr.enrich(R.with_route_status(parse_transcripts(df)), spark),
            hook_rules,
        ),
        hook_rules,
    ).select("sink", "topic", "conv_id", "turn_idx", "message")
    sections.append((
        "Hooked fan-out, NARROW hook path (round 3)",
        "The registered filter hook ships only key+group+reads+mutates "
        "columns into ONE FlatMapGroupsInPandas (its groupBy exchange is "
        "the hook's only shuffle) and the slim verdict frame equi-joins "
        "back on the unique (conv_id, turn_idx) key — wide columns stay "
        "JVM-side. The parse UDF appears on BOTH join sides (lineage "
        "runs twice; the deliberate trade, 2.5x faster e2e than one "
        "full-width pass at 10M rows — BENCH/BASELINE.md).",
        formatted(hooked),
    ))

    sections.append((
        "Corpus-wide span (line) dedup, C4-style (round 3)",
        "First-occurrence resolution is two partial-combine "
        "HashAggregates keyed on md5(span) — shuffles move 32-byte "
        "digests, never span bodies, and a hyper-duplicated span "
        "collapses per map task instead of funnelling into one "
        "row_number reduce task; verdict joins are hash equi-joins; "
        "reassembly is one groupBy(doc_id).",
        formatted(_make_ops_query("line_dedup")(spark, sf_dir)),
    ))

    sections.append((
        "Corpus n-gram census top-k (round 3)",
        "One bigram-key exchange with HashAggregate(partial) map-side "
        "combine absorbing the Zipf head; the top-k is "
        "TakeOrderedAndProject (k rows per partition to the driver), "
        "never a global sort.",
        formatted(_make_ops_query("ngram_counts")(spark, sf_dir)),
    ))

    sections.append((
        "DSIR importance weights (round 4)",
        "One conditional-aggregate exchange builds BOTH the raw and "
        "target bucket distributions (<= B rows out, map-side "
        "combined); the B-row ratio table returns by BroadcastHashJoin; "
        "doc scoring is one doc_id HashAggregate. Integer-only "
        "arithmetic end to end — no ln(), no float sums.",
        formatted(_make_ops_query("dsir_weights")(spark, sf_dir)),
    ))

    sections.append((
        "LM bigram quality filter (round 5)",
        "All model-side tables (bigram counts, context counts, vocab "
        "scalar) come from the SMALL target slice and return by "
        "BroadcastHashJoin / 1-row broadcast cross join — the raw-side "
        "scoring probe never shuffles document rows; the only "
        "data-sized exchange is the doc_id HashAggregate (map-side "
        "combined). Integer-only arithmetic end to end. Gate-scale "
        "caveats carried in the docstring: the score CTE is inlined "
        "twice (stage it to parquet at production scale) and the "
        "ntile(3) window is the bounded per-DOC frame (swap for the "
        "blocked two-phase rank at 10^12 docs).",
        formatted(_make_ops_query("lm_bigram_score")(spark, sf_dir)),
    ))

    from skewer_spark.ops.curation import curate_pack, funnel_tok_df
    sections.append((
        "Curation funnel (round 5: single-pass Arrow kernel form)",
        "One scan -> ONE MapInArrow stage (curation_kernel: quality "
        "CASE + normalization + PII scrub vectorized under RE2/numpy; "
        "non-kept rows dropped in-kernel) -> JVM md5 projection -> one "
        "digest HashAggregate with partial combine (min_by dedup "
        "winners). No self-join, no row-at-a-time Python; only 32-byte "
        "digests + ints cross the exchange. The Arrow stage is a "
        "measured decision, not a style break: the normalization "
        "class [^a-z0-9 ] costs ~265 us-core/doc under the JVM's "
        "java.util.regex scan loop vs ~2 us/doc under RE2 — the same "
        "finding that made Arrow/RE2 the parse spine's kernel.",
        formatted(funnel_tok_df(spark, sf_dir, augment=False)),
    ))
    sections.append((
        "Curation capstone output (filter -> dedup -> scrub -> pack)",
        "The packed output = the funnel above, MATERIALIZED "
        "(localCheckpoint; at scale: a parquet stage), feeding the "
        "blocked prefix-sum windows with a broadcast of block totals. "
        "The cut is deliberate: the sum's two legs are "
        "differently-pruned projections, so without it the whole "
        "scan+kernel funnel would execute twice. No CartesianProduct; "
        "the single SinglePartition window holds block TOTALS "
        "(rows/BLOCK rows), never documents.",
        formatted(curate_pack(spark, sf_dir)),
    ))

    out = ["# PLANS — physical-plan evidence (generated by tools/dump_plans.py)",
           "",
           "Regenerate: `python tools/dump_plans.py`. The same properties are",
           "ASSERTED by tests/test_plans.py; this file is the readable copy.",
           ""]
    for title, note, plan in sections:
        out += [f"## {title}", "", note, "", "```", plan, "```", ""]
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
