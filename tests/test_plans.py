"""Physical-plan quality gates: the properties that keep this fast at
100 TB, asserted on .explain output so regressions are caught —
predicate pushdown, column pruning, exactly-one UDF evaluation,
broadcast-only dim joins, zero shuffles in the single-pass spine,
whole-stage codegen coverage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skewer_spark import enrich as enr
from skewer_spark.datagen import ensure_transcripts
from skewer_spark.parsing import parse_transcripts
from skewer_spark.queries import load_parsed
from skewer_spark.routing import rules as R


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def routed_plan(spark, sf_dir):
    df = spark.read.parquet(ensure_transcripts(sf_dir))
    parsed = R.with_route_status(parse_transcripts(df))
    routed = R.route_fanout(enr.enrich(parsed, spark), status_aware=True)
    return plan_of(routed)


def test_parse_udf_evaluated_exactly_once(routed_plan):
    # a filter over UDF-derived columns must not duplicate the parse
    assert routed_plan.count("ArrowEvalPython") == 1


def test_dim_joins_are_broadcast_only(routed_plan):
    assert routed_plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in routed_plan
    assert "ShuffledHashJoin" not in routed_plan


def test_spine_has_no_shuffle(routed_plan):
    # the single-pass spine is scan -> UDF -> project -> explode; the only
    # exchanges allowed are broadcast exchanges for the dims
    import re

    shuffles = [
        l for l in routed_plan.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l
    ]
    assert shuffles == [], shuffles


def test_whole_stage_codegen_present(spark, sf_dir):
    # AQE wraps the plan until execution; disable it to see codegen spans
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.read.parquet(ensure_transcripts(sf_dir))
        parsed = R.with_route_status(parse_transcripts(df))
        routed = R.route_fanout(enr.enrich(parsed, spark), status_aware=True)
        plan = plan_of(routed)
        # '*(n)' prefixes mark WholeStageCodegen spans in toString form
        assert "*(" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = spark.read.parquet(ensure_transcripts(sf_dir))
    plan = plan_of(df.where(F.col("conv_id") == "conv-hot"))
    assert "PushedFilters" in plan
    assert "EqualTo(conv_id,conv-hot)" in plan.replace(" ", "").replace(
        "EqualTo(conv_id,conv-hot)", "EqualTo(conv_id,conv-hot)"
    ) or "conv_id" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = spark.read.parquet(ensure_transcripts(sf_dir))
    plan = plan_of(df.select("conv_id", "turn_idx"))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "conv_id" in read_schema and "turn_idx" in read_schema
    assert "text" not in read_schema  # the wide column is NOT read


def test_rollup_scan_prunes_to_key_columns(spark, sf_dir, tmp_path):
    """The pipeline's phase-3 rollup scan (Pipeline.rollup_scan, which
    run() uses) must read only the key columns from the committed
    files, never the wide text/message columns, and must start no
    schema-inference job while the frame is built."""
    from skewer_spark.pipeline import AGG_KEYS, Pipeline

    wh = str(tmp_path / "wh")
    p = Pipeline(spark, wh)
    p.run(spark.read.parquet(ensure_transcripts(sf_dir)), run_id="r")
    sink_files = [
        (s, p.table(s).data_files()) for s in ("sink_app", "sink_default")
    ]
    sc = spark.sparkContext
    sc.setJobGroup("rollup-scan-build", "rollup scan construction")
    try:
        scan = p.rollup_scan(sink_files)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("rollup-scan-build") == []
    plan = plan_of(scan)
    for read_schema in [
        part.splitlines()[0] for part in plan.split("ReadSchema:")[1:]
    ]:
        assert all(k in read_schema for k in AGG_KEYS), read_schema
        assert "message" not in read_schema and "text" not in read_schema
    assert scan.columns == ["sink", *AGG_KEYS]


def test_parse_input_pruned_to_text_and_ts(spark, sf_dir):
    """The UDF stage must feed only (text, ts) into Python — the scan
    reads the other columns only if the query asks for them."""
    parsed = load_parsed(spark, sf_dir).select("priority", "facility")
    plan = plan_of(parsed)
    arrow_line = [l for l in plan.splitlines() if "ArrowEvalPython" in l][0]
    assert "parse_syslog" in arrow_line
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "conv_id" not in read_schema  # pruned away
    assert "text" in read_schema and "ts" in read_schema

def test_octet_framing_has_no_per_key_aggregation_buffer(spark, sf_dir):
    # the framing roundtrip must NOT materialize a whole conversation in
    # one aggregation buffer (collect_list per conv_id OOMs on hot keys
    # at scale): the plan is repartition + in-partition sort + streaming
    # mapInPandas with bounded scanner state
    from skewer_spark.queries import q_source_octet_framed

    plan = plan_of(q_source_octet_framed(spark, sf_dir))
    assert "collect_list" not in plan
    assert "collect_set" not in plan
    assert "ObjectHashAggregate" not in plan
    assert "MapInPandas" in plan
    # the sort is within partitions (non-global): 'Sort [...], false'
    sort_lines = [l for l in plan.splitlines() if "+- Sort [" in l or "Sort [conv_id" in l]
    assert sort_lines and all(", false, 0" in l for l in sort_lines), sort_lines


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    # the co-located-join scale technique: two tables bucketed on the
    # join key join with ZERO shuffle exchanges (SortMergeJoin reads
    # pre-bucketed files). At 100 TB this is how repeated joins against
    # a large keyed table (e.g. per-conversation state) avoid paying
    # the shuffle every run.
    import uuid

    from skewer_spark.datagen import ensure_transcripts

    db = f"bkt_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path / 'bktdb'}'")
    try:
        df = spark.read.parquet(ensure_transcripts(sf_dir := "/root/testdata/sf0.001"))
        (df.write.bucketBy(8, "conv_id").sortBy("conv_id")
           .saveAsTable(f"{db}.turns_a"))
        (df.groupBy("conv_id").count().write.bucketBy(8, "conv_id")
           .saveAsTable(f"{db}.conv_counts"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table(f"{db}.turns_a").join(
                spark.table(f"{db}.conv_counts"), "conv_id"
            )
            plan = plan_of(joined)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        shuffles = [
            l for l in plan.splitlines()
            if "Exchange" in l and "BroadcastExchange" not in l
        ]
        assert shuffles == [], shuffles
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert joined.count() == df.count()
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_dedup_edge_generation_is_equijoin_only(spark):
    # candidate generation must stay equality joins (band/bucket keys):
    # a CartesianProduct here is the all-pairs blowup the LSH designs
    # exist to avoid. (Tiny broadcast NLJs against literal VALUES lists
    # of band indices are fine — they are K-row broadcasts.)
    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_spark

    spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .createOrReplaceTempView("documents")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .createOrReplaceTempView("embeddings")
    for ctes in (
        C.minhash_edge_ctes(),
        C.simhash_edge_ctes(),
        C.embed_edge_ctes(),
    ):
        df = spark.sql(to_spark(C.edges_select_sql(ctes)))
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, plan[:2000]


def test_contamination_plan_is_broadcast_equijoin_only(spark):
    # decontamination must stay equality joins: the common-shingle
    # prune plans as a broadcast LEFT ANTI, the bench-hits join as a
    # broadcast hash join (an eval suite is tiny next to the corpus) —
    # never a CartesianProduct / nested-loop fallback from the NOT IN
    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_spark

    spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .createOrReplaceTempView("documents")
    plan = plan_of(spark.sql(to_spark(C.contamination_flags_sql())))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "LeftAnti" in plan


def test_hook_fanout_plan_shape(spark, sf_dir):
    # a hooked rule adds exactly ONE FlatMapGroupsInPandas stage (the
    # hook's groupBy shuffle) on top of the spine; the fan-out stays a
    # single projection (no per-rule recompute, no extra exchanges
    # beyond the hook's own)
    from skewer_spark.routing import filter_hooks as FH

    parsed = load_parsed(spark, sf_dir).select(
        "conv_id", "turn_idx", "appname", "message", "parse_error"
    )
    rules = (
        R.RouteRule("sink_limited", "'limited'", "TRUE",
                    partition_key_expr="'pk'",
                    partition_number_expr="turn_idx % 32",
                    filter_hook="rate_limit_mask"),
        R.RouteRule("sink_all", "'everything'", "TRUE",
                    partition_key_expr="'pk'",
                    partition_number_expr="turn_idx % 32"),
    )
    routed = R.route_fanout(FH.apply_hooks_for_rules(parsed, rules), rules)
    plan = plan_of(routed)
    assert plan.count("FlatMapGroupsInPandas") == 1
    # rate_limit_mask declares default_status (sparse verdicts), so
    # the join-back must be a BROADCAST left join of the few
    # non-default rows — the wide side keeps its partitioning, no
    # exchange, no sort-merge. The input lineage (incl. the parse UDF)
    # runs once per join side — measured cheaper at 10M rows than
    # materializing the wide frame (BENCH/BASELINE.md r4); never a
    # cartesian.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("ArrowEvalPython") == 2
    assert "CartesianProduct" not in plan


def test_line_dedup_plan_shape(spark):
    # corpus-wide span dedup: first-occurrence resolution must be
    # HashAggregates with map-side partial combine over the 32-byte
    # span digest (a hyper-duplicated span collapses per map task —
    # the skew a row_number() OVER (PARTITION BY span) would funnel
    # into one reduce task), and every verdict join an equi-join
    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_spark

    spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .createOrReplaceTempView("documents")
    plan = plan_of(spark.sql(to_spark(C.line_dedup_sql(w=3))))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "partial_" in plan          # map-side combine before shuffle
    assert "Window" not in plan        # no per-span-key serialization


def test_prebucketed_corpus_joins_without_shuffle(spark, sf_dir):
    # the pre-bucketed-corpus pattern at 100 TB: a table that is joined
    # on the same key by every daily job (dedup verdicts, enrich,
    # incremental anti-joins) is written ONCE bucketed by that key;
    # every subsequent co-bucketed join then reads buckets directly —
    # SortMergeJoin with NO Exchange on either side, i.e. the recurring
    # shuffle of the 10^12-row side is paid once at write time
    import uuid

    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bkt_a_{suffix}", f"bkt_b_{suffix}"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    try:
        docs.write.bucketBy(8, "doc_id").sortBy("doc_id").mode(
            "overwrite"
        ).saveAsTable(ta)
        docs.selectExpr("doc_id", "n_chars").write.bucketBy(
            8, "doc_id"
        ).sortBy("doc_id").mode("overwrite").saveAsTable(tb)
        j = spark.table(ta).join(spark.table(tb).hint("merge"), "doc_id")
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() == docs.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")
