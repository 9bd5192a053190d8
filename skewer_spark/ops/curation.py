"""End-to-end corpus curation — the capstone composition.

A training-data pipeline is not a bag of operators; it is a FUNNEL:

    raw docs -> quality filter -> dedup -> PII scrub -> token packing

with a row-accounting LEDGER so every dropped document is attributed
to exactly one stage (the compliance artifact a 100-TB curation run
must produce: rows_in/rows_out per stage must chain, and the final
token total must equal what the packer scheduled).

This module chains previously-gated ops VERBATIM — the quality rules
are ``corpus_ops.quality_cls_ctes`` (same text as ``corpus_filter``),
the dedup fingerprint is ``corpus_ops.NORM_FP_EXPR`` (same text as
``dedup_normalized``), the PII patterns are the ``pii_scrub`` trio,
and the packer is ``packing.blocked_prefix_sum`` (same two-phase
distributed prefix sum as ``pack_sequences``) — so the capstone
cannot drift from the already-verified pieces.

Scale shape (the whole point of composing INSIDE one plan): the four
stages are ONE Catalyst plan — a narrow projection + one hash
aggregate for dedup + the blocked prefix-sum windows. No stage
materializes between steps, so column pruning reaches the scan and
the text column is dropped the moment ``scrubbed_md5``/``n_tokens``
are computed. At 10^12 docs the only shuffles are: the dedup
fingerprint groupBy (32-byte digests), the per-block packing windows,
and one broadcast of block totals. The ledger is a handful of
single-row aggregates over the same CTE chain.

Reference anchor: skewer's pipeline composes source -> parser ->
filter -> delivery with per-stage counters exposed as skw_* metrics
(services/milo/milo.go wiring, stats/stats.go counters); the ledger
here is the batch analog of those per-stage counters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skewer_spark.ops import corpus_ops as C
from skewer_spark.ops.curation_kernel import (
    FUNNEL_SCHEMA_DDL,
    PII_EMAIL,
    PII_HOST,
    PII_IP,
    funnel_kernel,
)
from skewer_spark.ops.packing import (
    PACK_BUDGET,
    blocked_prefix_sum,
    pack_position_cols,
)
from skewer_spark.ops.portable import to_spark

# PII patterns — backslash-free so the identical literals parse in
# both engines. CANONICAL definitions live in curation_kernel (the
# Arrow funnel kernel uses them under RE2); re-exported here (imported
# above) so queries.q_pii_scrub, the macro-SQL funnel text, and the
# kernel are all built from one source of truth.

_SCRUB = (
    f"RREPLACE(RREPLACE(RREPLACE(text, "
    f"'{PII_EMAIL}', '<EMAIL>'), "
    f"'{PII_IP}', '<IP>'), "
    f"'{PII_HOST}', '<HOST>')"
)
_N_RED = (
    f"CAST(RCOUNT(text, '{PII_EMAIL}') + RCOUNT(text, '{PII_IP}') "
    f"+ RCOUNT(text, '{PII_HOST}') AS BIGINT)"
)


def gate_docs_cte() -> str:
    """Deterministic fixture augmentation for the gate corpus — the
    synthetic documents table is clean word-salad, so the funnel's
    dedup and scrub stages would be no-ops on it. Two variant families
    (same discipline as dedup_normalized_sql's fixture): every 5th doc
    re-appears case/punctuation-mangled (must be REMOVED by the dedup
    stage — its normalization fingerprint equals its source's), and
    every 7th doc re-appears with an appended PII sentence (must
    SURVIVE dedup — extra words change the fingerprint — and then be
    redacted by the scrub stage). Production runs use the real table
    untouched (real_docs_cte; curate_pack/run_curation augment
    param)."""
    return f"""docs_src AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 300000 AS doc_id, lang, upper(text) || ' !!!' AS text
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 600000 AS doc_id, lang,
         text || ' contact user' || CAST(doc_id AS SSTR)
              || '@example.com from 10.0.' || CAST(doc_id % 256 AS SSTR)
              || '.' || CAST(doc_id % 100 AS SSTR)
              || ' via host-' || CAST(doc_id AS SSTR) AS text
  FROM documents WHERE doc_id % 7 = 0
)"""


def real_docs_cte() -> str:
    """Production docs_src: the documents table untouched."""
    return "docs_src AS (SELECT doc_id, lang, text FROM documents)"


def _docs_cte(augment: bool) -> str:
    return gate_docs_cte() if augment else real_docs_cte()


def _src_ctes(augment: bool, where: str | None) -> tuple[str, str]:
    """(CTE text, source relation name): docs_src, optionally
    restricted to a batch predicate (the day-N slice of the corpus).
    where=None yields exactly the unrestricted text the gate pins."""
    base = _docs_cte(augment)
    if where is None:
        return base, "docs_src"
    return (
        base
        + f""",
batch AS (SELECT doc_id, lang, text FROM docs_src WHERE {where})""",
        "batch",
    )


def _kept_winners_ctes(src: str) -> str:
    """quality -> kept -> fingerprint -> per-fingerprint winner, the
    front half shared by the full funnel and the incremental one."""
    return f"""{C.quality_cls_ctes(src)},
kept AS (
  SELECT d.doc_id, d.text FROM {src} d
  JOIN cls ON d.doc_id = cls.doc_id
  WHERE cls.reason = 'kept'
),
normed AS (SELECT doc_id, text, {C.NORM_FP_EXPR} AS norm_fp FROM kept),
winners AS (
  SELECT norm_fp, CAST(min(doc_id) AS BIGINT) AS keep_id
  FROM normed GROUP BY norm_fp
)"""


def _tok_cte() -> str:
    """surv -> scrubbed hash + redaction count + token count."""
    return f"""tok AS (
  SELECT doc_id,
         md5({_SCRUB}) AS scrubbed_md5,
         {_N_RED} AS n_redactions,
         CAST(ASIZE(SPLIT({_SCRUB}, ' ')) AS BIGINT) AS n_tokens
  FROM surv
)"""


def survivors_ctes(src: str = "docs_src") -> str:
    """The shared funnel CTE chain over ``src``:

      kept    — docs whose quality reason is 'kept'
      normed  — kept + normalization fingerprint
      winners — min doc_id per fingerprint (dedup canonical)
      surv    — the surviving documents (winners' bodies)
      tok     — scrubbed hash + redaction count + token count

    Pure macro-SQL; identical text runs on Spark and DuckDB."""
    return f"""{_kept_winners_ctes(src)},
surv AS (
  SELECT n.doc_id, n.text
  FROM normed n JOIN winners w ON n.doc_id = w.keep_id
),
{_tok_cte()}"""


def funnel_tok_df(
    spark: SparkSession,
    sf_dir: str | None,
    augment: bool = True,
    where: str | None = None,
    keep_fp: bool = False,
) -> DataFrame:
    """SINGLE-PASS Spark-side evaluation of the survivors funnel — the
    scale form of ``survivors_ctes`` (same verdicts, pinned by
    tests/test_curation.py::test_single_pass_funnel_matches_macro and
    the cross-engine gate, which now compares two INDEPENDENT
    formulations: this one on Spark vs the relational restatement on
    DuckDB).

    Why not run the shared macro text on Spark too: the relational
    form re-reads the corpus once per CTE reference (cls joins back on
    doc_id, winners joins back on keep_id), so the scan + the
    array/regex feature expressions — the DRAM-heaviest work in the
    whole capstone — execute 3-4x per row. Measured at 2.7 M docs that
    recomputation dominates the funnel wall AND collapses its 2-vs-8
    core scaling. This form instead:

      one scan -> ONE Arrow-vectorized stage (mapInArrow,
      curation_kernel.funnel_kernel: quality CASE + normalization +
      PII scrub under RE2/numpy, non-kept rows dropped in-kernel) ->
      narrow JVM projection (md5 of the normalized and scrubbed
      texts) -> ONE hash aggregate: min_by(value, doc_id) per
      fingerprint.

    Why a Python stage in a repo that treats UDFs as the slow path:
    measured cost, not taste — the funnel's normalization class
    ``[^a-z0-9 ]`` costs ~265 us-core/doc under the JVM's
    java.util.regex scan loop vs ~2 us/doc under Arrow's RE2 (see
    curation_kernel module docstring; same finding that made Arrow/RE2
    the parse spine's kernel). The kernel is RecordBatch ->
    RecordBatch (no pandas), and everything downstream is JVM: bodies
    are never shuffled (only 32-byte digests + ints), there is no
    self-join at all, and every per-row expression evaluates exactly
    once. The scrub runs for kept-but-duplicate docs whose values are
    then discarded by min_by — a bounded waste (the duplicate
    fraction) traded for never traversing the scan twice. min_by is
    deterministic here because doc_id is unique."""
    if sf_dir is not None:
        spark.read.parquet(
            f"{sf_dir}/documents.parquet"
        ).createOrReplaceTempView("documents")
    ctes, src = _src_ctes(augment, where)
    src_df = spark.sql(
        to_spark(f"WITH {ctes} SELECT doc_id, lang, text FROM {src}")
    )
    return funnel_over(src_df, keep_fp=keep_fp)


def funnel_over(
    src_df: DataFrame, keep_fp: bool = False, with_counts: bool = False
) -> DataFrame:
    """The kernel funnel over an arbitrary (doc_id, lang, text) frame —
    the shared core of funnel_tok_df, curate_increment, and the
    streaming twin. ``with_counts`` adds ``fp_rows`` (kept docs per
    fingerprint, i.e. 1 + duplicates collapsed), which lets callers
    derive the ledger's quality-stage count (sum(fp_rows)) from the
    funnel output instead of re-running the funnel."""
    kt = src_df.mapInArrow(funnel_kernel, FUNNEL_SCHEMA_DDL)
    aggs = [
        F.min("doc_id").alias("doc_id"),
        F.expr("min_by(n_tokens, doc_id)").alias("n_tokens"),
        F.expr("min_by(n_redactions, doc_id)").alias("n_redactions"),
        F.expr("min_by(scrubbed_md5, doc_id)").alias("scrubbed_md5"),
    ]
    cols = ["doc_id", "n_tokens", "n_redactions", "scrubbed_md5"]
    if with_counts:
        aggs.append(F.count(F.lit(1)).cast("long").alias("fp_rows"))
        cols.append("fp_rows")
    if keep_fp:
        cols.append("norm_fp")
    return (
        kt.select(
            "doc_id",
            F.md5("norm_text").alias("norm_fp"),
            F.md5("scrub_text").alias("scrubbed_md5"),
            "n_redactions",
            "n_tokens",
        )
        .groupBy("norm_fp")
        .agg(*aggs)
        .select(*cols)
    )


def curation_ledger_sql(
    budget: int = PACK_BUDGET,
    augment: bool = True,
    where: str | None = None,
) -> str:
    """The row-accounting ledger: one row per funnel stage with
    (rows_in, rows_out, metric). metric is stage-specific — docs
    dropped for the two filtering stages, total redactions for the
    scrub, total tokens for the packer (whose rows_out is the number
    of packs the token stream cuts into). rows_out of stage N equals
    rows_in of stage N+1 BY CONSTRUCTION of the shared CTE chain; the
    gate hashes the whole table cross-engine."""
    ctes, src = _src_ctes(augment, where)
    return f"""
WITH {ctes},
{survivors_ctes(src)},
raw_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM {src}),
kept_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM kept),
surv_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM surv),
red_n AS (SELECT CAST(COALESCE(sum(n_redactions), 0) AS BIGINT) AS n FROM tok),
tok_n AS (SELECT CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) AS n FROM tok)
SELECT * FROM (
  SELECT CAST(1 AS INT) AS stage_idx, 'quality_filter' AS stage,
         raw_n.n AS rows_in, kept_n.n AS rows_out,
         raw_n.n - kept_n.n AS metric
  FROM raw_n, kept_n
  UNION ALL
  SELECT CAST(2 AS INT), 'dedup_normalized', kept_n.n, surv_n.n,
         kept_n.n - surv_n.n
  FROM kept_n, surv_n
  UNION ALL
  SELECT CAST(3 AS INT), 'pii_scrub', surv_n.n, surv_n.n, red_n.n
  FROM surv_n, red_n
  UNION ALL
  SELECT CAST(4 AS INT), 'pack_sequences', surv_n.n,
         IDIV(tok_n.n + {budget} - 1, {budget}), tok_n.n
  FROM surv_n, tok_n
) t"""


def curate_pack(
    spark: SparkSession,
    sf_dir: str,
    budget: int = PACK_BUDGET,
    augment: bool = True,
    where: str | None = None,
) -> DataFrame:
    """The funnel's OUTPUT: every surviving document with its scrubbed
    hash, redaction count, and scheduled place in the packed token
    stream. Spark side = the single-pass funnel (funnel_tok_df — one
    scan, one narrow aggregate, bodies never shuffled) feeding the
    DISTRIBUTED two-phase prefix sum (packing.blocked_prefix_sum — no
    single-partition global window); the oracle independently restates
    the funnel relationally (winners join) and the prefix sum as the
    plain global window DuckDB can afford at gate scale.

    The funnel output is MATERIALIZED (localCheckpoint) before the
    prefix sum: the sum's window leg and block-totals leg are
    differently-pruned projections of the same input, so Catalyst
    cannot reuse the funnel's aggregate exchange between them
    (verified: without the cut the plan holds TWO FileScans — the
    whole scan+regex funnel executes twice). Cutting lineage here is
    exactly packing.py's documented trade: the two prefix-sum
    traversals then re-read ~4 narrow materialized columns, not two
    tokenizations. Plan-gated (test_curate_pack_plan_shape: zero
    FileScans downstream of the cut). At real scale stage the narrow
    frame to parquet instead; localCheckpoint is the single-host
    spelling of the same move (same note as run_curation)."""
    base = funnel_tok_df(
        spark, sf_dir, augment=augment, where=where
    ).localCheckpoint()
    c = blocked_prefix_sum(base, order_col="doc_id", value_col="n_tokens")
    return c.select(
        "doc_id",
        "n_tokens",
        "n_redactions",
        "scrubbed_md5",
        F.col("start_tok").cast("long").alias("start_tok"),
        *pack_position_cols(budget),
    )


def curate_pack_oracle_sql(
    budget: int = PACK_BUDGET, augment: bool = True
) -> str:
    """Independent DuckDB restatement: identical funnel CTEs, prefix
    sum as one global window (exclusive ROWS frame)."""
    return f"""
WITH {_docs_cte(augment)},
{survivors_ctes()},
c AS (
  SELECT doc_id, n_tokens, n_redactions, scrubbed_md5,
         CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_tok
  FROM tok
)
SELECT doc_id, n_tokens, n_redactions, scrubbed_md5, start_tok,
       IDIV(start_tok, {budget}) AS pack_first,
       IDIV(start_tok + n_tokens - 1, {budget}) AS pack_last,
       CAST(start_tok % {budget} AS INT) AS offset_in_pack,
       CAST(IDIV(start_tok + n_tokens - 1, {budget})
            - IDIV(start_tok, {budget}) + 1 AS INT) AS packs_spanned
FROM c"""


def _meta_path(out_dir: str) -> str:
    import os

    return os.path.join(out_dir, "curation_meta.json")


def _read_meta(out_dir: str) -> dict:
    import json
    import os

    path = _meta_path(out_dir)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _write_meta(out_dir: str, meta: dict) -> None:
    import json
    import os

    os.makedirs(out_dir, exist_ok=True)
    tmp = _meta_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, _meta_path(out_dir))


def _check_budget(out_dir: str, budget: int) -> None:
    """Persist the pack budget on first use; refuse a different one
    later — pack columns tiled at mixed boundaries would silently
    corrupt the committed table."""
    meta = _read_meta(out_dir)
    if "budget" in meta:
        if meta["budget"] != budget:
            raise ValueError(
                f"budget {budget} != committed budget {meta['budget']} "
                f"(pinned in {_meta_path(out_dir)}); pack boundaries must "
                "be uniform across runs of one warehouse"
            )
        return
    meta["budget"] = budget
    _write_meta(out_dir, meta)


def _record_raw_bound(
    out_dir: str, batch_max_id: int | None, run_id: str
) -> None:
    """Track the highest RAW doc_id any committed batch has covered —
    the id bound the overlap guard compares against (the curated max
    is NOT usable: a batch whose trailing docs were all filtered out
    would leave a hole the guard could not see). The bound is recorded
    PER RUN (``raw_bounds[run_id]``), not just as a global max: the
    guard must ignore the bound a run itself wrote, or a crash between
    this write and the first table append would make the rerun of the
    SAME run_id refuse its own raw range forever (ADVICE r4 #1 — the
    rerun's min_id <= its own recorded max_id always). ``max_raw_id``
    is kept as the legacy aggregate for warehouses predating the
    per-run field."""
    if batch_max_id is None:
        return
    meta = _read_meta(out_dir)
    if "raw_bounds" not in meta and "max_raw_id" in meta:
        # migrating a legacy warehouse: its unattributed aggregate is
        # some OTHER run's coverage — keep it as a synthetic entry so
        # the exclusion arithmetic never forgets committed legacy runs
        meta["raw_bounds"] = {"__legacy__": meta["max_raw_id"]}
    bounds = meta.setdefault("raw_bounds", {})
    if bounds.get(run_id) == int(batch_max_id):
        return
    bounds[run_id] = int(batch_max_id)
    meta["max_raw_id"] = max(meta.get("max_raw_id", -1), int(batch_max_id))
    _write_meta(out_dir, meta)


def _committed_bound_excluding(out_dir: str, run_id: str) -> int | None:
    """The highest raw doc_id recorded by any OTHER run — what the
    overlap guard compares a new batch against. Mirrors
    curation_stream's replay recognition: a bound this run itself
    wrote (then crashed before appending) must not block its rerun.
    Returns None when no other run has recorded a bound; legacy
    warehouses (meta has max_raw_id but no raw_bounds attribution)
    fall back to the unattributed aggregate — over-refusal on a
    crashed legacy rerun is the safe direction."""
    meta = _read_meta(out_dir)
    bounds = meta.get("raw_bounds")
    if bounds is None:
        return meta.get("max_raw_id")
    other = [v for k, v in bounds.items() if k != run_id]
    return max(other) if other else None


def _ledger_from_base(
    spark: SparkSession,
    base: DataFrame,
    raw_n: int,
    budget: int,
    run_id: str,
    prior_toks: int,
    dedup_stage: str,
    kept_n: int | None = None,
) -> DataFrame:
    """The 4-stage row-accounting ledger derived from a MATERIALIZED
    funnel output (one tiny aggregate over the checkpointed narrow
    frame — no funnel re-execution). kept_n defaults to sum(fp_rows)
    (full-run case: every quality keeper is in some fingerprint
    group); the increment passes it explicitly because its base has
    already dropped vs-corpus duplicate groups entirely."""
    from pyspark.sql import types as T

    agg_cols = [
        F.count(F.lit(1)).cast("long").alias("surv_n"),
        F.coalesce(F.sum("n_redactions"), F.lit(0)).cast("long").alias("red_n"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("tok_n"),
    ]
    if kept_n is None:
        agg_cols.append(
            F.coalesce(F.sum("fp_rows"), F.lit(0)).cast("long").alias("kept_n")
        )
    aggs = base.agg(*agg_cols).collect()[0]
    k = int(kept_n if kept_n is not None else aggs["kept_n"])
    raw_n = int(raw_n)
    total_packs = (prior_toks + aggs["tok_n"] + budget - 1) // budget
    schema = T.StructType(
        [
            T.StructField("stage_idx", T.IntegerType()),
            T.StructField("stage", T.StringType()),
            T.StructField("rows_in", T.LongType()),
            T.StructField("rows_out", T.LongType()),
            T.StructField("metric", T.LongType()),
            T.StructField("run_id", T.StringType()),
        ]
    )
    return spark.createDataFrame(
        [
            (1, "quality_filter", raw_n, k, raw_n - k, run_id),
            (2, dedup_stage, k, aggs["surv_n"], k - aggs["surv_n"], run_id),
            (3, "pii_scrub", aggs["surv_n"], aggs["surv_n"],
             aggs["red_n"], run_id),
            (4, "pack_sequences", aggs["surv_n"], total_packs,
             aggs["tok_n"], run_id),
        ],
        schema=schema,
    )


def run_curation(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    run_id: str = "curation-1",
    budget: int = PACK_BUDGET,
    augment: bool = False,
    where: str | None = None,
) -> dict[str, int]:
    """Operational capstone: run the funnel over the REAL documents
    table (augment=False — no gate fixture variants; pass augment=True
    only to reproduce the gate corpus), optionally restricted to a
    ``where`` batch predicate, and COMMIT three artifacts as IceLite
    tables — the curated/packed documents, the ledger, and the
    survivor FINGERPRINTS (``curated_fps``: what curate_increment
    needs to dedup future batches without re-reading bodies). Atomic
    manifest commits, idempotent by run_id: a replayed run is a no-op,
    same exactly-once discipline as the pipeline's sink writes.
    The committed ledger carries a ``run_id`` column so per-run rows
    are attributable and curate_increment can derive the committed
    token offset from the ledger alone; its values are derived from
    the one materialized funnel output and pinned equal to the
    gate-registered ``curation_ledger_sql``
    (test_run_curation_ledger_matches_gate_sql). The pack ``budget`` is persisted to
    ``<out_dir>/curation_meta.json`` on the first run; later runs and
    increments refuse a different budget (mixed-boundary pack columns
    would silently corrupt the table). Returns
    {table: rows_committed}."""
    from skewer_spark.icelite import IceLiteTable

    _check_budget(out_dir, budget)
    # full mode restarts pack tiling at token 0 and dedups only within
    # its own slice — appending it into a warehouse that already holds
    # OTHER runs would silently corrupt both; that job is
    # curate_increment's (a replay of this run's own id stays a no-op)
    docs_t = IceLiteTable(out_dir, "curated_docs")
    prior_runs = docs_t.committed_runs() if docs_t.snapshots() else set()
    if prior_runs and run_id not in prior_runs:
        raise ValueError(
            f"warehouse {out_dir} already holds run(s) {sorted(prior_runs)}"
            " — full-mode run_curation would restart pack tiling at 0;"
            " use curate_increment for follow-on batches"
        )
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    ctes, src = _src_ctes(augment, where)
    # ONE funnel execution, in the single-pass kernel form: the narrow
    # (digests + ints, no text) survivor frame is materialized once
    # and feeds the packed table, the fingerprint table, the prefix
    # sum's two legs, AND the ledger (with_counts carries the
    # quality-stage survivor count through the dedup aggregate, so the
    # ledger no longer re-runs the funnel — it used to re-execute the
    # whole macro chain, doubling the run's scan+regex work). At real
    # scale stage this frame to parquet instead (packing.py
    # docstring); localCheckpoint is the single-host spelling of the
    # same move.
    src_df = spark.sql(
        to_spark(f"WITH {ctes} SELECT doc_id, lang, text FROM {src}")
    )
    base = funnel_over(src_df, keep_fp=True, with_counts=True).localCheckpoint()
    c = blocked_prefix_sum(
        base.drop("norm_fp", "fp_rows"),
        order_col="doc_id",
        value_col="n_tokens",
    )
    packed = c.select(
        "doc_id",
        "n_tokens",
        "n_redactions",
        "scrubbed_md5",
        F.col("start_tok").cast("long").alias("start_tok"),
        *pack_position_cols(budget),
    )
    fps = base.select("norm_fp", "doc_id")
    # ledger from the materialized funnel + one cheap raw scan; equal
    # by construction to the gate-pinned curation_ledger_sql (the
    # kernel==macro equality is pinned by test_single_pass_funnel_
    # matches_macro, and test_run_curation_ledger_matches_gate_sql
    # pins this derivation against the registered SQL end-to-end)
    raw = spark.sql(
        to_spark(
            f"WITH {ctes}\nSELECT CAST(count(*) AS BIGINT) AS n,"
            f" max(doc_id) AS m FROM {src}"
        )
    ).collect()[0]
    raw_max = raw["m"]
    ledger = _ledger_from_base(
        spark,
        base,
        raw_n=raw["n"],
        budget=budget,
        run_id=run_id,
        prior_toks=0,
        dedup_stage="dedup_normalized",
    )
    _record_raw_bound(out_dir, raw_max, run_id)  # before appends
    out: dict[str, int] = {}
    for name, df in (
        ("curated_docs", packed),
        ("curation_ledger", ledger),
        ("curated_fps", fps),
    ):
        t = IceLiteTable(out_dir, name)
        t.append(df, run_id=run_id)
        out[name] = t.read(spark).count()
    return out


def curate_increment(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    run_id: str,
    where: str,
    budget: int = PACK_BUDGET,
    augment: bool = False,
) -> dict[str, int]:
    """Day-N curation: curate a NEW batch (the ``where`` slice of the
    corpus) against the already-committed tables in ``out_dir`` and
    append the results. The steady-state shape of a 10^12-doc
    pipeline — per batch the committed corpus contributes only

      * its fingerprint table (``curated_fps``) — digests, not
        bodies — for the frozen-snapshot dedup exclusion, and
      * one column-pruned aggregate, sum(n_tokens) over
        ``curated_docs``, so packing CONTINUES at the committed token
        offset (new docs extend the pack stream instead of restarting
        it).

    Equivalence contract (pytest-pinned): if batch doc_ids are all
    greater than committed doc_ids — the natural case for append-only
    corpora — then day-1 run + day-2 increment produces EXACTLY the
    same curated_docs table as one full run over both slices: the
    min-doc_id winner rule and the doc_id packing order both compose
    across the split. The precondition is ENFORCED (ValueError when
    the batch overlaps committed ids) rather than assumed.

    Crash-rerun contract: all three appends are idempotent by run_id,
    and every derived quantity is computed from state that EXCLUDES
    this run (the committed offset comes from ledger rows with
    run_id != this one, never from curated_docs — which on a rerun
    after a partial commit would already contain this batch), so a
    rerun after any partial failure commits exactly the rows the
    uninterrupted run would have."""
    from skewer_spark.icelite import IceLiteTable

    docs_t = IceLiteTable(out_dir, "curated_docs")
    fps_t = IceLiteTable(out_dir, "curated_fps")
    led_t = IceLiteTable(out_dir, "curation_ledger")
    # precondition BEFORE _check_budget pins the budget into
    # curation_meta.json (ADVICE r4 #4): an increment needs a committed
    # corpus to curate against — on a fresh warehouse the failure used
    # to surface as read_excluding_run's FileNotFoundError after the
    # meta write side effect. (A half-committed prior run — docs but
    # no ledger — falls through to the orphaned-run check below, which
    # names the run_id to rerun.)
    if not docs_t.snapshots() and not led_t.snapshots():
        raise ValueError(
            f"increment requires a prior full run in this warehouse "
            f"({out_dir} has no committed curated_docs/curation_ledger "
            "snapshots) — run run_curation first"
        )
    _check_budget(out_dir, budget)
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )

    # cross-table consistency: every OTHER run committed in
    # curated_docs must have its ledger row — a run that crashed
    # between its docs and ledger appends left the warehouse
    # half-committed, and starting a NEW batch on top would tile new
    # tokens over the orphaned run's range (its tokens are invisible
    # to the ledger-derived offset). Rerun the crashed run_id first.
    docs_runs = docs_t.committed_runs() if docs_t.snapshots() else set()
    led_runs = led_t.committed_runs() if led_t.snapshots() else set()
    orphaned = docs_runs - led_runs - {run_id}
    if orphaned:
        raise ValueError(
            f"run(s) {sorted(orphaned)} committed curated_docs but no "
            "ledger row (crashed mid-commit) — rerun those run_ids to "
            "heal the warehouse before starting a new batch"
        )

    # ALL committed-state reads exclude this run's own snapshots
    # (rerun-safe: after a partial failure curated_docs/curated_fps
    # may already hold this batch — feeding them back would exclude
    # the whole batch as "duplicates" and double-count its tokens)
    prior_toks = int(
        led_t.read_excluding_run(spark, run_id)
        .where(F.col("stage") == "pack_sequences")
        .agg(F.coalesce(F.sum("metric"), F.lit(0)).alias("t"))
        .collect()[0]["t"]
    )
    corpus_fps = fps_t.read_excluding_run(spark, run_id).select("norm_fp")

    ctes, src = _src_ctes(augment, where)
    # raw batch stats only (count + id bounds, no funnel work): the
    # quality-keeper count now rides the funnel output's fp_rows
    # instead of a separate quality-CTE pass over the batch
    front = spark.sql(
        to_spark(
            f"WITH {ctes}\n"
            f"SELECT CAST(count(*) AS BIGINT) AS raw_n,"
            " CAST(min(doc_id) AS BIGINT) AS min_id,"
            f" CAST(max(doc_id) AS BIGINT) AS max_id FROM {src}"
        )
    ).collect()[0]
    if run_id not in docs_t.committed_runs() and front["raw_n"] > 0:
        # guard on the RAW id bound each committed batch covered
        # (curation_meta.json) — the curated max is not usable: a
        # prior batch whose trailing docs were all filtered out would
        # leave a hole the guard could not see. The bound EXCLUDES
        # this run's own record so a rerun after a crash between the
        # bound write and the first append passes its own guard
        # (ADVICE r4 #1). Curated max is the legacy fallback for
        # warehouses predating the meta field entirely.
        bound = _committed_bound_excluding(out_dir, run_id)
        if bound is None:
            # No OTHER run has a recorded raw bound. If any committed
            # run lacks a raw_bounds entry it predates the field, and
            # the curated max is the only bound we have for it — keyed
            # on uncovered COMMITTED runs, not on mere raw_bounds
            # presence: a crashed first attempt of THIS run on a legacy
            # warehouse leaves raw_bounds={run_id: ...}, which must not
            # turn the legacy fallback off for its own rerun.
            covered = set(_read_meta(out_dir).get("raw_bounds", {}))
            if any(r not in covered for r in docs_t.committed_runs()):
                bound = docs_t.read(spark).agg(F.max("doc_id")).collect()[0][0]
        if bound is not None and front["min_id"] <= bound:
            raise ValueError(
                f"batch overlaps committed raw ids (batch min"
                f" {front['min_id']} <= committed bound {bound}): the"
                " min-doc_id winner rule and packing order would silently"
                " diverge from a full run — curate overlapping slices in"
                " one run instead"
            )

    # ONE full-funnel execution (kernel form), materialized narrow
    # (see run_curation), then the frozen-snapshot exclusion as a
    # LEFT ANTI join against the committed fingerprints — digests
    # only, historical bodies never read. The pre-exclusion frame is
    # materialized first so kept_n (sum of per-fingerprint group
    # sizes) is read off it without re-running the funnel.
    src_df = spark.sql(
        to_spark(f"WITH {ctes} SELECT doc_id, lang, text FROM {src}")
    )
    fun = funnel_over(
        src_df, keep_fp=True, with_counts=True
    ).localCheckpoint()
    kept_n = int(
        fun.agg(
            F.coalesce(F.sum("fp_rows"), F.lit(0)).cast("long").alias("k")
        ).collect()[0]["k"]
    )
    base = (
        fun.join(corpus_fps, on="norm_fp", how="left_anti")
        .drop("fp_rows")
        .select("doc_id", "n_tokens", "n_redactions", "scrubbed_md5", "norm_fp")
        .localCheckpoint()
    )

    c = blocked_prefix_sum(
        base.drop("norm_fp"), order_col="doc_id", value_col="n_tokens"
    )
    packed = c.withColumn(
        "start_tok",
        (F.col("start_tok") + F.lit(prior_toks)).cast("long"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_redactions",
        "scrubbed_md5",
        "start_tok",
        *pack_position_cols(budget),
    )
    fresh_fps = base.select("norm_fp", "doc_id")

    # batch ledger: same 4 stages; stage 2 is the incremental dedup
    # (drops = in-batch dups + vs-corpus dups); the pack stage reports
    # the NEW total pack count after this batch's tokens append
    ledger = _ledger_from_base(
        spark,
        base,
        raw_n=front["raw_n"],
        budget=budget,
        run_id=run_id,
        prior_toks=prior_toks,
        dedup_stage="dedup_incremental",
        kept_n=kept_n,
    )

    # bound FIRST, appends after: a crash in between leaves a bound
    # that over-refuses (safe); the reverse order could let the next
    # batch overlap this one's raw range unseen
    _record_raw_bound(out_dir, front["max_id"], run_id)
    out: dict[str, int] = {}
    for name, t, df in (
        ("curated_docs", docs_t, packed),
        ("curation_ledger", led_t, ledger),
        ("curated_fps", fps_t, fresh_fps),
    ):
        t.append(df, run_id=run_id)
        out[name] = t.read(spark).count()
    return out
