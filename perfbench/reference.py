"""DuckDB references for the benchmark's outputs, cached per seed.

Built from the program's own oracle text (``oracle.parsed_relation`` +
``enrich.enrich_sql`` + ``rules.routing_union_sql`` for the spine, and
``curation.curate_pack_oracle_sql`` for the funnel), evaluated by
DuckDB over the same generated parquet files Spark reads. Everything
here runs outside the timed windows.

Spine outputs are compared as per-sink ``[rows, hash]`` pairs,
where ``hash`` is an order-independent sum (mod 2**64) of a per-row
hash of ``(conv_id, turn_idx, message)``. Curation outputs are compared
as a fingerprint of sums over the output columns.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

HASH_COLS = ["conv_id", "turn_idx", "message"]

# curate_pack output fingerprint: name -> (Spark expr, DuckDB expr).
# md5 prefixes are 40-bit so the sum stays exact in BIGINT range.
CURATION_FINGERPRINT = {
    "rows": ("count(1)", "count(*)"),
    "tokens": ("sum(n_tokens)", "sum(n_tokens)"),
    "redactions": ("sum(n_redactions)", "sum(n_redactions)"),
    "doc_ids": ("sum(doc_id)", "sum(doc_id)"),
    "start_toks": (
        "sum(cast(start_tok AS decimal(38,0)))",
        "sum(start_tok)",
    ),
    "packs": ("max(pack_last)", "max(pack_last)"),
    "spanned": ("sum(packs_spanned)", "sum(packs_spanned)"),
    "md5s": (
        "sum(cast(conv(substring(scrubbed_md5, 1, 10), 16, 10) AS bigint))",
        "sum(('0x' || substr(scrubbed_md5, 1, 10))::BIGINT)",
    ),
}


def row_hash_sum(df: pd.DataFrame) -> int:
    """Order-independent hash of the rows' (conv_id, turn_idx, message)."""
    norm = pd.DataFrame(
        {
            "conv_id": df["conv_id"].astype(str),
            "turn_idx": df["turn_idx"].astype("int64"),
            "message": df["message"].fillna("").astype(str),
        }
    )
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy(np.uint64)
    return int(h.sum(dtype=np.uint64))


def sink_digest(df: pd.DataFrame) -> dict[str, list[int]]:
    """{sink: [rows, hash]} over a frame with a ``sink`` column."""
    return {
        str(s): [len(g), row_hash_sum(g)] for s, g in df.groupby("sink", sort=True)
    }


def digest_mismatches(
    got: dict[str, list[int]], want: dict[str, list[int]]
) -> list[str]:
    """Sinks whose rows or hash differ (a sink absent on one side with
    zero rows on the other is not a mismatch)."""
    bad = []
    for s in sorted(set(got) | set(want)):
        if got.get(s, [0, 0]) != want.get(s, [0, 0]):
            bad.append(s)
    return bad


def _cached(path: str, build) -> dict:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    ref = build()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, path)
    return ref


def _duck(threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    return con


def routed_rows(files: list[str], threads: int = 4) -> pd.DataFrame:
    """(sink, conv_id, turn_idx, message) for every row the pipeline
    must commit: the DEFAULT_RULES fan-out of passing rows plus the
    rejected rows in ``dead_letter``; dropped rows go nowhere."""
    from skewer_spark import enrich as enr
    from skewer_spark.oracle import parsed_relation
    from skewer_spark.routing import rules as R

    src = "SELECT * FROM read_parquet([{}])".format(
        ", ".join(f"'{f}'" for f in files)
    )
    status = (
        f"CASE WHEN {R.STATUS_REJECTED_EXPR} THEN 'rejected' "
        f"WHEN {R.STATUS_DROPPED_EXPR} THEN 'dropped' ELSE 'passing' END"
    )
    con = _duck(threads)
    try:
        con.execute(
            "CREATE TEMP TABLE statusd AS "
            f"{parsed_relation('', source_sql=src)} "
            f"SELECT *, {status} AS route_status FROM parsed"
        )
        return con.execute(
            f"""WITH passing AS (SELECT * FROM statusd WHERE route_status = 'passing'),
enriched AS ({enr.enrich_sql('passing')}),
routed AS ({R.routing_union_sql('enriched')})
SELECT sink, conv_id, turn_idx, message FROM routed
UNION ALL
SELECT '{R.DEAD_LETTER_SINK}', conv_id, turn_idx, message
FROM statusd WHERE route_status = 'rejected'"""
        ).df()
    finally:
        con.close()


def spine_reference(transcripts_dir: str, files: list[str]) -> dict[str, list[int]]:
    """The {sink: [rows, hash]} a pass over ``files`` must commit."""
    return _cached(
        transcripts_dir + ".ref.json", lambda: sink_digest(routed_rows(files))
    )


def curation_reference(corpus_dir: str) -> dict[str, int]:
    """The curate_pack output fingerprint, from the DuckDB oracle."""
    from skewer_spark.ops.curation import curate_pack_oracle_sql
    from skewer_spark.ops.portable import to_duck

    def build() -> dict:
        con = _duck(4)
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{corpus_dir}/documents.parquet/*.parquet')"
            )
            cols = ", ".join(
                f"{d} AS {k}" for k, (_, d) in CURATION_FINGERPRINT.items()
            )
            row = con.execute(
                f"SELECT {cols} FROM ({to_duck(curate_pack_oracle_sql())})"
            ).fetchone()
        finally:
            con.close()
        return {k: int(v) for k, v in zip(CURATION_FINGERPRINT, row)}

    return _cached(corpus_dir + ".ref.json", build)


def spark_fingerprint_exprs():
    """Aggregate Columns for ``DataFrame.observe`` matching the
    reference fingerprint."""
    from pyspark.sql import functions as F

    return [F.expr(s).alias(k) for k, (s, _) in CURATION_FINGERPRINT.items()]


def fingerprint_mismatches(got: dict, want: dict) -> list[str]:
    return [k for k in want if int(got.get(k) or 0) != want[k]]
