"""Semantic invariants for the training-data ops (beyond engine parity,
which the oracle gate covers): LSH recall of injected duplicates,
Jaccard bounds, SimHash closeness of near-identical docs, ANN subset
relations, multimodal metadata fidelity.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skewer_spark.queries import _make_ops_query, q_multimodal_features

SF = "/root/testdata/sf0.001"


def run(spark, name):
    return _make_ops_query(name)(spark, SF).toPandas()


def test_exact_dupes_found(spark):
    d = run(spark, "dedup_exact")
    # every 7th doc was injected as an exact duplicate
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    expected = len([i for i in range(n_docs) if i % 7 == 0])
    assert len(d) == expected
    assert (d.n_copies == 2).all()
    assert (d.canonical_id < 100000).all()


def test_minhash_recalls_exact_dupes(spark):
    """Identical texts have identical signatures -> every exact-dup pair
    MUST appear among the LSH candidates (recall=1 for true dupes)."""
    cand = run(spark, "dedup_minhash_lsh")
    pairs = set(zip(cand.a, cand.b))
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    for i in range(0, n_docs, 7):
        assert (i, i + 100000) in pairs, f"missing exact dup pair {i}"


def test_jaccard_exact_dupes_are_one(spark):
    j = run(spark, "dedup_ngram_jaccard")
    exact = j[(j.a < 100000) & (j.b - j.a == 100000)]
    assert len(exact) > 0
    assert (exact.jaccard == "1.0000").all()
    assert exact.is_dup.all()
    assert (j.jaccard.astype(float) <= 1.0).all()
    assert (j.jaccard.astype(float) >= 0.0).all()


def test_simhash_exact_dupes_distance_zero(spark):
    p = run(spark, "dedup_simhash_pairs")
    exact = p[(p.a < 100000) & (p.b - p.a == 100000)]
    assert len(exact) > 0
    assert (exact.hamming == 0).all()


def test_ann_bucketed_is_subset_of_bruteforce_space(spark):
    bf = run(spark, "ann_topk_bruteforce")
    lsh = run(spark, "ann_lsh_bucketed")
    # bucketed results are valid neighbors with correct self-exclusion
    assert (lsh.q != lsh.n).all()
    assert (bf.q != bf.n).all()
    assert bf.groupby("q").size().max() <= 5
    # cosine values bounded
    assert (bf.cosine.astype(float) <= 1.0001).all()


def test_lang_id_mostly_right_on_en(spark):
    c = run(spark, "lang_id")
    en_correct = c[(c.lang == "en") & (c.predicted == "en")].n.sum()
    en_total = c[c.lang == "en"].n.sum()
    assert en_correct / en_total > 0.6  # heuristic, not a model


def test_multimodal_metadata_matches_text(spark):
    feats = q_multimodal_features(spark, SF).toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    m = feats.merge(docs[["doc_id", "text", "n_chars"]], on="doc_id")
    assert (m.n_bytes == m.text.str.len()).all()  # ascii corpus
    assert (m.feature_csv.str.count(",") == 7).all()


def test_multimodal_decode_boundaries():
    # audio and image decode are REAL for WAV/BMP (stdlib wave/struct);
    # the NotImplementedError boundary is codec-level now: compressed
    # containers that genuinely need an external library still raise
    from skewer_spark.ops.multimodal import decode_audio, decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG....")  # compressed container
    with pytest.raises(NotImplementedError):
        decode_audio(b"OggS....")  # not a RIFF/WAVE container


def test_bmp_decode_roundtrip():
    import numpy as np

    from skewer_spark.ops.multimodal import (
        decode_image,
        synth_bmp_bytes,
        synth_bmp_pixels,
    )

    for doc_id in (0, 5, 13, 100042):
        payload = synth_bmp_bytes(doc_id)
        assert payload[:2] == b"BM"
        assert np.array_equal(decode_image(payload), synth_bmp_pixels(doc_id))


def test_wav_decode_roundtrip():
    # synth -> real WAV bytes -> decode_audio recovers rate + samples
    import numpy as np

    from skewer_spark.ops.multimodal import (
        WAV_RATE,
        decode_audio,
        synth_wav_bytes,
        synth_wav_samples,
    )

    for doc_id in (0, 7, 101, 100063):
        payload = synth_wav_bytes(doc_id)
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        rate, samples = decode_audio(payload)
        assert rate == WAV_RATE
        assert np.array_equal(samples, synth_wav_samples(doc_id))


def test_ann_numpy_equals_sql_strategy(spark, sf_dir):
    """Two physical strategies, one result: the BLAS GEMM partial-top-k
    must return exactly the SQL fold's top-k rows."""
    from skewer_spark.queries import build_queries

    q = build_queries()
    a = sorted(map(tuple, q["ann_topk_bruteforce"](spark, sf_dir).collect()))
    b = sorted(map(tuple, q["ann_topk_numpy"](spark, sf_dir).collect()))
    assert a == b


def test_connected_components_chain_and_star(spark):
    # a 5-node chain (diameter 4, forces several propagation rounds),
    # a 3-node star, an isolated node — labels must converge to the
    # component min everywhere
    from skewer_spark.ops.dedup_cc import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 10)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),  # chain 1-5
         (7, 6), (7, 8)],                 # star centered off-min
        "a long, b long",
    )
    got = {r["doc_id"]: r["label"] for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 6, 8: 6, 9: 9}


def test_cc_chain_converges_logarithmically(spark):
    # VERDICT r2 #4: a pathological 200-doc chain (diameter 199) must
    # converge in O(log n) rounds via pointer jumping, not O(diameter).
    # Distance reach per round is d_r = 2*d_{r-1}+1, so 199 hops need 8
    # improving rounds; +1 verification round = 9. Without the jump this
    # graph needs ~200 rounds and would trip max_iter.
    from skewer_spark.ops.dedup_cc import connected_components

    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    stats = {}
    got = connected_components(nodes, edges, stats=stats).collect()
    assert all(r["label"] == 0 for r in got) and len(got) == n
    assert stats["rounds"] <= 10, stats


def test_cc_raises_on_non_convergence(spark):
    # ADVICE r2 (low): falling through max_iter used to return silently
    # WRONG split clusters; now it raises.
    import pytest as _pytest

    from skewer_spark.ops.dedup_cc import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "a long, b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iter=2)


def test_dedup_canonical_verdicts(spark, sf_dir):
    # exact dupes (doc_id+100000) must collapse onto their source doc
    # with keep=False; cluster_id is always the component min; keep
    # marks exactly one doc per cluster
    from skewer_spark.ops.dedup_cc import dedup_canonical

    rows = dedup_canonical(spark, sf_dir).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert all(r["cluster_id"] <= r["doc_id"] for r in rows)
    assert all(r["keep"] == (r["doc_id"] == r["cluster_id"]) for r in rows)
    clusters = {}
    for r in rows:
        clusters.setdefault(r["cluster_id"], []).append(r)
    for cid, members in clusters.items():
        assert sum(m["keep"] for m in members) == 1
        assert by_id[cid]["keep"]
    # every injected exact duplicate is clustered with its source
    dups = [r for r in rows if 100000 <= r["doc_id"] < 200000]
    assert dups, "fixture must contain exact duplicates"
    for r in dups:
        src = r["doc_id"] - 100000
        assert r["cluster_id"] == by_id[src]["cluster_id"]
        assert not r["keep"]


def test_simhash_canonical_output_is_linear_not_quadratic(spark, sf_dir):
    # the round-1 pair list was quadratic in bucket size (617k pairs at
    # sf0.1); the canonical output is exactly one row per corpus doc
    from skewer_spark.ops.dedup_cc import dedup_simhash_canonical
    from skewer_spark.queries import build_queries

    n_docs = build_queries()["dedup_simhash"](spark, sf_dir).count()
    out = dedup_simhash_canonical(spark, sf_dir)
    assert out.count() == n_docs
    assert out.select("doc_id").distinct().count() == n_docs


def test_ann_multitable_recall_meets_target(spark):
    # 16 sign-LSH tables of 4 dims: recall@5 vs brute force must hold
    # the >= 0.9 bar on the correctness-scale corpus
    from skewer_spark.queries import build_queries

    rows = build_queries()["ann_recall"](spark, "/root/testdata/sf0.01").collect()
    hit = sum(r["n_hit"] for r in rows)
    true = sum(r["n_true"] for r in rows)
    assert true == 50
    assert hit / true >= 0.9, (hit, true)


def test_split_assign_is_stable_under_corpus_growth(spark, sf_dir):
    # the point of hash-splitting over random sampling: a document's
    # split NEVER changes when other documents arrive. sf0.001 docs are
    # a prefix of sf0.01 docs by doc_id, so assignments must agree.
    from skewer_spark.queries import build_queries

    q = build_queries()["split_assign"]
    small = {r["doc_id"]: r["split"] for r in q(spark, "/root/testdata/sf0.001").collect()}
    big = {r["doc_id"]: r["split"] for r in q(spark, "/root/testdata/sf0.01").collect()}
    common = set(small) & set(big)
    assert common, "corpora must overlap by doc_id"
    assert all(small[d] == big[d] for d in common)
    # proportions roughly match the 90/5/5 request
    from collections import Counter

    c = Counter(big.values())
    n = sum(c.values())
    assert 0.85 <= c["train"] / n <= 0.95
    assert c["val"] > 0 and c["test"] > 0


def test_stratified_sample_rate_per_language(spark):
    from skewer_spark.queries import build_queries

    rows = build_queries()["stratified_sample"](spark, "/root/testdata/sf0.01").collect()
    for r in rows:
        rate = r["n_sampled"] / r["n_total"]
        assert 0.05 <= rate <= 0.35, (r["lang"], rate)  # 20% +- sampling noise


def test_ann_ivf_recall_meets_target(spark):
    from skewer_spark.queries import build_queries

    rows = build_queries()["ann_ivf_recall"](spark, "/root/testdata/sf0.01").collect()
    hit = sum(r["n_hit"] for r in rows)
    true = sum(r["n_true"] for r in rows)
    assert hit / true >= 0.9, (hit, true)


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    # MOSS winnowing property: two documents sharing a run of >= w+2
    # words (w=4 -> 6 words) must share at least one fingerprint, and
    # identical content yields an identical digest
    from skewer_spark.ops.corpus_ops import winnow_fingerprint_sql
    from skewer_spark.ops.portable import to_spark

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        (1, f"one two {shared} three four five six", "en"),
        (2, f"seven eight nine ten {shared} eleven twelve", "en"),
        (3, "unrelated words entirely different content here now", "en"),
        (4, f"one two {shared} three four five six", "en"),  # == doc 1
    ]
    spark.createDataFrame(docs, "doc_id long, text string, lang string") \
        .createOrReplaceTempView("documents")
    # recompute fingerprint SETS (not just the digest) to check overlap
    sql = to_spark(winnow_fingerprint_sql())
    rows = {r["doc_id"]: r for r in spark.sql(sql).collect()}
    assert rows[1]["fp_digest"] == rows[4]["fp_digest"]  # determinism
    assert rows[1]["fp_digest"] != rows[3]["fp_digest"]
    from skewer_spark.ops.portable import to_spark as _ts
    fps_sql = _ts(
        """WITH hs AS (
  SELECT doc_id, XFORM(
    XFORM(SEQ1(ASIZE(SPLIT(text, ' ')) - 2),
      i -> ARR_GET(SPLIT(text, ' '), i) || ' ' ||
           ARR_GET(SPLIT(text, ' '), i + 1) || ' ' ||
           ARR_GET(SPLIT(text, ' '), i + 2)),
    s -> HEX2INT(substring(md5(s), 1, 8))) AS h
  FROM documents)
SELECT doc_id, ADISTINCT(XFORM(SEQ1(ASIZE(h) - 3),
       i -> AMIN(ASLICE(h, i, 4)))) AS fps FROM hs"""
    )
    fps = {r["doc_id"]: set(r["fps"]) for r in spark.sql(fps_sql).collect()}
    assert fps[1] & fps[2], "docs sharing an 8-word run must share a fingerprint"
    assert not (fps[1] & fps[3]) or len(fps[1] & fps[3]) < len(fps[1])


def test_asof_join_matches_duckdb_native_asof(spark):
    # the union-and-carry-forward implementation must agree with an
    # INDEPENDENT as-of implementation: DuckDB's native ASOF JOIN
    import duckdb

    from skewer_spark.ops.corpus_ops import asof_join_sql
    from skewer_spark.ops.portable import to_spark

    sf = "/root/testdata/sf0.01"
    spark.read.parquet(f"{sf}/events.parquet").createOrReplaceTempView("events")
    mine = {
        (r["user_id"], r["event_id"]): r["cfg_id"]
        for r in spark.sql(to_spark(asof_join_sql())).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    native = con.execute("""
WITH cfg AS (SELECT user_id, epoch_us(ts) AS cus, event_id AS cfg_id
             FROM events WHERE event_id % 10 = 0),
l AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events)
SELECT l.user_id, l.event_id, COALESCE(c.cfg_id, -1)
FROM l ASOF LEFT JOIN cfg c
  ON l.user_id = c.user_id AND l.tus >= c.cus
""").fetchall()
    assert len(native) == len(mine) == 10000
    assert all(mine[(u, e)] == c for u, e, c in native)


def test_sessionize_gap_semantics(spark):
    from pyspark.sql import functions as F

    from skewer_spark.ops.corpus_ops import sessionize_sql
    from skewer_spark.ops.portable import to_spark

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: 3 events in 10 min, then a 2h gap, then 1 more
        (1, 1, t0), (2, 1, t0 + dt.timedelta(minutes=5)),
        (3, 1, t0 + dt.timedelta(minutes=10)),
        (4, 1, t0 + dt.timedelta(hours=2, minutes=10)),
        # user 2: single event
        (5, 2, t0),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp") \
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    df.createOrReplaceTempView("events")
    got = {
        (r["user_id"], r["session_idx"]): (r["n_events"], r["duration_us"])
        for r in spark.sql(to_spark(sessionize_sql(gap_minutes=30))).collect()
    }
    assert got == {
        (1, 1): (3, 600_000_000),  # 10-minute session of 3 events
        (1, 2): (1, 0),            # post-gap singleton
        (2, 1): (1, 0),
    }


def test_frame_sampling_executes_plan_over_payloads(spark, sf_dir):
    # metadata-only plan -> per-frame fan-out in mapInPandas: one row
    # per sampled frame, frame count and indices from the plan, payload
    # windows deterministic (decode itself is the documented stub)
    from pyspark.sql import functions as F

    from skewer_spark.ops.corpus_ops import frame_sample_sql
    from skewer_spark.ops.multimodal import sample_frames, with_binary_payload
    from skewer_spark.ops.portable import to_spark

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("documents")
    plan = spark.sql(to_spark(frame_sample_sql(n_frames=4)))
    with_payload = with_binary_payload(docs).select("doc_id", "payload")
    frames = sample_frames(with_payload.join(plan, "doc_id"))
    n_docs = docs.count()
    assert frames.count() == n_docs * 4
    per_doc = frames.groupBy("doc_id").count().where("count != 4").count()
    assert per_doc == 0
    r = frames.where("doc_id = 1").orderBy("frame_idx").collect()
    p = [x["frame_idx"] for x in r]
    assert p == sorted(p) and p[0] == 0
    assert all(len(x["frame_feature"]) == 8 for x in r)
    assert all(isinstance(x["frame_bytes"], (bytes, bytearray)) for x in r)


def test_contamination_flags_catch_benchmark_dups(spark, sf_dir):
    # an exact duplicate (doc_id+100000) of a benchmark doc shares all
    # its shingles and MUST flag contaminated; benchmark membership is
    # the deterministic hash slice doc_id % 31 == 7
    rows = _make_ops_query("contamination_flags")(spark, sf_dir).collect()
    by_id = {r["doc_id"]: r for r in rows}
    bench_dups = [
        r for r in rows
        if 100000 <= r["doc_id"] < 200000
        and (r["doc_id"] - 100000) % 31 == 7
    ]
    assert bench_dups, "fixture must contain duplicates of benchmark docs"
    for r in bench_dups:
        assert r["contaminated"] and r["n_bench_hits"] >= 1, r
        # and the duplicated benchmark doc sees its clone right back
        assert by_id[r["doc_id"] - 100000]["is_benchmark"]
    assert any(not r["contaminated"] for r in rows)  # clean docs exist


def _ops_sql_on_view(spark, sql: str):
    """Run a macro-SQL op against whatever `documents` temp view is
    currently registered (for crafted-fixture semantics tests)."""
    from skewer_spark.ops.portable import to_spark

    return spark.sql(to_spark(sql))


def test_gopher_repetition_flags_repetitive_doc(spark):
    from skewer_spark.ops import corpus_ops as C

    clean = "the quick brown fox jumps over a lazy dog near the river bank today"
    spam = " ".join(["buy now"] * 20)  # top bigram 'buy now' dominates
    df = spark.createDataFrame(
        [(1, clean, len(clean)), (2, spam, len(spam))],
        "doc_id long, text string, n_chars long",
    )
    df.createOrReplaceTempView("documents")
    try:
        out = {r.doc_id: r for r in _ops_sql_on_view(
            spark, C.gopher_repetition_sql()).collect()}
    finally:
        spark.catalog.dropTempView("documents")
    assert out[1].keep == 1
    assert out[2].keep == 0
    assert out[2].top_bigram == "buy now"
    # 'buy now' occurs 20 times among the 39 bigrams of the 40-word
    # stream (odd positions; 'now buy' gets the 19 even ones);
    # char frac = 20*7 / len(spam)
    assert out[2].top_bigram_n == 20
    assert abs(float(out[2].top_bigram_char_frac) - 20 * 7 / len(spam)) < 1e-3
    # duplicate-word fraction: 40 words, 2 distinct
    assert abs(float(out[2].dup_word_frac) - (1 - 2 / 40)) < 1e-4
    # the clean doc's dup_word_frac reflects its one repeated word 'the'
    assert abs(float(out[1].dup_word_frac) - (1 - 13 / 14)) < 1e-4


def test_mix_weights_uniform_target_invariants(spark):
    import math

    rows = run(spark, "mix_weights").to_dict("records")
    assert len(rows) > 1
    # shares sum to 1 (within formatting rounding)
    assert abs(sum(float(r["token_share"]) for r in rows) - 1.0) < 1e-3
    # weight x toks is the same (uniform per-source token target)
    targets = [float(r["uniform_weight"]) * r["toks"] for r in rows]
    assert max(targets) / min(targets) < 1.001
    for r in rows:
        assert r["epochs"] == math.ceil(float(r["uniform_weight"]) - 1e-9)


def test_ngram_counts_topk_deterministic_and_correct(spark):
    import collections

    from skewer_spark.ops import corpus_ops as C

    out = run(spark, "ngram_counts").to_dict("records")
    assert len(out) == 50
    # recompute the full bigram census in python on the same corpus
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    census = collections.Counter()
    for d in docs:
        w = d.text.split(" ")
        for i in range(len(w) - 1):
            census[f"{w[i]} {w[i+1]}"] += 1
    want = sorted(census.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = [(r["bigram"], r["n"]) for r in out]
    assert sorted(got, key=lambda kv: (-kv[1], kv[0])) == want


def test_tfidf_terms_ranks_distinctive_words(spark):
    from skewer_spark.ops import corpus_ops as C

    # 'shared' appears in every doc (idf = ln(1) = 0); each doc has one
    # distinctive word that must outrank it despite lower tf
    rows = [
        (1, "shared shared shared zebra", 26),
        (2, "shared shared shared quark", 26),
        (3, "shared shared shared fjord", 26),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    df.createOrReplaceTempView("documents")
    try:
        out = _ops_sql_on_view(spark, C.tfidf_terms_sql()).collect()
    finally:
        spark.catalog.dropTempView("documents")
    top = {r.doc_id: r for r in out if r.rank == 1}
    # rank 1 is 'shared' by the integer key (tf 3 beats tf 1) — the
    # FLOAT score of rank 2 must exceed it (idf 0 vs ln 3)
    by_doc_rank = {(r.doc_id, r.rank): r for r in out}
    for doc_id, word in ((1, "zebra"), (2, "quark"), (3, "fjord")):
        r1, r2 = by_doc_rank[(doc_id, 1)], by_doc_rank[(doc_id, 2)]
        assert r1.term == "shared" and float(r1.tfidf) == 0.0
        assert r2.term == word
        assert abs(float(r2.tfidf) - 1.0986) < 1e-3  # 1 * ln(3)
        assert r2.df == 1


def test_ngram_ops_tolerate_single_word_docs(spark):
    # Spark's sequence(1, 0) yields [1, 0] (never empty) — before the
    # total SEQ1 expansion, a 1-word doc made the bigram lambda index
    # past the array and abort the whole job under ANSI mode, while
    # DuckDB silently dropped the row. Both engines must now drop it.
    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_duck

    import duckdb

    rows = [(1, "solo", 4), (2, "", 0), (3, "two words here", 14)]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    df.createOrReplaceTempView("documents")
    try:
        gopher = _ops_sql_on_view(spark, C.gopher_repetition_sql()).collect()
        grams = _ops_sql_on_view(spark, C.ngram_counts_sql()).collect()
    finally:
        spark.catalog.dropTempView("documents")
    assert sorted(r.doc_id for r in gopher) == [3]
    assert {r.bigram for r in grams} == {"two words", "words here"}
    # and the DuckDB side agrees on the same crafted frame
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'solo', 4), (2, '', 0), (3, 'two words here', 14)"
        ") t(doc_id, text, n_chars)"
    )
    duck_gopher = con.execute(to_duck(C.gopher_repetition_sql())).fetchall()
    duck_grams = con.execute(to_duck(C.ngram_counts_sql())).fetchall()
    assert sorted(r[0] for r in duck_gopher) == [3]
    assert {r[0] for r in duck_grams} == {"two words", "words here"}


def test_line_dedup_first_occurrence_and_reassembly(spark):
    import hashlib

    from skewer_spark.ops import corpus_ops as C

    rows = [
        (1, "a b c d e f"),            # both spans first -> all kept
        (2, "a b c x y z"),            # span0 dup of doc1 -> "x y z"
        (3, "a b c d e f"),            # whole doc duplicated -> empty
        (4, "p q r p q r p q r"),      # in-doc dups: keep pos 0 only
    ]
    df = spark.createDataFrame(
        [(i, t, len(t)) for i, t in rows],
        "doc_id long, text string, n_chars long",
    )
    df.createOrReplaceTempView("documents")
    try:
        out = {r.doc_id: r for r in _ops_sql_on_view(
            spark, C.line_dedup_sql(w=3)).collect()}
    finally:
        spark.catalog.dropTempView("documents")

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (out[1].n_spans, out[1].n_kept) == (2, 2)
    assert out[1].clean_md5 == md5("a b c d e f")
    assert (out[2].n_spans, out[2].n_kept) == (2, 1)
    assert out[2].clean_md5 == md5("x y z")
    # corpus-wide: doc 3's spans all lost to doc 1 (lowest doc_id wins)
    assert (out[3].n_spans, out[3].n_kept) == (2, 0)
    assert out[3].clean_md5 == md5("")
    # within-doc: lowest pos wins
    assert (out[4].n_spans, out[4].n_kept) == (3, 1)
    assert out[4].clean_md5 == md5("p q r")


def test_line_dedup_gate_exercises_both_branches(spark, sf_dir):
    # at the gate width the fixture corpus must contain real cross-doc
    # duplicate spans (drops) AND surviving spans, or the oracle match
    # proves nothing about the verdict logic
    out = run(spark, "line_dedup")
    assert (out["n_kept"] < out["n_spans"]).any()
    assert (out["n_kept"] > 0).any()


def test_dsir_matches_from_scratch_python(spark):
    # recompute the DSIR hashed-ngram importance pipeline in plain
    # Python integers (bucket hashing, add-1 smoothed scaled ratios,
    # per-doc scores, cross-multiplied selection) — everything is
    # integer-exact, so every field must match EXACTLY
    import hashlib

    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_spark

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.createOrReplaceTempView("documents")
    out = {
        r.doc_id: r for r in spark.sql(to_spark(C.dsir_weights_sql())).collect()
    }
    assert out

    B = C.DSIR_B

    def bucket(g: str) -> int:
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B

    feats: dict[int, list[int]] = {}
    langs: dict[int, str] = {}
    for r in docs.select("doc_id", "lang", "text").collect():
        ws = r.text.split(" ")
        gs = ws + [f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)]
        feats[r.doc_id] = [bucket(g) for g in gs]
        langs[r.doc_id] = r.lang
    c: dict[int, int] = {}
    ct: dict[int, int] = {}
    for d, bs in feats.items():
        for bk in bs:
            c[bk] = c.get(bk, 0) + 1
            if langs[d] == "en":
                ct[bk] = ct.get(bk, 0) + 1
    a_n, t_n = sum(c.values()), sum(ct.values())
    s = {
        bk: (1_000_000 * (ct.get(bk, 0) + 1) * (a_n + B))
        // ((c[bk] + 1) * (t_n + B))
        for bk in c
    }
    score = {d: sum(s[bk] for bk in bs) for d, bs in feats.items()}
    n_feats = {d: len(bs) for d, bs in feats.items()}
    tot_feats, tot_score = sum(n_feats.values()), sum(score.values())
    sel_rates = {"en": [0, 0], "other": [0, 0]}
    for d in feats:
        r = out[d]
        assert (r.n_feats, r.score) == (n_feats[d], score[d]), f"doc {d}"
        want_sel = score[d] * tot_feats >= n_feats[d] * tot_score
        assert r.selected == want_sel, f"doc {d} selection"
        k = "en" if langs[d] == "en" else "other"
        sel_rates[k][0] += int(want_sel)
        sel_rates[k][1] += 1
    # the point of the op: target-domain (en) docs are selected at a
    # clearly higher rate than out-of-domain docs
    en = sel_rates["en"][0] / sel_rates["en"][1]
    other = sel_rates["other"][0] / max(sel_rates["other"][1], 1)
    assert en > other + 0.2, f"no domain separation: en {en} other {other}"


def test_lm_bigram_score_matches_from_scratch_python(spark):
    # recompute the CCNet-style bigram-LM filter in plain Python
    # integers (target-slice counts, add-1 smoothed scaled probs,
    # ntile buckets, cross-multiplied keep rule) — integer-exact, so
    # every field must match EXACTLY
    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_spark

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.createOrReplaceTempView("documents")
    out = {
        r.doc_id: r
        for r in spark.sql(to_spark(C.lm_bigram_score_sql())).collect()
    }
    assert out

    S = C.LM_SCALE
    bgs: dict[int, list[tuple[str, str]]] = {}
    langs: dict[int, str] = {}
    for r in docs.select("doc_id", "lang", "text").collect():
        ws = r.text.split(" ")
        bgs[r.doc_id] = list(zip(ws, ws[1:]))
        langs[r.doc_id] = r.lang
    cb: dict[tuple[str, str], int] = {}
    cu: dict[str, int] = {}
    vocab: set[str] = set()
    for d, bl in bgs.items():
        if langs[d] != "en":
            continue
        for w1, w2 in bl:
            cb[(w1, w2)] = cb.get((w1, w2), 0) + 1
            cu[w1] = cu.get(w1, 0) + 1
            vocab.add(w1)
            vocab.add(w2)
    v = len(vocab)
    score = {
        d: sum(S * (cb.get(p, 0) + 1) // (cu.get(p[0], 0) + v) for p in bl)
        for d, bl in bgs.items()
        if bl
    }
    nbg = {d: len(bl) for d, bl in bgs.items() if bl}
    # docs without a single bigram are unscored and absent
    assert set(out) == set(score)
    fn, fs = sum(nbg.values()), sum(score.values())
    mean_sp = {d: score[d] * S // nbg[d] for d in score}
    # ntile(3): rows in mean_sp-desc order, extras to the first tiles
    order = sorted(score, key=lambda d: (-mean_sp[d], d))
    base, extra = divmod(len(order), 3)
    want_bucket: dict[int, int] = {}
    i = 0
    for b in (1, 2, 3):
        size = base + (1 if b <= extra else 0)
        for d in order[i : i + size]:
            want_bucket[d] = b
        i += size
    kept_rates = {"en": [0, 0], "other": [0, 0]}
    for d, r in out.items():
        assert (r.n_bigrams, r.score) == (nbg[d], score[d]), f"doc {d}"
        assert r.mean_sp == mean_sp[d], f"doc {d} mean"
        assert r.bucket == want_bucket[d], f"doc {d} bucket"
        want_kept = score[d] * fn >= nbg[d] * fs
        assert r.kept == want_kept, f"doc {d} keep rule"
        k = "en" if langs[d] == "en" else "other"
        kept_rates[k][0] += int(want_kept)
        kept_rates[k][1] += 1
    # the point of the op: docs from the LM's own domain score into
    # the keep set at a clearly higher rate than out-of-domain docs
    en = kept_rates["en"][0] / kept_rates["en"][1]
    other = kept_rates["other"][0] / max(kept_rates["other"][1], 1)
    assert en > other + 0.2, f"no domain separation: en {en} other {other}"


def test_lm_bigram_score_hostile_corpus_cross_engine(spark):
    # hostile rows: empty text, one-word doc (no bigrams -> absent),
    # doubled spaces (empty-string words), unicode, embedded quote —
    # Spark and DuckDB must produce IDENTICAL rows
    import duckdb

    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_duck

    rows = [
        (1, "the cat sat", "en"),
        (2, "", "en"),
        (3, "solo", "de"),
        (4, "a  b", "en"),  # doubled space -> ['a','','b']
        (5, "héllo wörld héllo wörld", "fr"),
        (6, "it's the cat", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df.createOrReplaceTempView("documents")
    try:
        got = sorted(
            map(tuple, _ops_sql_on_view(spark, C.lm_bigram_score_sql()).collect())
        )
    finally:
        spark.catalog.dropTempView("documents")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'the cat sat', 'en'), (2, '', 'en'), (3, 'solo', 'de'), "
        "(4, 'a  b', 'en'), "
        "(5, 'héllo wörld héllo wörld', 'fr'), "
        "(6, 'it''s the cat', 'en')) t(doc_id, text, lang)"
    )
    want = sorted(map(tuple, con.execute(to_duck(C.lm_bigram_score_sql())).fetchall()))
    assert got == want
    scored = {t[0] for t in got}
    assert scored == {1, 4, 5, 6}  # 2 (no words->1 empty word) and 3 drop


def test_lm_bigram_score_empty_target_slice_degrades_identically(spark):
    # NO en doc contributes a bigram -> V clamps to 1 instead of a
    # division by zero: under Spark-4 ANSI a 0 divisor ABORTS the job
    # while DuckDB silently yields NULL scores — the clamp pins both
    # engines to the same defined output (every bigram scores `scale`,
    # every doc kept)
    import duckdb

    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_duck

    rows = [(1, "solo", "en"), (2, "two words here", "de")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df.createOrReplaceTempView("documents")
    try:
        got = sorted(
            map(tuple, _ops_sql_on_view(spark, C.lm_bigram_score_sql()).collect())
        )
    finally:
        spark.catalog.dropTempView("documents")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'solo', 'en'), (2, 'two words here', 'de')"
        ") t(doc_id, text, lang)"
    )
    want = sorted(map(tuple, con.execute(to_duck(C.lm_bigram_score_sql())).fetchall()))
    assert got == want
    assert [t[0] for t in got] == [2]
    (_, n_bg, score, mean_sp, bucket, kept) = got[0]
    assert (n_bg, score, mean_sp, kept) == (
        2, 2 * C.LM_SCALE, C.LM_SCALE * C.LM_SCALE, True
    )


def test_lm_keep_rule_exact_past_bigint_in_both_engines(spark):
    # the keep rule's cross-products score * fn and n_bigrams * fs pass
    # 2^63 at reference corpus sizes; in BIGINT Spark's ANSI mode
    # aborts the job (and a non-ANSI engine would wrap), so the rule
    # multiplies in DECIMAL(38,0) and must match Python's exact ints
    import duckdb

    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_duck, to_spark

    m = 2**63 - 1
    n, f = 10**13 + 1, 7 * 10**13 + 3  # mean exactly f/n: >= holds
    rows = [
        (m, m, m, m),
        (f, n, n, f),
        (f - 1, n, n, f),
        (3 * 10**12, 10**6, 2**62, 2**40),
        (2**40, 10**6, 2**62, 2**62),
    ]
    want = [s * fn >= nb * fs for s, nb, fn, fs in rows]
    assert any(s * fn >= 2**63 for s, _, fn, _ in rows)
    sql = (
        f"SELECT id, {C.lm_keep_rule('fn', 'fs')} AS kept FROM "
        "(VALUES "
        + ", ".join(f"({i}, {s}, {nb}, {fn}, {fs})" for i, (s, nb, fn, fs) in enumerate(rows))
        + ") t(id, score, n_bigrams, fn, fs)"
    )
    got_spark = [r.kept for r in sorted(spark.sql(to_spark(sql)).collect())]
    got_duck = [k for _, k in sorted(duckdb.connect().execute(to_duck(sql)).fetchall())]
    assert got_spark == want
    assert got_duck == want


def test_ann_numpy_zero_norm_vector_is_deterministic(spark, tmp_path):
    # a zero-norm embedding must yield cosine 0 (never NaN): NaN sorts
    # LAST in the numpy prune but FIRST in Spark's descending window,
    # so results would flip with Arrow batch boundaries
    import numpy as np

    from skewer_spark.ops.ann_numpy import ann_topk_numpy

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    rows.append((40, [0.0] * 8))  # the degenerate vector
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run(parts):
        d = tmp_path / f"sf{parts}"
        emb.repartition(parts).write.mode("overwrite").parquet(
            str(d / "embeddings.parquet")
        )
        df = ann_topk_numpy(spark, str(d), n_queries=3, k=5)
        return sorted(map(tuple, df.collect()))

    got = run(1)
    assert all("nan" not in c.lower() for *_, c in got)  # no NaN cosine
    assert got == run(8)  # batch-boundary independent
