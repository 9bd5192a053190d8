"""Dedup / similarity / text-analysis ops as portable macro-SQL.

Each function returns ONE macro-SQL string (see ops/portable.py) that is
translated to Spark SQL for execution and to DuckDB SQL for the oracle —
parity by construction.

Dedup corpus: the driver's ``documents`` table has fully distinct texts,
so the dedup ops first derive a corpus with injected duplicates
(deterministic, inside the query): every 7th doc re-appears verbatim
under doc_id+100000 (exact dupes) and every 11th doc re-appears with a
small tail edit under doc_id+200000 (near dupes).

Scale notes (the 100 TB story for each op):
- exact dedup: hash-groupBy on md5(text) — one shuffle of (hash, id),
  never the text bodies.
- MinHash+LSH: shingle -> 8 minhashes -> 4 banded keys -> equi-join on
  band key. The candidate join is an equality join (AQE-skew-splittable);
  no quadratic blowup. Signatures are 8 fixed-width values per doc.
- SimHash: 32-bit signature from word-frequency votes; candidate pairs
  restricted to equal 8-bit prefix blocks, hamming verified exactly.
- n-gram Jaccard: computed only on LSH candidate pairs, never all pairs.
- embedding near-dup / ANN: brute-force cosine is the correctness
  baseline (quadratic — only within label blocks); the scale path is the
  sign-pattern-bucketed variant (equi-join on bucket).
"""

from __future__ import annotations

CORPUS = """
corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, lang FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text || ' extra tail token' AS text, lang
  FROM documents WHERE doc_id % 11 = 0
)"""

SHINGLES = """
sh AS (
  SELECT doc_id,
         XFORM(SEQ1(ASIZE(SPLIT(text, ' ')) - 2),
               i -> ARR_GET(SPLIT(text, ' '), i) || ' ' ||
                    ARR_GET(SPLIT(text, ' '), i + 1) || ' ' ||
                    ARR_GET(SPLIT(text, ' '), i + 2)) AS shingles
  FROM corpus
)"""

_SEEDS = 8
# all 8 minhashes in ONE aggregation pass (one hash-agg over the
# exploded shingles, no 8x seed cross-join blowup — same minima, the
# min over {md5(seed|s)} is independent per seed column)
_SIG_BANDS = f"""
shx AS (SELECT doc_id, EXPLODE(shingles) AS s FROM sh),
sig AS (
  SELECT doc_id,
         {", ".join(f"min(md5('{i}|' || s)) AS s{i}" for i in range(_SEEDS))}
  FROM shx GROUP BY doc_id
),
bandkv AS (
  SELECT doc_id, EXPLODE(ALIST(md5(s0 || s1), md5(s2 || s3),
                               md5(s4 || s5), md5(s6 || s7))) AS band
  FROM sig
)"""

_MINHASH = f"""{_SIG_BANDS},
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bandkv x JOIN bandkv y ON x.band = y.band AND x.doc_id < y.doc_id
)"""


def dedup_exact_sql() -> str:
    return f"""WITH {CORPUS}
SELECT md5(text) AS text_hash, count(*) AS n_copies,
       min(doc_id) AS canonical_id
FROM corpus GROUP BY md5(text) HAVING count(*) > 1"""


def dedup_minhash_sql() -> str:
    """LSH candidate PAIRS — a similarity op. The production dedup
    route is dedup_canonical/dedup_apply (capped edges + connected
    components): pair output is quadratic inside a band bucket, the
    canonical path is linear. Kept as the candidate-stage correctness
    check and for similarity queries that genuinely want pairs."""
    return f"""WITH {CORPUS}, {SHINGLES}, {_MINHASH}
SELECT a, b FROM cand"""


def dedup_ngram_jaccard_sql(threshold: float = 0.8) -> str:
    return f"""WITH {CORPUS}, {SHINGLES}, {_MINHASH},
sets AS (SELECT doc_id, ADISTINCT(shingles) AS sset FROM sh)
SELECT c.a, c.b,
       FMT4(CAST(ASIZE(AINTERSECT(sa.sset, sb.sset)) AS DOUBLE) /
            (ASIZE(sa.sset) + ASIZE(sb.sset) - ASIZE(AINTERSECT(sa.sset, sb.sset))))
         AS jaccard,
       (CAST(ASIZE(AINTERSECT(sa.sset, sb.sset)) AS DOUBLE) /
            (ASIZE(sa.sset) + ASIZE(sb.sset) - ASIZE(AINTERSECT(sa.sset, sb.sset))))
         >= {threshold} AS is_dup
FROM cand c
JOIN sets sa ON c.a = sa.doc_id
JOIN sets sb ON c.b = sb.doc_id"""


def _simhash_bits() -> str:
    hexhi = "('8','9','a','b','c','d','e','f')"
    cases = ",\n    ".join(
        f"CASE WHEN sum(CASE WHEN substring(md5(word), {i}, 1) IN {hexhi} "
        f"THEN cnt ELSE -cnt END) >= 0 THEN '1' ELSE '0' END"
        for i in range(1, 33)
    )
    return f"concat({cases})"


def simhash_sql() -> str:
    return f"""WITH {CORPUS},
wx AS (SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS word FROM corpus),
ws AS (SELECT doc_id, word, count(*) AS cnt FROM wx GROUP BY doc_id, word)
SELECT doc_id, {_simhash_bits()} AS simhash
FROM ws GROUP BY doc_id"""


def _simhash_int() -> str:
    """32-bit simhash as a BIGINT (bit i = word-frequency vote for md5
    hex digit i being in the high half) — popcount-verifiable."""
    hexhi = "('8','9','a','b','c','d','e','f')"
    terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN substring(md5(word), {i + 1}, 1) IN {hexhi} "
        f"THEN cnt ELSE -cnt END) >= 0 THEN CAST({1 << i} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(32)
    )
    return terms


def _simhash_bands_ctes() -> str:
    """corpus -> simhash signature -> 4 x 8-bit bands (shared by the
    pair query and the canonicalization edge builder)."""
    return f"""
wx AS (SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS word FROM corpus),
ws AS (SELECT doc_id, word, count(*) AS cnt FROM wx GROUP BY doc_id, word),
sim AS (SELECT doc_id, {_simhash_int()} AS sig FROM ws GROUP BY doc_id),
bands AS (
  SELECT doc_id, sig, band_idx,
         IDIV(sig, CAST(POW(2, band_idx * 8) AS BIGINT)) % 256 AS band
  FROM sim CROSS JOIN (VALUES (0), (1), (2), (3)) AS bi(band_idx)
)"""


def dedup_simhash_pairs_sql(max_hamming: int = 3) -> str:
    """SimHash near-dup PAIRS — a similarity op; production dedup goes
    through dedup_simhash_canonical (pair output is quadratic inside a
    band bucket). 4-banded simhash blocking with a recall GUARANTEE: the 32-bit
    signature split into 4 bands of 8 bits — two signatures within
    hamming distance 3 differ in at most 3 bands, so by pigeonhole they
    share at least one exact band and meet in that band's equi-join.
    Candidates verify by integer popcount (HAMMING = bit_count of the
    xor, one ALU op instead of 32 substring compares); DISTINCT
    collapses pairs meeting in several bands. The join stays an
    equality join (linear, AQE-skew-splittable), never all-pairs."""
    return f"""WITH {CORPUS},{_simhash_bands_ctes()}
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       CAST(HAMMING(x.sig, y.sig) AS BIGINT) AS hamming
FROM bands x JOIN bands y
  ON x.band_idx = y.band_idx AND x.band = y.band AND x.doc_id < y.doc_id
WHERE HAMMING(x.sig, y.sig) <= {max_hamming}"""


# ------------------------------------------------------------ embeddings
_COS = """
  ASUM_D(XFORM(SEQ1(64), i -> CAST(ARR_GET(x.embedding, i) AS DOUBLE) *
                              CAST(ARR_GET(y.embedding, i) AS DOUBLE)))
  / (sqrt(ASUM_D(XFORM(SEQ1(64), i -> CAST(ARR_GET(x.embedding, i) AS DOUBLE) *
                                      CAST(ARR_GET(x.embedding, i) AS DOUBLE))))
   * sqrt(ASUM_D(XFORM(SEQ1(64), i -> CAST(ARR_GET(y.embedding, i) AS DOUBLE) *
                                      CAST(ARR_GET(y.embedding, i) AS DOUBLE)))))
"""


def embed_neardup_sql(threshold: float = 0.35) -> str:
    """Brute-force cosine near-dup, blocked by label (correctness
    baseline; quadratic only within blocks)."""
    return f"""
SELECT x.vec_id AS a, y.vec_id AS b, FMT4({_COS}) AS cosine
FROM embeddings x JOIN embeddings y
  ON x.label = y.label AND x.vec_id < y.vec_id
WHERE {_COS} >= {threshold}"""


def ann_topk_sql(n_queries: int = 10, k: int = 5) -> str:
    """Brute-force cosine top-k (baseline; ties broken by rounded cosine
    then vec_id so both engines rank identically)."""
    return f"""
WITH scored AS (
  SELECT x.vec_id AS q, y.vec_id AS n, {_COS} AS cos
  FROM embeddings x JOIN embeddings y ON x.vec_id <> y.vec_id
  WHERE x.vec_id < {n_queries}
),
ranked AS (
  SELECT q, n, cos,
         CAST(row_number() OVER (PARTITION BY q ORDER BY round(cos, 6) DESC, n) AS BIGINT) AS rnk
  FROM scored
)
SELECT q, n, rnk, FMT4(cos) AS cosine FROM ranked WHERE rnk <= {k}"""


def ann_lsh_bucketed_sql(n_queries: int = 10, k: int = 3) -> str:
    """Scale path: sign-pattern bucket (first 8 dims) -> equi-join on
    bucket -> top-k within bucket. Recall < 1 by design; the join is
    linear, not quadratic."""
    bucket = (
        "AJOIN(XFORM(SEQ1(8), i -> CASE WHEN ARR_GET({t}.embedding, i) >= 0 "
        "THEN '1' ELSE '0' END), '')"
    )
    return f"""
WITH b AS (SELECT vec_id, embedding, label,
           {bucket.format(t="embeddings")} AS bucket FROM embeddings),
scored AS (
  SELECT x.vec_id AS q, y.vec_id AS n, {_COS} AS cos
  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id
  WHERE x.vec_id < {n_queries}
),
ranked AS (
  SELECT q, n, cos,
         CAST(row_number() OVER (PARTITION BY q ORDER BY round(cos, 6) DESC, n) AS BIGINT) AS rnk
  FROM scored
)
SELECT q, n, rnk, FMT4(cos) AS cosine FROM ranked WHERE rnk <= {k}"""


# ------------------------------------------------- semantic dedup (SemDeDup)
# K-means over the embedding column, then within-cluster cosine pruning —
# the SemDeDup shape (Abbas et al. 2023, arXiv:2303.09540): clusters bound
# the candidate set, so the pairwise stage is quadratic only inside a
# cluster and K scales with the corpus to keep clusters bounded.
#
# Everything is INTEGER-EXACT so the Spark implementation and the DuckDB
# oracle agree hash-exactly with no float-tolerance escape hatch:
#   - embeddings quantize to q = floor(x * 1e4 + 0.5) (BIGINT)
#   - centroids are floored integer means via a positive-mod construction
#     (both engines' % keeps the dividend's sign, so ((s % n) + n) % n is
#     the positive remainder in both; the division is then exact)
#   - the cosine threshold compares dot^2 * 1e4 > tau^2*1e4 * |x|^2 * |y|^2
#     in DECIMAL(38,0) (dot^2 * 1e4 reaches ~1e20 and overflows BIGINT)
SEM_SCALE = 10_000
SEM_K = 4  # gate cluster count; production K scales with corpus size
SEM_ITERS = 3  # fixed Lloyd rounds — deterministic, unrolled in the oracle
SEM_TAU_SQ_X1E4 = 1600  # cosine^2 * 1e4; tau = 0.40 (gate; prod ~0.95)
SEM_DIMS = 64


def _sem_qv_cte() -> str:
    """Quantized long-form (vec_id, i, q) — integers from here on."""
    return f"""qv AS (
  SELECT vec_id, i,
         CAST(FLOOR(CAST(ARR_GET(embedding, i) AS DOUBLE) * {SEM_SCALE} + 0.5) AS BIGINT) AS q
  FROM (SELECT vec_id, embedding, EXPLODE(SEQ1({SEM_DIMS})) AS i FROM embeddings) e
)"""


def semantic_kmeans_ctes(k: int = SEM_K, iters: int = SEM_ITERS) -> str:
    """Unrolled deterministic Lloyd iterations as CTEs. Init centroids
    are the ``k`` lowest vec_ids' quantized vectors; each round assigns
    by exact integer squared distance (ties -> lowest cluster id) and
    recomputes floored-integer-mean centroids (an empty cluster keeps
    its previous centroid). The final CTE ``a{iters}`` holds
    (vec_id, c, dist) where dist is the squared distance to the
    assignment round's centroids."""
    ctes = [
        _sem_qv_cte(),
        f"""init AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS c, vec_id
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k}) f)""",
        """m0 AS (
  SELECT init.c, qv.i, qv.q AS mu
  FROM init JOIN qv ON qv.vec_id = init.vec_id)""",
    ]
    for t in range(1, iters + 1):
        p = t - 1
        ctes.append(f"""d{t} AS (
  SELECT qv.vec_id, m.c, SUM((qv.q - m.mu) * (qv.q - m.mu)) AS dist
  FROM qv JOIN m{p} m ON qv.i = m.i
  GROUP BY qv.vec_id, m.c)""")
        ctes.append(f"""a{t} AS (
  SELECT vec_id, c, dist FROM (
    SELECT vec_id, c, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
    FROM d{t}) r WHERE rn = 1)""")
        if t < iters:
            ctes.append(f"""s{t} AS (
  SELECT a.c, qv.i, SUM(qv.q) AS s, COUNT(*) AS n
  FROM a{t} a JOIN qv ON qv.vec_id = a.vec_id
  GROUP BY a.c, qv.i)""")
            ctes.append(f"""m{t} AS (
  SELECT c, i, IDIV(s - (((s % n) + n) % n), n) AS mu FROM s{t}
  UNION ALL
  SELECT p.c, p.i, p.mu FROM m{p} p
  WHERE p.c NOT IN (SELECT c FROM s{t}))""")
    return ",\n".join(ctes)


def semantic_kmeans_sql(k: int = SEM_K, iters: int = SEM_ITERS) -> str:
    """Cluster assignments after ``iters`` deterministic Lloyd rounds.
    This unrolled form is the ORACLE; the production Spark path is
    ``ops.semantic.semantic_kmeans`` (array-native, broadcast
    centroids, one tiny K x dims aggregate per round) — two independent
    mechanisms converging on the same exact integers."""
    return f"""WITH {semantic_kmeans_ctes(k, iters)}
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(c AS BIGINT) AS cluster,
       CAST(dist AS BIGINT) AS dist
FROM a{iters}"""


def semantic_dedup_sql(
    k: int = SEM_K,
    iters: int = SEM_ITERS,
    tau_sq_x1e4: int = SEM_TAU_SQ_X1E4,
) -> str:
    """SemDeDup verdicts: x is dropped when some same-cluster y with a
    lower vec_id has cosine(x, y) > tau. The threshold compare is exact
    (DECIMAL(38,0); dot^2 * 1e4 overflows BIGINT at unit-norm scale)."""
    T = iters
    return f"""WITH {semantic_kmeans_ctes(k, iters)},
n2 AS (SELECT vec_id, SUM(q * q) AS n2 FROM qv GROUP BY vec_id),
dots AS (
  SELECT x.vec_id AS a, y.vec_id AS b, SUM(xq.q * yq.q) AS dot
  FROM a{T} x JOIN a{T} y ON x.c = y.c AND x.vec_id < y.vec_id
  JOIN qv xq ON xq.vec_id = x.vec_id
  JOIN qv yq ON yq.vec_id = y.vec_id AND yq.i = xq.i
  GROUP BY x.vec_id, y.vec_id),
dropped AS (
  SELECT DISTINCT d.b AS vec_id
  FROM dots d
  JOIN n2 nx ON nx.vec_id = d.a
  JOIN n2 ny ON ny.vec_id = d.b
  WHERE d.dot > 0
    AND CAST(d.dot AS DECIMAL(38,0)) * CAST(d.dot AS DECIMAL(38,0)) * 10000
      > {tau_sq_x1e4} * CAST(nx.n2 AS DECIMAL(38,0)) * CAST(ny.n2 AS DECIMAL(38,0)))
SELECT CAST(m.vec_id AS BIGINT) AS vec_id, CAST(m.c AS BIGINT) AS cluster,
       (dr.vec_id IS NULL) AS kept
FROM a{T} m LEFT JOIN dropped dr ON dr.vec_id = m.vec_id"""


def cluster_stats_closure_sql(cap: int | None = None) -> str:
    """Oracle for dedup observability: cluster-SIZE histogram of the
    minhash-LSH canonical components (same capped edges + recursive
    closure as ``canonical_closure_sql``, then two tiny aggregates).
    ``cap=None`` -> GATE_MINHASH_CAP (defined below; late-bound)."""
    if cap is None:
        cap = GATE_MINHASH_CAP
    return f"""WITH RECURSIVE {minhash_edge_ctes(cap=cap)},
sym AS (SELECT a AS s, b AS d FROM edges UNION SELECT b AS s, a AS d FROM edges),
walk(node, lab) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT w.node, y.d FROM walk w JOIN sym y ON y.s = w.lab
),
labels AS (SELECT node, min(lab) AS cluster_id FROM walk GROUP BY node),
sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM labels GROUP BY cluster_id)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs
FROM sizes GROUP BY sz"""


# ------------------------------------------------------------ text stats
# rendered from the curation kernel's canonical tuple so the SQL
# fragments and the Arrow funnel kernel cannot disagree on the list
from skewer_spark.ops.curation_kernel import STOP_WORDS as _STOP_WORDS

_EN_STOP = "(" + ",".join(f"'{w}'" for w in _STOP_WORDS) + ")"


def lang_id_sql() -> str:
    """n-gram/stopword heuristic language ID vs the labeled lang column
    (confusion counts)."""
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(ASIZE(AFILTER(SPLIT(text, ' '), w -> w IN {_EN_STOP})) AS DOUBLE)
           / ASIZE(SPLIT(text, ' ')) AS stop_ratio
  FROM documents
),
pred AS (
  SELECT doc_id, lang,
         CASE WHEN stop_ratio >= 0.03 THEN 'en' ELSE 'other' END AS predicted
  FROM scored
)
SELECT lang, predicted, count(*) AS n FROM pred GROUP BY lang, predicted"""


def quality_score_sql() -> str:
    """Length/stopword/avg-word-length quality heuristic per document."""
    return f"""
WITH f AS (
  SELECT doc_id,
         ASIZE(SPLIT(text, ' ')) AS n_words,
         length(text) AS n_chars,
         CAST(ASIZE(AFILTER(SPLIT(text, ' '), w -> w IN {_EN_STOP})) AS DOUBLE)
           / ASIZE(SPLIT(text, ' ')) AS stop_ratio,
         CAST(ASIZE(ADISTINCT(SPLIT(text, ' '))) AS DOUBLE)
           / ASIZE(SPLIT(text, ' ')) AS distinct_ratio
  FROM documents
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CAST(n_chars AS BIGINT) AS n_chars,
       FMT4(stop_ratio) AS stop_ratio,
       FMT4(distinct_ratio) AS distinct_ratio,
       FMT4(0.4 * least(CAST(n_words AS DOUBLE) / 100, 1.0)
          + 0.3 * stop_ratio * 10
          + 0.3 * distinct_ratio) AS quality
FROM f"""


def token_count_sql() -> str:
    """Whitespace tokens + BPE-ish alnum-run tokens per document."""
    return """
SELECT doc_id,
       CAST(ASIZE(SPLIT(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(ASIZE(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) AS BIGINT) AS alnum_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents"""


def fingerprint_sql() -> str:
    """Exact + canonical (sorted distinct words) document fingerprints."""
    return """
SELECT doc_id,
       md5(text) AS exact_fp,
       md5(AJOIN(ASORT(ADISTINCT(SPLIT(text, ' '))), ' ')) AS canonical_fp
FROM documents"""


# ------------------------------------------- dedup canonicalization
# (pair lists -> per-document keep/drop verdicts; VERDICT round-1 top
# item). Edge generation is capped so clustered corpora cost O(n)
# edges per bucket, never O(n^2) pairs; connected components turn the
# edges into (doc_id, cluster_id=min id in component, keep).


# Oversized-bucket cap for the MinHash edge builder. PRODUCTION default
# is 64: buckets up to 64 docs get the full Jaccard-verified pairwise
# path (<= ~2k verify pairs per bucket); only genuinely pathological
# boilerplate crowds collapse to an unverified star. The correctness
# GATE pins cap=3 explicitly on BOTH the Spark and oracle sides so both
# code paths execute on the sf0.01 corpus (max bucket there is 4) —
# cap=3 is a gate setting, never a production one (ADVICE r2: defaulting
# the entry points to 3 silently star-merged unverified 4+-doc buckets).
GATE_MINHASH_CAP = 3
PROD_MINHASH_CAP = 64

# line_dedup span width: the GATE runs w=3 so the sf0.01 fixture corpus
# (small shared vocabulary) actually contains cross-doc duplicate spans
# and both keep and drop branches execute; production default w=13
# approximates C4's three-sentence span granularity.
GATE_LINE_DEDUP_W = 3
PROD_LINE_DEDUP_W = 13


def minhash_edge_ctes(threshold: float = 0.8, cap: int = PROD_MINHASH_CAP) -> str:
    """CTE chain -> edges(a, b) for MinHash-LSH dedup with oversized-
    bucket capping.

    Normal band buckets (<= cap members): all in-bucket pairs, verified
    by shingle Jaccard >= threshold — the classic LSH-then-verify path.
    Oversized buckets (> cap members): a band key is TWO full 128-bit
    minhash values colliding, so a crowd sharing one is boilerplate
    mass-duplication; the bucket collapses to star edges on its min
    doc_id WITHOUT pairwise output — O(n) edges, no Jaccard pass. The
    default cap is the production value (PROD_MINHASH_CAP=64); the
    correctness gate passes GATE_MINHASH_CAP=3 explicitly on both the
    Spark and oracle sides so BOTH paths execute on the sf0.01 corpus
    (max observed bucket there is 4)."""
    return f"""{CORPUS}, {SHINGLES}, {_SIG_BANDS},
bsz AS (
  SELECT band, count(*) AS n, min(doc_id) AS root
  FROM (SELECT DISTINCT band, doc_id FROM bandkv) AS db GROUP BY band
),
spairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bandkv x
  JOIN bsz z ON z.band = x.band AND z.n <= {cap}
  JOIN bandkv y ON y.band = x.band AND x.doc_id < y.doc_id
),
sets AS (SELECT doc_id, ADISTINCT(shingles) AS sset FROM sh),
verified AS (
  SELECT p.a, p.b FROM spairs p
  JOIN sets sa ON p.a = sa.doc_id
  JOIN sets sb ON p.b = sb.doc_id
  WHERE CAST(ASIZE(AINTERSECT(sa.sset, sb.sset)) AS DOUBLE) /
        (ASIZE(sa.sset) + ASIZE(sb.sset) - ASIZE(AINTERSECT(sa.sset, sb.sset)))
        >= {threshold}
),
star AS (
  SELECT DISTINCT z.root AS a, x.doc_id AS b
  FROM bandkv x JOIN bsz z ON z.band = x.band AND z.n > {cap}
  WHERE x.doc_id <> z.root
),
edges AS (SELECT a, b FROM verified UNION SELECT a, b FROM star)"""


def simhash_edge_ctes(max_hamming: int = 3, cap: int = 48) -> str:
    """CTE chain -> edges(a, b) for SimHash dedup with oversized-bucket
    capping.

    An 8-bit simhash band collides easily (256 values), so an oversized
    bucket is NOT all near-duplicates and a blind star would merge
    strangers. Instead, oversized buckets link only their exact-equal
    FULL-signature subgroups (hamming 0 — every emitted edge still
    satisfies the <= max_hamming verification predicate) via an O(n)
    star on the subgroup min. Cross-signature candidates inside
    oversized buckets are dropped: the documented recall cost of
    capping (they may still meet in one of the other 3 bands). Normal
    buckets keep the exact popcount-verified pairwise path. The
    sf0.01/sf0.1 corpora have buckets of 416/4017 docs — the source of
    the round-1 617k-pair blowup this replaces."""
    return f"""{CORPUS}, {_simhash_bands_ctes()},
bsz AS (
  SELECT band_idx, band, count(*) AS n FROM bands GROUP BY band_idx, band
),
spairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x
  JOIN bsz z ON z.band_idx = x.band_idx AND z.band = x.band AND z.n <= {cap}
  JOIN bands y ON y.band_idx = x.band_idx AND y.band = x.band
             AND x.doc_id < y.doc_id
  WHERE HAMMING(x.sig, y.sig) <= {max_hamming}
),
sgroup AS (
  SELECT x.band_idx, x.band, x.sig, min(x.doc_id) AS root
  FROM bands x
  JOIN bsz z ON z.band_idx = x.band_idx AND z.band = x.band AND z.n > {cap}
  GROUP BY x.band_idx, x.band, x.sig
),
star AS (
  SELECT DISTINCT g.root AS a, x.doc_id AS b
  FROM bands x
  JOIN sgroup g ON g.band_idx = x.band_idx AND g.band = x.band
               AND g.sig = x.sig
  WHERE x.doc_id <> g.root
),
edges AS (SELECT a, b FROM spairs UNION SELECT a, b FROM star)"""


def corpus_nodes_sql() -> str:
    return f"WITH {CORPUS} SELECT CAST(doc_id AS BIGINT) AS doc_id FROM corpus"


def edges_select_sql(edge_ctes: str) -> str:
    return (
        f"WITH {edge_ctes} SELECT CAST(a AS BIGINT) AS a, "
        f"CAST(b AS BIGINT) AS b FROM edges"
    )


def canonical_closure_sql(edge_ctes: str) -> str:
    """Oracle-side canonicalization: an INDEPENDENT transitive closure
    (recursive min-label walk) over the same capped edge set — DuckDB
    recursion vs the Spark side's iterative label propagation; the
    converged fixpoint (min doc_id per connected component) is unique,
    so the two computations must agree exactly."""
    return f"""WITH RECURSIVE {edge_ctes},
sym AS (SELECT a AS s, b AS d FROM edges UNION SELECT b AS s, a AS d FROM edges),
walk(node, lab) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT w.node, y.d FROM walk w JOIN sym y ON y.s = w.lab
)
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(min(lab) AS BIGINT) AS cluster_id,
       (CAST(node AS BIGINT) = CAST(min(lab) AS BIGINT)) AS keep
FROM walk GROUP BY node"""


def _multitable_cand(n_queries: int, n_tables: int, bits: int) -> str:
    """embeddings -> L sign-LSH tables (table t keys on the signs of
    dim block [t*bits, t*bits+bits)) -> UNION of per-table equi-join
    candidates. Linear candidate generation: each table's join is an
    equality join on the bucket key (AQE-skew-splittable), never
    all-pairs; DISTINCT merges tables."""
    values = ", ".join(f"({i})" for i in range(n_tables))
    return f"""
b AS (
  SELECT vec_id, embedding, tbl,
         AJOIN(XFORM(SEQ1({bits}), i -> CASE WHEN ARR_GET(embedding, tbl * {bits} + i) >= 0
               THEN '1' ELSE '0' END), '') AS bucket
  FROM embeddings CROSS JOIN (VALUES {values}) AS t(tbl)
),
cand AS (
  SELECT DISTINCT x.vec_id AS q, y.vec_id AS n
  FROM b x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket
                   AND x.vec_id <> y.vec_id
  WHERE x.vec_id < {n_queries}
),
scored AS (
  SELECT c.q, c.n, {_COS} AS cos
  FROM cand c JOIN embeddings x ON x.vec_id = c.q
              JOIN embeddings y ON y.vec_id = c.n
),
mt AS (
  SELECT q, n, cos,
         CAST(row_number() OVER (PARTITION BY q ORDER BY round(cos, 6) DESC, n) AS BIGINT) AS rnk
  FROM scored
)"""


def ann_lsh_multitable_sql(
    n_queries: int = 10, k: int = 5, n_tables: int = 16, bits: int = 4
) -> str:
    """Multi-table sign-LSH ANN: L independent hash tables raise recall
    multiplicatively (miss probability (1-p^bits)^L) while each table
    stays a linear equi-join — the standard recall/selectivity dial the
    single-bucket ann_lsh_bucketed lacks. Exact cosine reranks only the
    candidate union. Measured on the sf0.01 corpus: recall@5 = 0.92 vs
    the brute-force oracle (see ann_recall)."""
    return f"""
WITH {_multitable_cand(n_queries, n_tables, bits)}
SELECT q, n, rnk, FMT4(cos) AS cosine FROM mt WHERE rnk <= {k}"""


def ann_recall_sql(
    n_queries: int = 10, k: int = 5, n_tables: int = 16, bits: int = 4
) -> str:
    """recall@k of the multi-table LSH top-k against the brute-force
    top-k, per query — the measurement VERDICT round 1 asked for.
    Output: (q, n_hit, n_true, recall). Both engines compute the whole
    comparison from scratch, so the recall numbers themselves are
    oracle-checked."""
    return f"""
WITH {_multitable_cand(n_queries, n_tables, bits)},
mtk AS (SELECT q, n FROM mt WHERE rnk <= {k}),
bscored AS (
  SELECT x.vec_id AS q, y.vec_id AS n, {_COS} AS cos
  FROM embeddings x JOIN embeddings y ON x.vec_id <> y.vec_id
  WHERE x.vec_id < {n_queries}
),
bf AS (
  SELECT q, n FROM (
    SELECT q, n,
           row_number() OVER (PARTITION BY q ORDER BY round(cos, 6) DESC, n) AS rnk
    FROM bscored) AS r WHERE rnk <= {k}
)
SELECT bf.q,
       CAST(sum(CASE WHEN m.n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(count(*) AS BIGINT) AS n_true,
       FMT4(CAST(sum(CASE WHEN m.n IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*)) AS recall
FROM bf LEFT JOIN mtk m ON m.q = bf.q AND m.n = bf.n
GROUP BY bf.q"""


def _cos_of(xa: str, ya: str) -> str:
    """The cosine HOF fold with arbitrary relation aliases."""
    return _COS.replace("x.", f"{xa}.").replace("y.", f"{ya}.")


def _ivf_cand(n_queries: int, n_cells: int, nprobe: int) -> str:
    """IVF-flat candidate generation: K data vectors serve as coarse
    centroids (deterministic: lowest vec_ids), every vector is assigned
    to its nearest centroid (a broadcast-sized cross join with K rows —
    map-side at any scale), and queries probe their nprobe nearest
    cells. Candidates = vectors in probed cells: an equi-join on cid,
    linear, with selectivity ~ nprobe/n_cells (~25% here vs 65% for
    the sign-LSH tables on these near-random synthetic vectors)."""
    return f"""
cent AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {n_cells}),
ascore AS (
  SELECT x.vec_id, c.cid,
         row_number() OVER (PARTITION BY x.vec_id
                            ORDER BY round({_cos_of('x', 'c')}, 6) DESC, c.cid) AS rn
  FROM embeddings x CROSS JOIN cent c
),
assign AS (SELECT vec_id, cid FROM ascore WHERE rn = 1),
qprobe AS (SELECT vec_id, cid FROM ascore WHERE rn <= {nprobe} AND vec_id < {n_queries}),
cand AS (
  SELECT DISTINCT qp.vec_id AS q, a.vec_id AS n
  FROM qprobe qp JOIN assign a ON a.cid = qp.cid
  WHERE a.vec_id <> qp.vec_id
),
scored AS (
  SELECT c.q, c.n, {_cos_of('x', 'y')} AS cosv
  FROM cand c JOIN embeddings x ON x.vec_id = c.q
              JOIN embeddings y ON y.vec_id = c.n
),
ivtop AS (
  SELECT q, n, cosv,
         CAST(row_number() OVER (PARTITION BY q ORDER BY round(cosv, 6) DESC, n) AS BIGINT) AS rnk
  FROM scored
)"""


def ann_ivf_sql(
    n_queries: int = 10, k: int = 5, n_cells: int = 16, nprobe: int = 4
) -> str:
    """IVF-flat ANN: coarse-quantize into n_cells, probe nprobe cells
    per query, exact-rerank the cell union. recall@5 = 0.92 (sf0.01) /
    1.00 (sf0.1) at ~24% of brute-force candidates (see ann_ivf_recall)."""
    return f"""
WITH {_ivf_cand(n_queries, n_cells, nprobe)}
SELECT q, n, rnk, FMT4(cosv) AS cosine FROM ivtop WHERE rnk <= {k}"""


def ann_ivf_recall_sql(
    n_queries: int = 10, k: int = 5, n_cells: int = 16, nprobe: int = 4
) -> str:
    """recall@k of the IVF top-k against brute force, per query —
    oracle-checked like ann_recall."""
    return f"""
WITH {_ivf_cand(n_queries, n_cells, nprobe)},
ivk AS (SELECT q, n FROM ivtop WHERE rnk <= {k}),
bscored AS (
  SELECT x.vec_id AS q, y.vec_id AS n, {_cos_of('x', 'y')} AS cosv
  FROM embeddings x JOIN embeddings y ON x.vec_id <> y.vec_id
  WHERE x.vec_id < {n_queries}
),
bf AS (
  SELECT q, n FROM (
    SELECT q, n,
           row_number() OVER (PARTITION BY q ORDER BY round(cosv, 6) DESC, n) AS rnk
    FROM bscored) AS r WHERE rnk <= {k}
)
SELECT bf.q,
       CAST(sum(CASE WHEN m.n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(count(*) AS BIGINT) AS n_true,
       FMT4(CAST(sum(CASE WHEN m.n IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*)) AS recall
FROM bf LEFT JOIN ivk m ON m.q = bf.q AND m.n = bf.n
GROUP BY bf.q"""


# ----------------------------------------- dataset splitting / sampling
def split_assign_sql(
    train_pct: int = 90, val_pct: int = 5, salt: str = "split-v1"
) -> str:
    """Deterministic hash-based train/val/test assignment per document:
    bucket = md5(salt || doc_id) mod 100. Reproducible across engines
    and runs (no RNG), stable under corpus growth (a doc's split never
    changes when other docs arrive) — the property random sampling
    lacks. One narrow projection, no shuffle."""
    bucket = (
        f"HEX2INT(substring(md5('{salt}|' || CAST(doc_id AS SSTR)), 1, 8)) % 100"
    )
    return f"""
WITH b AS (SELECT doc_id, lang, {bucket} AS bucket FROM documents)
SELECT doc_id,
       CASE WHEN bucket < {train_pct} THEN 'train'
            WHEN bucket < {train_pct + val_pct} THEN 'val'
            ELSE 'test' END AS split
FROM b"""


def stratified_sample_counts_sql(rate_pct: int = 20, salt: str = "sample-v1") -> str:
    """Deterministic per-language stratified sample: keep a doc iff
    md5(salt || doc_id) mod 100 < rate — every language is sampled at
    the same rate without a shuffle or an RNG seed exchange. Output:
    per-lang totals vs sampled counts (the sample itself is the WHERE
    clause; counts are the verifiable summary)."""
    bucket = (
        f"HEX2INT(substring(md5('{salt}|' || CAST(doc_id AS SSTR)), 1, 8)) % 100"
    )
    return f"""
WITH b AS (SELECT doc_id, lang, {bucket} AS bucket FROM documents)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN bucket < {rate_pct} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled
FROM b GROUP BY lang"""


def winnow_fingerprint_sql(w: int = 4) -> str:
    """Rolling-hash winnowing fingerprints (the Schleimer/Wilkerson/
    Aiken MOSS scheme): hash every 3-word shingle, slide a window of w
    consecutive hashes, keep each window's minimum — guarantees any
    shared run of >= w+2 words between two documents shares at least
    one fingerprint, at ~1/w the storage of all-shingles. Output per
    doc: fingerprint count + an order-insensitive digest of the
    selected minima (set semantics — the same doc content yields the
    same digest regardless of position). Single narrow projection per
    doc; the per-doc work is O(words * w) integer mins."""
    shingles = (
        "XFORM(SEQ1(ASIZE(SPLIT(text, ' ')) - 2),"
        " i -> ARR_GET(SPLIT(text, ' '), i) || ' ' ||"
        " ARR_GET(SPLIT(text, ' '), i + 1) || ' ' ||"
        " ARR_GET(SPLIT(text, ' '), i + 2))"
    )
    return f"""
WITH hs AS (
  SELECT doc_id,
         XFORM({shingles}, s -> HEX2INT(substring(md5(s), 1, 8))) AS h
  FROM documents
),
wn AS (
  SELECT doc_id,
         ADISTINCT(XFORM(SEQ1(ASIZE(h) - {w} + 1),
                         i -> AMIN(ASLICE(h, i, {w})))) AS fps
  FROM hs WHERE ASIZE(h) >= {w}
)
SELECT doc_id,
       CAST(ASIZE(fps) AS BIGINT) AS n_fingerprints,
       md5(AJOIN(XFORM(ASORT(fps), v -> CAST(v AS SSTR)), ',')) AS fp_digest
FROM wn"""


# The quality features and the rule CASE, as standalone macro-SQL
# fragments. quality_cls_ctes composes them into the two-CTE relational
# form (DuckDB-friendly oracle text); the Spark-side curation funnel
# applies the SAME rules in its Arrow kernel (ops/curation_kernel.py,
# which owns the threshold constants rendered into the CASE below), so
# the two engines cannot drift.
_QF_N_WORDS = "ASIZE(SPLIT(text, ' '))"
_QF_STOP_RATIO = (
    f"CAST(ASIZE(AFILTER(SPLIT(text, ' '), w -> w IN {_EN_STOP})) AS DOUBLE)"
    f"\n           / ASIZE(SPLIT(text, ' '))"
)
_QF_DISTINCT_RATIO = (
    "CAST(ASIZE(ADISTINCT(SPLIT(text, ' '))) AS DOUBLE)"
    "\n           / ASIZE(SPLIT(text, ' '))"
)


def _quality_case(n_words: str, distinct_ratio: str, stop_ratio: str) -> str:
    # thresholds rendered from the curation kernel's canonical
    # constants — one source of truth with the Arrow funnel kernel
    from skewer_spark.ops import curation_kernel as K

    # thresholds rendered with repr (shortest round-trip float) — a
    # fixed-precision format would silently round a retuned constant
    # (0.015 -> '0.01') and split the kernel and SQL verdicts
    return f"""CASE WHEN {n_words} < {K.MIN_WORDS} THEN 'too_short'
         WHEN {n_words} > {K.MAX_WORDS} THEN 'too_long'
         WHEN {distinct_ratio} < {K.MIN_DISTINCT_RATIO!r} THEN 'repetitive'
         WHEN lang = 'en' AND {stop_ratio} < {K.MIN_STOP_RATIO!r} THEN 'low_stopword'
         ELSE 'kept' END"""


def quality_cls_ctes(src: str = "documents") -> str:
    """Shared quality-classification CTE chain ``f, cls``: per-doc
    features then first-failing-rule reason (too_short / too_long /
    repetitive / low_stopword for English) or 'kept'. One text macro
    used verbatim by ``corpus_filter_sql`` AND the curation capstone
    (ops/curation.py) so the funnel summary and the actual kept set
    can never disagree on the rules."""
    return f"""f AS (
  SELECT doc_id, lang,
         {_QF_N_WORDS} AS n_words,
         {_QF_STOP_RATIO} AS stop_ratio,
         {_QF_DISTINCT_RATIO} AS distinct_ratio
  FROM {src}
),
cls AS (
  SELECT doc_id,
    {_quality_case("n_words", "distinct_ratio", "stop_ratio")} AS reason
  FROM f
)"""


def corpus_filter_sql() -> str:
    """Quality-filter funnel: classify every document by its FIRST
    failing rule (too_short / too_long / repetitive / low_stopword for
    English) or 'kept', and count per reason — the summary a filtering
    stage reports before the kept set flows on. One pass, one tiny
    aggregate; at scale the kept set is the same projection with a
    WHERE reason = 'kept'."""
    return f"""
WITH {quality_cls_ctes()}
SELECT reason, CAST(count(*) AS BIGINT) AS n FROM cls GROUP BY reason"""


# ------------------------------------------------ telemetry-stream ops
def sessionize_sql(gap_minutes: int = 30) -> str:
    """Gap-based sessionization over the events stream: a new session
    starts when a user's inter-event gap exceeds gap_minutes. One
    shuffle on user_id; both windows share the same partitioning so
    Catalyst evaluates them in a single Window exchange. Classic
    telemetry-pipeline operator; output = per-session rollup."""
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
WITH e AS (SELECT user_id, event_id, EPOCH_US(ts) AS tus FROM events),
g AS (
  SELECT user_id, event_id, tus,
         CASE WHEN lag(tus) OVER w IS NULL
                   OR tus - lag(tus) OVER w > {gap_us}
              THEN 1 ELSE 0 END AS new_s
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
s AS (
  SELECT user_id, event_id, tus,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sess
  FROM g
)
SELECT user_id, CAST(sess AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(tus) AS BIGINT) AS start_us,
       CAST(max(tus) - min(tus) AS BIGINT) AS duration_us
FROM s GROUP BY user_id, sess"""


def asof_join_sql() -> str:
    """As-of join: attach to every event the most recent "config"
    event (every 10th event_id plays that role) of the same user at or
    before its timestamp — the standard point-in-time enrichment Spark
    lacks as a builtin. Implemented as the union-and-carry-forward
    pattern: tag both streams, sort within user by (ts, config-first),
    and carry the last non-null config columns forward — ONE shuffle on
    user_id, no range-join quadratic blowup, skew handled by AQE like
    any window. The DuckDB oracle runs the same portable SQL; a pytest
    additionally cross-checks the result against DuckDB's NATIVE
    ASOF JOIN operator, pinning the semantics to an independent
    implementation."""
    return """
WITH cfg AS (
  SELECT user_id, EPOCH_US(ts) AS ord_us, event_id AS cfg_id, value AS cfg_value
  FROM events WHERE event_id % 10 = 0
),
l AS (SELECT user_id, event_id, EPOCH_US(ts) AS ord_us FROM events),
u AS (
  SELECT user_id, ord_us, 1 AS is_cfg, cfg_id, cfg_value,
         CAST(NULL AS BIGINT) AS event_id
  FROM cfg
  UNION ALL
  SELECT user_id, ord_us, 0 AS is_cfg, CAST(NULL AS BIGINT) AS cfg_id,
         CAST(NULL AS DOUBLE) AS cfg_value, event_id
  FROM l
),
c AS (
  SELECT user_id, ord_us, is_cfg, event_id,
         LASTNN(cfg_id) OVER w AS asof_cfg_id,
         LASTNN(cfg_value) OVER w AS asof_cfg_value
  FROM u
  WINDOW w AS (PARTITION BY user_id
               -- total order: cfg rows have event_id NULL, so the old
               -- COALESCE(event_id, -1) collapsed every same-timestamp
               -- cfg row to one tie rank — which config "wins" was
               -- engine/run-dependent. cfg_id breaks the tie
               -- deterministically (highest cfg_id at a timestamp is
               -- the effective config).
               ORDER BY ord_us, is_cfg DESC, COALESCE(event_id, cfg_id, -1)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, CAST(ord_us AS BIGINT) AS tus,
       CAST(COALESCE(asof_cfg_id, -1) AS BIGINT) AS cfg_id,
       FMT4(COALESCE(asof_cfg_value, 0)) AS cfg_value
FROM c WHERE is_cfg = 0"""


def value_percentiles_sql() -> str:
    """Latency-style percentile rollup per event type (p50/p95/p99 of
    the value column, exact linear interpolation) — the observability
    aggregate every telemetry pipeline publishes next to its counts.
    Exact percentiles need the full sorted group; at 10^12 rows the
    production variant is approx_percentile (t-digest) with this exact
    form as the verification oracle on samples."""
    return """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       FMT4(PCTL(value, 0.5)) AS p50,
       FMT4(PCTL(value, 0.95)) AS p95,
       FMT4(PCTL(value, 0.99)) AS p99
FROM events GROUP BY event_type"""


def value_percentiles_approx_sql() -> str:
    """Scale-grade percentile rollup: the production approx sketch
    (Spark approx_percentile / DuckDB approx_quantile via the APXQ
    macro) checked against the EXACT percentiles as a rank-tolerance
    oracle — each engine compares its own sketch to its own exact
    quantiles at ±1 rank-percent, so the gate verifies the approximate
    aggregate without requiring two different sketch algorithms to
    agree bit-for-bit (they never would: GK vs t-digest). At 10^12 rows
    only the approx form is computable; this query is the promised
    production twin of value_percentiles (VERDICT r2 #3), and its
    correctness claim — 'the sketch lands within the exact ±1% rank
    window' — is itself the oracle-checked output."""
    return """
SELECT event_type, CAST(n AS BIGINT) AS n,
       (ap50 >= lo50 AND ap50 <= hi50) AS p50_in_rank_tol,
       (ap95 >= lo95 AND ap95 <= hi95) AS p95_in_rank_tol,
       (ap99 >= lo99 AND ap99 <= hi99) AS p99_in_rank_tol
FROM (
  SELECT event_type, count(*) AS n,
         APXQ(value, 0.5) AS ap50, APXQ(value, 0.95) AS ap95,
         APXQ(value, 0.99) AS ap99,
         PCTL(value, 0.49) AS lo50, PCTL(value, 0.51) AS hi50,
         PCTL(value, 0.94) AS lo95, PCTL(value, 0.96) AS hi95,
         PCTL(value, 0.98) AS lo99, PCTL(value, 1.00) AS hi99
  FROM events GROUP BY event_type
) AS b"""


def approx_distinct_users_sql() -> str:
    """HLL cardinality per event type — the second sketch aggregate a
    10^12-row rollup actually ships (exact count(DISTINCT) needs a full
    shuffle of every key; the HLL sketch is mergeable map-side). Same
    verification pattern as value_percentiles_approx: each engine's
    sketch (Spark HLL++ rsd=0.02, DuckDB HLL) is checked against ITS
    OWN exact distinct count at ±5%, so the oracle-checked output is
    the tolerance verdict, not two incompatible sketch values."""
    return """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       (abs(CAST(APXCD(user_id) AS DOUBLE)
              - CAST(count(DISTINCT user_id) AS DOUBLE))
          <= 0.05 * CAST(count(DISTINCT user_id) AS DOUBLE))
         AS hll_in_tol
FROM events GROUP BY event_type"""


def contamination_flags_sql(
    bench_mod: int = 31, bench_rem: int = 7, max_shingle_freq: int = 50
) -> str:
    """Benchmark decontamination — the training-data op that keeps eval
    sets out of the corpus: a document is CONTAMINATED when it shares
    any (non-boilerplate) 3-gram shingle with a benchmark document.
    The benchmark set here is a deterministic hash slice of the corpus
    (doc_id % {mod} = {rem}), standing in for an external eval suite.

    Scale shape: everything is equality joins on the shingle string —
    no pairwise document comparison. Super-common shingles (> freq
    docs) are pruned FIRST, which is both standard decontamination
    practice (boilerplate n-grams carry no contamination signal) and
    the skew guard: the join's hottest keys are removed before the
    shuffle, bounding per-key fan-out at max_shingle_freq x bench
    density. Per-doc output (n_bench_hits, contaminated) joins back to
    the corpus with a LEFT JOIN so clean docs report 0/false."""
    return f"""WITH {CORPUS}, {SHINGLES},
shx AS (SELECT doc_id, EXPLODE(shingles) AS s FROM sh),
shd AS (SELECT DISTINCT doc_id, s FROM shx),
common AS (
  SELECT s FROM shd GROUP BY s HAVING count(*) > {max_shingle_freq}
),
pruned AS (
  SELECT doc_id, s FROM shd WHERE s NOT IN (SELECT s FROM common)
),
bench AS (
  SELECT doc_id, s FROM pruned WHERE doc_id % {bench_mod} = {bench_rem}
),
hits AS (
  SELECT DISTINCT c.doc_id, b.doc_id AS bench_doc
  FROM pruned c JOIN bench b ON b.s = c.s AND c.doc_id <> b.doc_id
)
SELECT t.doc_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_bench_hits,
       (t.doc_id % {bench_mod} = {bench_rem}) AS is_benchmark,
       (COALESCE(h.n, 0) > 0) AS contaminated
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM corpus) t
LEFT JOIN (SELECT doc_id, count(*) AS n FROM hits GROUP BY doc_id) h
  ON h.doc_id = t.doc_id"""


def corpus_quality_expr() -> str:
    """The quality_score heuristic as a reusable expression over a
    relation aliased ``t`` (same formula as quality_score_sql)."""
    return (
        "(0.4 * least(CAST(ASIZE(SPLIT(t.text, ' ')) AS DOUBLE) / 100, 1.0)"
        " + 0.3 * (CAST(ASIZE(AFILTER(SPLIT(t.text, ' '), w -> w IN "
        f"{_EN_STOP})) AS DOUBLE) / ASIZE(SPLIT(t.text, ' '))) * 10"
        " + 0.3 * (CAST(ASIZE(ADISTINCT(SPLIT(t.text, ' '))) AS DOUBLE)"
        " / ASIZE(SPLIT(t.text, ' '))))"
    )


def keep_best_closure_sql(
    threshold: float = 0.8, cap: int = PROD_MINHASH_CAP
) -> str:
    """Oracle for quality-based representative selection: recursive
    transitive closure for cluster ids (same mechanism as
    canonical_closure_sql) + one argmax window over (cluster, quality
    DESC, doc_id)."""
    return f"""WITH RECURSIVE {minhash_edge_ctes(threshold, cap)},
sym AS (SELECT a AS s, b AS d FROM edges UNION SELECT b AS s, a AS d FROM edges),
walk(node, lab) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT w.node, y.d FROM walk w JOIN sym y ON y.s = w.lab
),
clu AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY node),
scored AS (
  SELECT clu.doc_id, clu.cluster_id, {corpus_quality_expr()} AS quality
  FROM clu JOIN corpus t ON t.doc_id = clu.doc_id
),
ranked AS (
  SELECT doc_id, cluster_id, quality,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, doc_id) AS rn
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       FMT4(quality) AS quality,
       (rn = 1) AS keep
FROM ranked"""


def frame_sample_sql(n_frames: int = 4) -> str:
    """Video frame-sampling SCHEDULE: given typed metadata (duration,
    fps — synthesized deterministically per doc here, carried columns
    in a real table), compute the uniformly-sampled frame indices per
    document as pure column math. This is the step a video pipeline
    runs BEFORE touching any payload bytes: metadata-only, so the scan
    never reads the blob column (pruning), and the decode stage
    receives an explicit per-doc work list instead of whole videos.

    frame_indices is emitted as a comma-joined STRING, not an array:
    the driver's correctness canonicalizer sorts columns via pandas
    and cannot hash list cells (query outputs must be scalar-typed —
    see tests/test_queries_contract.py)."""
    return f"""
WITH meta AS (
  SELECT doc_id,
         1000 + (doc_id % 29) * 997 AS duration_ms,
         CASE WHEN doc_id % 3 = 0 THEN 30 ELSE 24 END AS fps
  FROM documents
),
plan AS (
  SELECT doc_id, duration_ms, fps,
         CAST(IDIV(duration_ms * fps, 1000) AS BIGINT) AS total_frames
  FROM meta
)
SELECT doc_id, CAST(duration_ms AS BIGINT) AS duration_ms,
       CAST(fps AS INT) AS fps, total_frames,
       COALESCE(AJOIN(
         XFORM(SEQ1({n_frames}),
               k -> CAST(CAST(IDIV((k - 1) * total_frames, {n_frames})
                              AS BIGINT) AS SSTR)),
         ','), '') AS frame_indices
FROM plan"""


def token_rarity_sql() -> str:
    """Corpus-frequency rarity score per document — the quality signal
    an LM-perplexity filter provides, in EXACT integer arithmetic so
    both engines agree bit-for-bit regardless of aggregation order
    (float log-prob sums are order-sensitive across shuffles; integer
    sums are not). rarity(token) = total_tokens div count(token); doc
    score = sum over tokens, plus the mean. Two hash aggregations (the
    vocab build and the per-doc rollup) and one equi-join on the token
    — the same shape a real unigram-LM scorer has, with the vocab side
    broadcastable when the vocabulary is small relative to the corpus."""
    return """
WITH wx AS (SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS w FROM documents),
vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM wx GROUP BY w),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM vocab),
scored AS (
  SELECT x.doc_id, CAST(IDIV(tt.t, v.c) AS BIGINT) AS rarity
  FROM wx x JOIN vocab v ON v.w = x.w CROSS JOIN tot tt
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(rarity) AS BIGINT) AS rarity_sum,
       FMT4(CAST(sum(rarity) AS DOUBLE) / count(*)) AS mean_rarity
FROM scored GROUP BY doc_id"""


def embed_edge_ctes(threshold: float = 0.35, n_tables: int = 16, bits: int = 4) -> str:
    """CTE chain -> edges(a, b) for embedding-cosine near-dup:
    multi-table sign-LSH candidates (linear equi-joins) verified by
    exact cosine >= threshold. Measured on sf0.01: recall 0.96 of the
    true >= 0.35 pairs; candidate selectivity is weak on these
    near-random synthetic vectors (real near-dup corpora cluster far
    tighter, and a higher threshold pairs with more bits per table)."""
    values = ", ".join(f"({i})" for i in range(n_tables))
    return f"""
b AS (
  SELECT vec_id, embedding, tbl,
         AJOIN(XFORM(SEQ1({bits}), i -> CASE WHEN ARR_GET(embedding, tbl * {bits} + i) >= 0
               THEN '1' ELSE '0' END), '') AS bucket
  FROM embeddings CROSS JOIN (VALUES {values}) AS t(tbl)
),
cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM b x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket
                   AND x.vec_id < y.vec_id
),
edges AS (
  SELECT c.a, c.b FROM cand c
  JOIN embeddings x ON x.vec_id = c.a
  JOIN embeddings y ON y.vec_id = c.b
  WHERE {_cos_of('x', 'y')} >= {threshold}
)"""


def embed_canonical_closure_sql(
    threshold: float = 0.35, n_tables: int = 16, bits: int = 4
) -> str:
    """Oracle: recursive min-label closure over the embedding edges."""
    return f"""WITH RECURSIVE {embed_edge_ctes(threshold, n_tables, bits)},
sym AS (SELECT a AS s, b AS d FROM edges UNION SELECT b AS s, a AS d FROM edges),
walk(node, lab) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT w.node, y.d FROM walk w JOIN sym y ON y.s = w.lab
)
SELECT CAST(node AS BIGINT) AS vec_id,
       CAST(min(lab) AS BIGINT) AS cluster_id,
       (CAST(node AS BIGINT) = CAST(min(lab) AS BIGINT)) AS keep
FROM walk GROUP BY node"""


def chunk_documents_sql(size: int = 180, overlap: int = 60) -> str:
    """Fixed-size overlapping chunking — the RAG/pretraining text
    splitter (LangChain's CharacterTextSplitter semantics: window
    ``size`` chars, stride ``size - overlap``). One narrow projection
    + one generate (explode) per doc: at 100 TB this is map-only —
    no shuffle, no Python, whole-stage codegen; the chunk count is
    column math so the explode materializes offsets, not copies, and
    only the final substr touches the body once per chunk. Mirrors the
    reference's message-splitting framing stages (skewer frames byte
    streams; a corpus pipeline frames documents). Output pins chunk
    boundaries AND content (md5 of each chunk) so a drifting stride
    breaks the hash in either engine."""
    stride = size - overlap
    assert stride > 0
    return f"""
WITH plan AS (
  SELECT doc_id, text, n_chars,
         1 + IDIV(GREATEST(n_chars - {size}, 0) + {stride} - 1, {stride})
           AS n_chunks
  FROM documents
),
x AS (
  SELECT doc_id, text, n_chars,
         EXPLODE(XFORM(SEQ1(n_chunks), k -> (k - 1) * {stride})) AS off
  FROM plan
)
SELECT doc_id,
       CAST(IDIV(off, {stride}) AS INT) AS chunk_idx,
       CAST(off AS BIGINT) AS start_off,
       CAST(LEAST(n_chars - off, {size}) AS BIGINT) AS chunk_len,
       md5(substr(text, CAST(off + 1 AS INT), {size})) AS chunk_md5
FROM x"""


def dedup_incremental_sql() -> str:
    """Incremental dedup against a FROZEN corpus snapshot — the
    steady-state production shape: yesterday's deduped corpus is fixed,
    only today's batch is checked against it (and within itself). Never
    re-shuffles the historical corpus bodies: the snapshot side is a
    DISTINCT hash set (at 10^12 docs: bucketed by hash prefix and
    co-located with the batch side's identical bucketing, or broadcast
    when the daily batch's hash set is small). Two verdict bits per new
    doc: dup_of_corpus (hash seen in the snapshot) and dup_in_batch
    (not the first occurrence within the batch itself, first = min
    doc_id). Fixture split: source partitions the documents table into
    a frozen snapshot (source <> 'src1') and the incoming batch
    (source = 'src1'); base texts are fully distinct, so the batch
    additionally re-fetches every 9th snapshot doc verbatim (corpus
    dupes, +B) and re-sends every 7th of its own docs (in-batch
    dupes, +2B), where B = max(doc_id)+1 is derived FROM THE DATA so
    synthetic ids can never collide with real ones at any corpus
    size (a 1-row broadcast, free)."""
    return """
WITH base AS (SELECT max(doc_id) + 1 AS b FROM documents),
snap AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE source <> 'src1'
),
batch AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE source = 'src1'
  UNION ALL
  SELECT d.doc_id + base.b AS doc_id, md5(d.text) AS h
  FROM documents d CROSS JOIN base
  WHERE d.source <> 'src1' AND d.doc_id % 9 = 0
  UNION ALL
  SELECT d.doc_id + 2 * base.b AS doc_id, md5(d.text) AS h
  FROM documents d CROSS JOIN base
  WHERE d.source = 'src1' AND d.doc_id % 7 = 0
),
firsts AS (SELECT h, min(doc_id) AS first_id FROM batch GROUP BY h)
SELECT b.doc_id,
       CAST(CASE WHEN s.h IS NULL THEN 0 ELSE 1 END AS INT) AS dup_of_corpus,
       CAST(CASE WHEN b.doc_id > f.first_id THEN 1 ELSE 0 END AS INT)
         AS dup_in_batch
FROM batch b
JOIN firsts f ON f.h = b.h
LEFT JOIN snap s ON s.h = b.h"""


# word-bigram stream per doc, shared by gopher_repetition / ngram_counts
# so the tokenization cannot drift between them. SEQ1 is total (empty
# for <2 words — portable.py), so single-word docs yield no bigrams and
# drop out identically in both engines instead of crashing Spark's
# ANSI-mode element_at.
_WORD_BIGRAMS = """
w AS (
  SELECT doc_id, n_chars, SPLIT(text, ' ') AS words FROM documents
),
bg AS (
  SELECT doc_id,
         EXPLODE(XFORM(SEQ1(ASIZE(words) - 1),
                 i -> ARR_GET(words, i) || ' ' || ARR_GET(words, i + 1)))
           AS bigram
  FROM w
)"""


def gopher_repetition_sql(top_bigram_max: float = 0.18) -> str:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    Table A1: documents whose most frequent word n-gram covers too much
    of the text are boilerplate/spam): top-bigram character fraction
    (occurrences x bigram chars / doc chars), duplicate-word fraction
    (1 - distinct/total words), and the keep/drop verdict at the
    published top-2-gram threshold (0.18).

    Scale shape at 100 TB: two linear shuffles — (doc_id, bigram)
    count then a doc_id-partitioned top-1 window (rows per group =
    distinct bigrams of ONE doc, bounded by doc length; never global).
    The argmax is total-ordered (count desc, bigram asc) so both
    engines pick the same winner on ties. Single-word docs have no
    bigram and thus no verdict row (dropped identically by both
    engines via the inner join). Reference anchor: the same per-key
    top-1 pattern as skewer's per-conversation ordering
    (store/store.go retrieve ordering), applied to quality filtering."""
    return f"""
WITH {_WORD_BIGRAMS},
cnt AS (
  SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram
),
top AS (
  SELECT doc_id, bigram, c FROM (
    SELECT doc_id, bigram, c,
           row_number() OVER (
             PARTITION BY doc_id ORDER BY c DESC, bigram ASC) AS rn
    FROM cnt) t WHERE rn = 1
),
dw AS (
  SELECT doc_id, n_chars,
         ASIZE(words) AS n_words,
         ASIZE(ADISTINCT(words)) AS n_distinct
  FROM w
)
SELECT d.doc_id,
       t.bigram AS top_bigram,
       CAST(t.c AS BIGINT) AS top_bigram_n,
       FMT4(CAST(t.c * length(t.bigram) AS DOUBLE) / d.n_chars)
         AS top_bigram_char_frac,
       FMT4(1.0 - CAST(d.n_distinct AS DOUBLE) / d.n_words)
         AS dup_word_frac,
       CAST(CASE WHEN CAST(t.c * length(t.bigram) AS DOUBLE) / d.n_chars
                      > {top_bigram_max}
                 THEN 0 ELSE 1 END AS INT) AS keep
FROM dw d JOIN top t ON t.doc_id = d.doc_id"""


def mix_weights_sql() -> str:
    """Domain-mixture sampling weights per source (the DoReMi / Pile
    recipe input: re-weight each domain so one training epoch draws a
    UNIFORM token share from every source): per-source doc and token
    totals, corpus token share, the uniform-target sampling weight
    (target_share / actual_share), and the integer epoch count a
    weight>1 source must repeat.

    Scale shape: ONE aggregation with map-side partial sums — per-source
    totals are a handful of rows regardless of corpus size; the
    cross join against the 1-row grand total is a broadcast. At 10^12
    docs this is the cheapest possible full-corpus pass (count/sum only,
    no bodies shuffled)."""
    return """
WITH tok AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS docs,
         CAST(sum(ASIZE(SPLIT(text, ' '))) AS BIGINT) AS toks
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(toks) AS DOUBLE) AS t, CAST(count(*) AS DOUBLE) AS ns
  FROM tok
)
SELECT source, docs, toks,
       FMT6(toks / t) AS token_share,
       FMT6((t / ns) / toks) AS uniform_weight,
       CAST(CEIL((t / ns) / toks) AS INT) AS epochs
FROM tok CROSS JOIN tot"""


def ngram_counts_sql(k: int = 50) -> str:
    """Corpus-level top-k word-bigram counts — the n-gram LM / corpus
    statistics primitive (the classic map-reduce count at LM scale).
    Deterministic cutoff: total order (count desc, bigram asc) so both
    engines return the identical top-k set under ties.

    Scale shape: one shuffle on the bigram key with map-side partial
    aggregation (combiner absorbs the Zipf head before the exchange);
    the final top-k is TakeOrderedAndProject on Spark — k rows per
    partition to the driver, never a global sort. Skew note: the
    hottest bigram's partial counts are one row per map task, so the
    Zipf head cannot hot-spot a reducer."""
    return f"""
WITH {_WORD_BIGRAMS},
c AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY bigram)
SELECT bigram, n FROM c ORDER BY n DESC, bigram ASC LIMIT {k}"""


def tfidf_terms_sql(k: int = 3) -> str:
    """Per-document TF-IDF top-k terms — the keyword-extraction /
    topic-labeling primitive. The RANKING key is integer-exact
    (tf desc, df asc, term asc) so both engines pick identical winners
    — never rank on the float score, whose ln() can differ in the last
    ulp across libm implementations; the reported tfidf value itself is
    FMT4-rounded, where a last-ulp divergence is far below the
    rounding grain.

    Scale shape: tf = one (doc_id, term) count (linear, map-side
    combined); df = one term-key count over the tf rows (distinct
    (doc_id, term) pairs). Spark inlines CTEs, so as written the
    scan+explode evaluates twice — at production scale materialize tf
    (cache / checkpoint / staging table) so df becomes a reuse; the
    semantics are identical. Score join is an equi-join on term; top-k
    per doc is a doc_id-partitioned window over that doc's distinct
    terms (bounded by doc length). The df side is vocabulary-sized —
    broadcastable wherever the vocabulary fits an executor, else a
    plain equi-join."""
    return f"""
WITH x AS (
  SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM x GROUP BY doc_id, term
),
df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
ranked AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY t.tf DESC, d.df ASC, t.term ASC) AS rn
  FROM tf t JOIN df d ON d.term = t.term
)
SELECT r.doc_id, CAST(r.rn AS INT) AS rank, r.term,
       CAST(r.tf AS BIGINT) AS tf, CAST(r.df AS BIGINT) AS df,
       FMT4(r.tf * ln(n.n_docs / r.df)) AS tfidf
FROM ranked r CROSS JOIN n WHERE r.rn <= {k}"""


# normalization fingerprint: case-fold, strip punctuation, collapse
# whitespace, hash — shared by dedup_normalized_sql and the curation
# capstone's dedup stage (ops/curation.py)
NORM_FP_EXPR = (
    "md5(trim(RREPLACE(RREPLACE(lower(text), "
    "'[^a-z0-9 ]', ' '), ' +', ' ')))"
)


def dedup_normalized_sql() -> str:
    """Normalization-collapsed dedup: case-fold, strip punctuation,
    collapse whitespace, then hash — catches the case/punctuation
    variants exact hashing misses and costs the same single
    hash-groupBy (the cheap pass a pipeline runs BEFORE MinHash).
    Fixture: every 5th doc re-appears uppercased with trailing
    punctuation under doc_id+300000; normalization must pair each with
    its source while plain md5 would not."""
    norm = NORM_FP_EXPR
    return f"""
WITH nc AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 300000 AS doc_id, upper(text) || ' !!!' AS text
  FROM documents WHERE doc_id % 5 = 0
),
norm AS (SELECT doc_id, {norm} AS norm_fp FROM nc)
SELECT norm_fp, CAST(count(*) AS BIGINT) AS n_variants,
       CAST(min(doc_id) AS BIGINT) AS canonical_id
FROM norm GROUP BY norm_fp HAVING count(*) > 1"""


def line_dedup_sql(w: int = PROD_LINE_DEDUP_W) -> str:
    """C4-style corpus-wide span dedup with document reassembly
    (Raffel et al. 2020, §2.2: discard all but one occurrence of any
    repeated three-sentence span, corpus-wide). The corpus here has no
    sentence boundaries, so a "line" is a fixed non-overlapping ``w``-
    word span — the first occurrence (lowest (doc_id, pos)) survives,
    every later occurrence anywhere in the corpus is dropped, and each
    document is reassembled from its surviving spans in order.

    Scale shape (the reason this is NOT a window row_number over the
    span key): spans are keyed by md5(span) so the corpus-wide shuffle
    moves 32-byte digests, never span bodies; the first-occurrence
    group is a HashAggregate with map-side partial combine (a
    hyper-duplicated span collapses to one row per map task, not one
    giant reduce task — the skew a row_number() OVER (PARTITION BY
    span) would serialize); the verdict returns via hash equi-joins
    (AQE splits any residual hot digest); reassembly is one groupBy on
    doc_id. Three shuffles total, zero Python, no global sort —
    span order inside a doc is restored by sorting the per-doc ARRAY
    of zero-padded 'pos|span' strings (pos < 10^7 spans/doc ==
    documents < ~50 MB at w=13; raise the pad for longer).

    Parameters: ``w`` — span width in words; 13 approximates C4's
    three-sentence granularity on this corpus. The registered gate
    runs w=3 (GATE_LINE_DEDUP_W) so the sf0.01 fixture corpus actually
    contains cross-doc duplicate spans and both keep and drop branches
    execute; the semantics are identical at any w.

    Output: one row per doc — span counts, the kept-span count, and
    md5 of the reassembled text (content-pinning: a wrong verdict or a
    drifted span boundary in either engine breaks the hash)."""
    assert w >= 1
    pad = 7  # pos zero-pad width; bounds spans/doc at 10^7
    return f"""
WITH words AS (
  SELECT doc_id, SPLIT(text, ' ') AS ws FROM documents
),
spans AS (
  SELECT doc_id, CAST(k - 1 AS BIGINT) AS pos,
         AJOIN(ASLICE(ws, (k - 1) * {w} + 1, {w}), ' ') AS span
  FROM (
    SELECT doc_id, ws,
           EXPLODE(SEQ1(IDIV(ASIZE(ws) + {w} - 1, {w}))) AS k
    FROM words
  )
),
hashed AS (SELECT doc_id, pos, span, md5(span) AS h FROM spans),
firsts AS (SELECT h, min(doc_id) AS fdoc FROM hashed GROUP BY h),
fpos AS (
  SELECT s.h, f.fdoc, min(s.pos) AS fpos
  FROM hashed s JOIN firsts f ON s.h = f.h AND s.doc_id = f.fdoc
  GROUP BY s.h, f.fdoc
),
verdicts AS (
  SELECT s.doc_id, s.pos, s.span,
         (s.doc_id = p.fdoc AND s.pos = p.fpos) AS kept
  FROM hashed s JOIN fpos p ON p.h = s.h
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
       md5(COALESCE(AJOIN(XFORM(
         ASORT(COALESCE(
           AGGLIST(lpad(CAST(pos AS SSTR), {pad}, '0') || '|' || span)
             FILTER (WHERE kept),
           ALIST())),
         x -> substr(x, {pad + 2})), ' '), '')) AS clean_md5
FROM verdicts GROUP BY doc_id"""


# --------------------------------------------- BM25 retrieval (top-k)
# Keyword-search scoring over the corpus — the retrieval half of a RAG
# / data-curation stack next to the ANN suite. The gate variant is
# CROSS-ENGINE EXACT by construction: rational idf (no ln(), whose last
# ulp differs across libm builds), all term statistics as BIGINTs small
# enough that the final DOUBLE division and two-term sum are IEEE
# correctly-rounded — and +, /, on doubles are REQUIRED to round
# identically everywhere, so both engines produce bit-identical scores
# (the envelope: per-term numerator < 2^53, which holds through ~50k
# docs x 30 tokens; production BM25 at 10^12 docs uses log-idf and
# never needs cross-engine bit equality).
BM25_K = 10  # results per query


def bm25_topk_sql(k: int = BM25_K) -> str:
    """Top-k BM25 retrieval for 5 deterministic two-term queries drawn
    from the corpus's own df ranking (global ranks 6..15 by
    (df DESC, term ASC) — skipping the 5 most common terms keeps the
    queries discriminative; the pairing is rank i with rank i+5).

    BM25 (k1 = 6/5, b = 3/4) with rational idf (N - df + 1)/(df + 1):

        score_term = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl*N/L))
                   = n_t / d_t   with integer
        n_t = (N - df + 1) * tf * 22 * L
        d_t = (df + 1) * (10*L*tf + 3*L + 9*dl*N)

    (multiply numerator and denominator by 10*L/(df+1)^-1 — exact).
    The per-doc score sums AT MOST TWO term fractions, and IEEE
    addition of two doubles is commutative, so the aggregation is
    shuffle-order-insensitive. Ranking is (score DESC, doc_id ASC).

    Scale shape at 100 TB: tf/df/dl are the same linear map-side
    combined aggregates tfidf_terms uses; the query-term frame is
    5 queries x 2 terms — broadcast; the per-query ranking compiles to
    a window over only the docs containing a query term (never the full
    corpus), and at production k the TakeOrdered path applies. The df
    ranking window is vocabulary-sized, not corpus-sized."""
    return f"""
WITH x AS (
  SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM x GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
dl AS (SELECT doc_id, count(*) AS dl FROM x GROUP BY doc_id),
gl AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS total_len
  FROM dl
),
qt AS (
  SELECT CAST(CASE WHEN rnk <= 10 THEN rnk - 5 ELSE rnk - 10 END AS INT)
           AS query_id,
         term, df
  FROM (
    SELECT term, df,
           row_number() OVER (ORDER BY df DESC, term ASC) AS rnk
    FROM df
  ) r
  WHERE rnk BETWEEN 6 AND 15
),
ts AS (
  SELECT q.query_id, t.doc_id,
         (g.n_docs - q.df + 1) * t.tf * 22 * g.total_len AS n_t,
         (q.df + 1) *
           (10 * g.total_len * t.tf + 3 * g.total_len + 9 * d.dl * g.n_docs)
           AS d_t
  FROM qt q
  JOIN tf t ON t.term = q.term
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN gl g
),
sc AS (
  SELECT query_id, doc_id,
         SUM(CAST(n_t AS DOUBLE) / CAST(d_t AS DOUBLE)) AS score
  FROM ts GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
  FROM sc
)
SELECT query_id, doc_id, CAST(rnk AS INT) AS rnk, FMT6(score) AS score
FROM ranked WHERE rnk <= {k}"""


# ------------------------------------- Bloom-pruned incremental dedup
# The scale inversion of dedup_incremental: there the HISTORY side
# shrank to a hash set; here the history is the 10^12-row side that
# must be SCANNED but never shuffled, and the day's batch is the small
# side. Build a Bloom filter over the BATCH hashes (bounded bitmap,
# broadcast to every executor), prune the history scan to rows whose
# text maybe-matches the batch (false positives pass, never false
# negatives), then resolve exactly with an equi-join against only the
# survivors — the full-history shuffle disappears. This is Spark's
# runtime bloom-filter-join pattern made explicit and testable.
BLOOM_M = 1 << 17  # gate bitmap bits (16 KiB); production sizes ~10 bits/key
BLOOM_K = 4  # probes per key


def _bloom_fixture_ctes() -> str:
    """hist/batch CTEs shared by the oracle SQLs and ops/bloom.py: the
    frozen corpus is source <> 'src1'; the incoming batch is source =
    'src1' plus a re-fetch of every 9th frozen doc (ids offset by
    B = max(doc_id)+1, derived from the data so synthetic ids never
    collide — same convention as dedup_incremental_sql)."""
    return """base AS (SELECT max(doc_id) + 1 AS b FROM documents),
hist AS (
  SELECT doc_id, text FROM documents WHERE source <> 'src1'
),
batch AS (
  SELECT doc_id, text FROM documents WHERE source = 'src1'
  UNION ALL
  SELECT d.doc_id + base.b AS doc_id, d.text
  FROM documents d CROSS JOIN base
  WHERE d.source <> 'src1' AND d.doc_id % 9 = 0
)"""


def bloom_probe_macro(j: str, col: str) -> str:
    """Probe ``j``'s bit position for ``col`` — macro-SQL shared
    verbatim (via to_spark) with the ops/bloom.py implementation so the
    two mechanisms can never drift on the hash family."""
    return (
        f"HEX2INT(substring(md5(CAST({j} AS SSTR) || '|' || {col}),"
        f" 1, 12)) % {BLOOM_M}"
    )


def dedup_bloom_sql() -> str:
    """ORACLE for ops/bloom.py's dedup_bloom: because Bloom pruning is
    semantically invisible (no false negatives; false positives are
    removed by the exact join), the oracle is plain exact membership —
    the Spark side must land on identical verdicts THROUGH the
    bitmap-pruned plan."""
    return f"""
WITH {_bloom_fixture_ctes()},
hh AS (SELECT DISTINCT md5(text) AS h FROM hist)
SELECT b.doc_id,
       CAST(CASE WHEN s.h IS NULL THEN 0 ELSE 1 END AS INT) AS dup_of_corpus
FROM batch b LEFT JOIN hh s ON s.h = md5(b.text)"""


def bloom_stats_sql(m: int = BLOOM_M, k: int = BLOOM_K) -> str:
    """ORACLE for the Bloom run's observability row: recomputes the
    exact survivor set (history rows whose every probe position is in
    the batch's position set) with relational position joins — a
    mechanism with no bitmap at all — so the implementation's pruning
    arithmetic (bit packing, shifts, broadcast) is cross-checked
    end to end. One scalar row: history/batch sizes, survivors of the
    prune, exact duplicate count, and how many survivors were Bloom
    false positives."""
    return f"""
WITH {_bloom_fixture_ctes()},
probes AS (SELECT EXPLODE(SEQ1({k})) AS j),
bpos AS (
  SELECT DISTINCT {bloom_probe_macro('p.j', 'b.text')} AS pos
  FROM batch b CROSS JOIN probes p
),
hprobe AS (
  SELECT h.doc_id, p.j, {bloom_probe_macro('p.j', 'h.text')} AS pos
  FROM hist h CROSS JOIN probes p
),
surv AS (
  SELECT hp.doc_id
  FROM hprobe hp JOIN bpos ON bpos.pos = hp.pos
  GROUP BY hp.doc_id HAVING count(DISTINCT hp.j) = {k}
),
bh AS (SELECT DISTINCT md5(text) AS h FROM batch),
hh AS (SELECT DISTINCT md5(text) AS h FROM hist),
sh AS (
  SELECT s.doc_id, md5(h.text) AS h
  FROM surv s JOIN hist h ON h.doc_id = s.doc_id
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM hist) AS history_rows,
  (SELECT CAST(count(*) AS BIGINT) FROM batch) AS batch_rows,
  (SELECT CAST(count(*) AS BIGINT) FROM surv) AS survivor_rows,
  (SELECT CAST(count(*) AS BIGINT)
   FROM batch b JOIN hh ON hh.h = md5(b.text)) AS exact_dup_rows,
  (SELECT CAST(count(*) AS BIGINT)
   FROM sh LEFT JOIN bh ON bh.h = sh.h
   WHERE bh.h IS NULL) AS fp_survivor_rows"""


# ----------------------------- exact-substring pair detection (seeds)
# The seed stage of ExactSubstr dedup (Lee et al. 2021,
# arXiv:2107.06499: training corpora contain verbatim repeated
# substrings that exact-hash dedup misses). Full ExactSubstr builds a
# suffix array; the distributed-friendly shape is SEED-AND-RESOLVE:
# sample char k-grams CONTENT-DEFINED (keep a gram iff a hash of the
# gram itself falls in a 1/p slice), so the SAME grams are selected at
# any offset in any document — a shared substring of length s then
# contains s-k+1 grams, each selected with density 1/p by content, and
# detection probability is 1-(1-1/p)^(s-k+1) regardless of alignment
# (fixed-stride sampling has NO such guarantee: equal substrings at
# different offsets sample different grams). Matched pairs go to exact
# resolution (extend around the shared seed), like Bloom survivors.
SUBSTR_K = 16  # char gram length
SUBSTR_P = 8  # content-defined selection density 1/p
SUBSTR_CAP = 50  # hot-gram prune (same skew guard as contamination)


def _substr_seed_ctes(k: int, p: int, cap: int) -> str:
    """g/sel/hot/pruned CTEs shared by substr_pairs and substr_resolve
    (the content-defined selection + hot-gram prune)."""
    return f"""g AS (
  SELECT doc_id,
         EXPLODE(XFORM(SEQ1(length(text) - {k} + 1),
                 i -> substring(text, i, {k}))) AS gram
  FROM documents
),
sel AS (
  SELECT DISTINCT doc_id, gram FROM g
  WHERE HEX2INT(substring(md5(gram), 1, 8)) % {p} = 0
),
hot AS (SELECT gram FROM sel GROUP BY gram HAVING count(*) > {cap}),
pruned AS (
  SELECT doc_id, gram FROM sel
  WHERE gram NOT IN (SELECT gram FROM hot)
)"""


def substr_pairs_sql(
    k: int = SUBSTR_K, p: int = SUBSTR_P, cap: int = SUBSTR_CAP
) -> str:
    """Document pairs sharing >= 1 selected k-char gram, with the
    shared-seed count — the candidate set for exact substring
    resolution.

    Scale shape at 100 TB: explode is map-only; selection drops
    (p-1)/p of grams BEFORE the shuffle; the only shuffle key is the
    gram string, and its hottest keys (boilerplate) are pruned at
    ``cap`` docs first, bounding per-key pair fan-out at cap^2 — the
    identical guard to minhash bucket capping and contamination's
    common-shingle prune. No pairwise doc comparison anywhere."""
    return f"""
WITH {_substr_seed_ctes(k, p, cap)},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS n_shared_seeds
  FROM pruned a JOIN pruned b
    ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, CAST(n_shared_seeds AS BIGINT) AS n_shared_seeds
FROM pairs"""


def _lcp_expr(x: str, y: str) -> str:
    """Longest-common-prefix length of two string expressions, as
    portable SQL: prefix equality at length i is monotone in i, so the
    count of i with equal prefixes IS the lcp. O(min_len^2) char
    compares — fine at document lengths; the production extension step
    for very long docs is a pandas-UDF scan, same semantics."""
    n = f"least(length({x}), length({y}))"
    return (
        f"ASIZE(AFILTER(XFORM(SEQ1({n}), "
        f"i -> substring({x}, 1, i) = substring({y}, 1, i)), b -> b))"
    )


def substr_resolve_sql(
    k: int = SUBSTR_K, p: int = SUBSTR_P, cap: int = SUBSTR_CAP
) -> str:
    """The resolution stage of ExactSubstr: for every candidate pair,
    extend greedily around ONE deterministic shared seed (the
    lexicographically smallest, at its FIRST occurrence in each doc)
    and report the exact shared-substring length k + left + right.
    Left extension compares the reversed prefixes before the seed,
    right extension the suffixes after it — each compared character is
    a direct equality, so the reported span is a genuine common
    substring containing the seed (greedy, not necessarily the global
    maximum over all occurrence pairs; the ExactSubstr cut step only
    needs a certified span).

    Scale shape: the pair frame joins back to the corpus on doc_id
    twice (equality joins); the extension arithmetic is per-pair
    column math — no new shuffle beyond the two joins."""
    return f"""
WITH {_substr_seed_ctes(k, p, cap)},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS n_shared_seeds, min(a.gram) AS seed
  FROM pruned a JOIN pruned b
    ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
wt AS (
  SELECT p.doc_a, p.doc_b, p.seed, p.n_shared_seeds,
         da.text AS ta, db.text AS tb,
         STRPOS(da.text, p.seed) AS pa,
         STRPOS(db.text, p.seed) AS pb
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
),
ext AS (
  SELECT doc_a, doc_b, seed, n_shared_seeds,
         {_lcp_expr("reverse(substring(ta, 1, pa - 1))",
                    "reverse(substring(tb, 1, pb - 1))")} AS left_ext,
         {_lcp_expr(f"substring(ta, pa + {k})",
                    f"substring(tb, pb + {k})")} AS right_ext
  FROM wt
)
SELECT doc_a, doc_b, seed,
       CAST(n_shared_seeds AS BIGINT) AS n_shared_seeds,
       CAST({k} + left_ext + right_ext AS BIGINT) AS shared_len
FROM ext"""


# ----------------------------- product quantization ANN (PQ + ADC)
# The memory-compression half of the vector-search story: at 10^12
# vectors a 64-dim float scan is 256 TB; PQ stores one small code per
# subspace (here 16 subspaces x 64-entry codebooks = 96 bits/vector,
# 21x less than the float rows) and scores queries with ASYMMETRIC
# DISTANCE COMPUTATION — per query, one 16 x 64 lookup table of exact
# subspace distances, then each candidate costs 16 table lookups
# instead of 64 multiplies (Jegou et al. 2011, TPAMI). The production
# pipeline is SHORTLIST-THEN-RERANK: ADC picks R candidates from the
# code table alone, exact distance re-ranks only those R — so exact
# work per query is R, never N. Everything is integer-exact on the
# quantized vectors (q <= 1e4: subspace distances <= 1.6e9, full sums
# <= 2.6e10 — comfortably BIGINT), so both engines rank identically
# and the recall numbers themselves are oracle-checked (measured 0.98
# at the gate config on the sf0.01 embeddings — random-ish unit
# vectors, the hard case for any ANN).
PQ_SUBSPACES = 16
PQ_DSUB = SEM_DIMS // PQ_SUBSPACES
PQ_NCENT = 64  # codebook entries per subspace
PQ_SHORTLIST = 50  # ADC candidates per query before exact re-rank


def ann_pq_recall_sql(
    n_queries: int = 10,
    k: int = 5,
    ncent: int = PQ_NCENT,
    shortlist: int = PQ_SHORTLIST,
) -> str:
    """recall@k of PQ-ADC-shortlist + exact-rerank top-k against the
    exact integer-L2 top-k, per query — output (q, n_hit, n_true,
    recall), the same shape as ann_recall.

    The gate codebook is a deterministic data sample (the ``ncent``
    lowest non-query vec_ids' subvectors) — a legitimate PQ baseline;
    production trains it with the integer-exact k-means already in
    ops/semantic.py, per subspace, without changing anything here.

    Scale shape: the codebook is ncent x dims ints (broadcast); encode
    is a broadcast join + per-(vec, subspace) argmin (map-side work,
    one narrow shuffle keyed by vec_id, paid once at index build);
    the ADC tables are n_queries x 16 x ncent entries (broadcast);
    candidate scoring scans only the CODE table (16 small ints/vector
    — the scan compression that is PQ's point); the exact re-rank
    touches ``shortlist`` rows per query. The full exact-L2 side here
    exists only as the recall baseline, quadratic by construction,
    like ann_topk_bruteforce."""
    return f"""
WITH {_sem_qv_cte()},
{_pq_recall_body(n_queries, k, ncent, shortlist)}"""


def _clustered_qv_cte(n_clusters: int = 8, spread: int = 40_000) -> str:
    """Clustered-embedding fixture: the quantized vectors shifted by a
    deterministic per-(cluster, dim) md5 offset in [-spread, spread],
    cluster = vec_id % n_clusters. The offsets dominate the unit-norm
    components (|q0| <~ 4e3 at 64 dims vs spread 4e4), so the corpus
    collapses into n_clusters tight blobs — the realistic hard case
    for PQ/IVF cell boundaries that random unit vectors (the base
    ann_pq_recall fixture) cannot exhibit: a data-sampled codebook
    allocates codewords unevenly across blobs and ADC distances
    between same-blob vectors lose contrast. All-integer (HEX2INT of
    5 hex chars, positive modulus in both engines), so the recall is
    still oracle-checked exactly. Magnitudes: |q| <= ~4.4e4, squared
    diffs <= ~8e9, 64-dim sums <= ~5e11 — BIGINT-safe."""
    m = 2 * spread + 1
    return f"""qv AS (
  SELECT vec_id, i,
         CAST(q0 + (HEX2INT(substring(md5(
                CAST(vec_id % {n_clusters} AS SSTR) || '#' ||
                CAST(i AS SSTR)), 1, 5)) % {m}) - {spread} AS BIGINT) AS q
  FROM (
    SELECT vec_id, i,
           CAST(FLOOR(CAST(ARR_GET(embedding, i) AS DOUBLE)
                * {SEM_SCALE} + 0.5) AS BIGINT) AS q0
    FROM (SELECT vec_id, embedding, EXPLODE(SEQ1({SEM_DIMS})) AS i
          FROM embeddings) e
  ) b
)"""


PQ_SHORTLIST_CLUSTERED = 15  # 3k — tight enough that ADC ranking matters


def ann_pq_recall_clustered_sql(
    n_queries: int = 10,
    k: int = 5,
    ncent: int = PQ_NCENT,
    shortlist: int = PQ_SHORTLIST_CLUSTERED,
) -> str:
    """ann_pq_recall on the CLUSTERED fixture (_clustered_qv_cte) —
    identical PQ pipeline, same output shape; only the vectors and the
    shortlist budget differ (VERDICT r4 item 6). On tight blobs the
    data-sampled codebook's codewords sit near blob centers, so ADC
    distances between same-blob vectors lose contrast; the gate
    shortlist is cut to 3k (15, vs the uniform fixture's 50 — which
    saturates at recall 1.0 here because a blob holds ~62 vectors at
    sf0.01) so the measured recall EXPOSES that contrast loss instead
    of hiding it behind a blob-sized candidate set. Measured at the
    gate scale: 0.60 clustered@15 vs 0.98 uniform@50 vs 1.00
    clustered@50 — the number a production deployment must size its
    shortlist against (>= blob density x k), oracle-checked exactly."""
    return f"""
WITH {_clustered_qv_cte()},
{_pq_recall_body(n_queries, k, ncent, shortlist)}"""


def _pq_recall_body(
    n_queries: int, k: int, ncent: int, shortlist: int
) -> str:
    """The PQ encode -> ADC shortlist -> exact rerank -> recall CTE
    chain over a ``qv`` (vec_id, i, q) relation the caller provides."""
    nq = n_queries
    return f"""sub AS (
  SELECT vec_id, CAST(IDIV(i - 1, {PQ_DSUB}) + 1 AS INT) AS s,
         CAST(((i - 1) % {PQ_DSUB}) + 1 AS INT) AS j, q
  FROM qv
),
cbid AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS c, vec_id
  FROM (
    SELECT DISTINCT vec_id FROM qv WHERE vec_id >= {nq}
    ORDER BY vec_id LIMIT {ncent}
  ) f
),
cb AS (
  SELECT cbid.c, sub.s, sub.j, sub.q AS mu
  FROM cbid JOIN sub ON sub.vec_id = cbid.vec_id
),
dist_sc AS (
  SELECT sub.vec_id, sub.s, cb.c,
         SUM((sub.q - cb.mu) * (sub.q - cb.mu)) AS d
  FROM sub JOIN cb ON cb.s = sub.s AND cb.j = sub.j
  GROUP BY sub.vec_id, sub.s, cb.c
),
enc AS (
  SELECT vec_id, s, c AS code FROM (
    SELECT vec_id, s, c,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
    FROM dist_sc
  ) r WHERE rn = 1
),
adc AS (
  SELECT t.vec_id AS qid, e.vec_id AS n, SUM(t.d) AS dist
  FROM enc e
  JOIN dist_sc t ON t.vec_id < {nq} AND t.s = e.s AND t.c = e.code
  WHERE e.vec_id <> t.vec_id
  GROUP BY t.vec_id, e.vec_id
),
short AS (
  SELECT qid, n FROM (
    SELECT qid, n,
           row_number() OVER (PARTITION BY qid ORDER BY dist, n) AS rnk
    FROM adc
  ) r WHERE rnk <= {shortlist}
),
rr AS (
  SELECT sh.qid, sh.n, SUM((a.q - b.q) * (a.q - b.q)) AS dist
  FROM short sh
  JOIN qv a ON a.vec_id = sh.qid
  JOIN qv b ON b.vec_id = sh.n AND b.i = a.i
  GROUP BY sh.qid, sh.n
),
pqk AS (
  SELECT qid, n FROM (
    SELECT qid, n,
           row_number() OVER (PARTITION BY qid ORDER BY dist, n) AS rnk
    FROM rr
  ) r WHERE rnk <= {k}
),
exd AS (
  SELECT a.vec_id AS qid, b.vec_id AS n,
         SUM((a.q - b.q) * (a.q - b.q)) AS dist
  FROM qv a JOIN qv b ON a.i = b.i AND b.vec_id <> a.vec_id
  WHERE a.vec_id < {nq}
  GROUP BY a.vec_id, b.vec_id
),
exk AS (
  SELECT qid, n FROM (
    SELECT qid, n,
           row_number() OVER (PARTITION BY qid ORDER BY dist, n) AS rnk
    FROM exd
  ) r WHERE rnk <= {k}
)
SELECT exk.qid AS q,
       CAST(sum(CASE WHEN p.n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit,
       CAST(count(*) AS BIGINT) AS n_true,
       FMT4(CAST(sum(CASE WHEN p.n IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*)) AS recall
FROM exk LEFT JOIN pqk p ON p.qid = exk.qid AND p.n = exk.n
GROUP BY exk.qid"""


# ------------------------------- Count-Min-Sketch hot-key detection
# The third sketch in the family (GK percentiles, HLL distincts, CMS
# heavy hitters): a D x W counter grid whose cells are md5-derived
# positions, giving est(key) = min_j grid[j][pos_j(key)] with
# est >= exact ALWAYS (counters only ever over-count on collisions) —
# Cormode & Muthukrishnan 2005. State is D*W counters regardless of
# corpus size, and the grid aggregation is map-side combinable, so
# this is how a 10^12-row job discovers its hot keys (the input to
# skew.py's salting decisions) with bounded memory. Registry slot:
# the round-4 driver window is saturated at 50 never-checked names,
# so hot_keys_cms sits in the PENDING_FIRST_WINDOW registry tail
# (first driver slot next round); meanwhile
# tests/test_bloom.py::test_cms_* runs the SAME Spark-vs-DuckDB
# comparison the gate would.
CMS_D = 4  # hash rows
CMS_W = 512  # counters per row


def cms_pos_macro(j: str, col: str, w: int = CMS_W) -> str:
    """Row ``j``'s counter position for ``col`` — macro-SQL shared
    verbatim (via to_spark) with ops/cms.py so the SQL op and the
    streaming twin can never drift on the hash family."""
    return (
        f"HEX2INT(substring(md5(CAST({j} AS SSTR) || '|' || {col}),"
        f" 1, 8)) % {w}"
    )


def hot_keys_cms_sql(
    top: int = 20, d: int = CMS_D, w: int = CMS_W
) -> str:
    """The exact top-``top`` terms with their CMS estimates and the
    measured overcount — (term, cnt, est, overcount). ``overcount``
    is structurally >= 0; how large it runs at the gate W shows the
    collision behavior the production W must be sized against
    (eps = e/W of total mass, here with D=4 rows)."""
    return f"""
WITH x AS (
  SELECT doc_id, EXPLODE(SPLIT(text, ' ')) AS term FROM documents
),
cnt AS (SELECT term, count(*) AS cnt FROM x GROUP BY term),
probes AS (SELECT EXPLODE(SEQ1({d})) AS j),
cells AS (
  SELECT p.j, {cms_pos_macro('p.j', 'x.term', w)} AS pos,
         count(*) AS c
  FROM x CROSS JOIN probes p
  GROUP BY p.j, pos
),
est AS (
  SELECT t.term, min(cl.c) AS est
  FROM cnt t
  CROSS JOIN probes p
  JOIN cells cl
    ON cl.j = p.j
   AND cl.pos = {cms_pos_macro('p.j', 't.term', w)}
  GROUP BY t.term
),
ranked AS (
  SELECT c.term, c.cnt, e.est,
         row_number() OVER (ORDER BY c.cnt DESC, c.term ASC) AS rnk
  FROM cnt c JOIN est e ON e.term = c.term
)
SELECT term, CAST(cnt AS BIGINT) AS cnt, CAST(est AS BIGINT) AS est,
       CAST(est - cnt AS BIGINT) AS overcount
FROM ranked WHERE rnk <= {top}"""


# --------------------------------- DSIR importance-weighted selection
# Data Selection via Importance Resampling (Xie et al. 2023): hash
# word n-grams into B buckets, estimate a TARGET-domain and a RAW
# bucket distribution, weight every raw document by how target-like
# its buckets are, select the above-average docs. The method behind
# "make the web corpus look like the high-quality domain" selection.
DSIR_B = 256  # gate bucket count; production ~10k buckets, same plan


def dsir_weights_sql(b: int = DSIR_B) -> str:
    """Per-document DSIR importance score and selection flag, target
    domain = lang 'en' (select the docs whose hashed-ngram profile
    looks English). INTEGER-EXACT cross-engine variant: the canonical
    formulation sums log(p_b/q_b) per feature, but ln() drifts in the
    last ulp across libm implementations (the same reason bm25_topk
    uses rational idf), so this op scores with the scaled LINEAR
    probability ratio s_b = floor(1e6 * (t_b+1)(A+B) / ((c_b+1)(T+B)))
    — an integer, so the per-doc sum is order-insensitive and both
    engines agree hash-exactly. Selection is the length-normalized
    above-average rule via integer cross-multiplication (never a float
    division): doc mean ratio >= corpus mean ratio
    <=> score * N_feats_total >= n_feats * score_total.

    Scale shape: ONE shuffle builds the (bucket, raw, target) counts
    (conditional aggregate, map-side combined, <= B result rows); the
    B-row ratio table broadcasts; doc scoring is one doc_id groupBy.
    The feats CTE is referenced twice (distribution + scoring) — Spark
    inlines CTEs, so at production scale stage feats to parquet first
    (same note as tfidf_terms). Integer headroom at the 1e6 scale
    factor: the ratio product 1e6*(ct+1)*(A+B) is bounded by
    ~1e6*A^2/B with balanced buckets, staying under 2^63 only to
    A ~ 5e7 total hashed features (worst-case one hot bucket: A ~
    3e6); Spark's default non-ANSI BIGINT arithmetic WRAPS silently
    past that, so production corpora must lower the scale factor
    (1e3 keeps ~1.5e9 balanced features exact) or swap the products
    to DECIMAL(38,0) — same plan either way. Fixture: the corpus
    mixes 10 langs, so the en/non-en selection rates must separate
    (pytest-asserted)."""
    return f"""
WITH w AS (SELECT doc_id, lang, SPLIT(text, ' ') AS words FROM documents),
feats AS (
  SELECT doc_id, lang,
         HEX2INT(substring(md5(g), 1, 8)) % {b} AS bucket
  FROM (
    SELECT doc_id, lang, EXPLODE(words) AS g FROM w
    UNION ALL
    SELECT doc_id, lang,
           EXPLODE(XFORM(SEQ1(ASIZE(words) - 1),
                   i -> ARR_GET(words, i) || ' ' || ARR_GET(words, i + 1)))
             AS g
    FROM w
  ) x
),
dist AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS c,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
  FROM feats GROUP BY bucket
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS a_n, CAST(sum(ct) AS BIGINT) AS t_n
  FROM dist
),
ratio AS (
  SELECT bucket,
         IDIV(1000000 * (ct + 1) * (a_n + {b}), (c + 1) * (t_n + {b})) AS s
  FROM dist CROSS JOIN tot
),
score AS (
  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(rt.s) AS BIGINT) AS score
  FROM feats f JOIN ratio rt ON f.bucket = rt.bucket
  GROUP BY f.doc_id
),
sel AS (
  SELECT CAST(sum(n_feats) AS BIGINT) AS fn,
         CAST(sum(score) AS BIGINT) AS fs
  FROM score
)
SELECT doc_id, n_feats, score,
       (score * sel.fn >= n_feats * sel.fs) AS selected
FROM score CROSS JOIN sel"""


# ------------------------ LM quality filter (CCNet-style ppl buckets)
# CCNet (Wenzek et al. 2020) scores every document under a language
# model TRAINED ON A HIGH-QUALITY TARGET SLICE (their KenLM 5-gram on
# Wikipedia) and keeps/buckets docs by that score — the "perplexity
# filter" step of the CCNet/LLaMA data pipelines, and the model-based
# complement to the heuristic quality_score rules. Here the LM is an
# add-one-smoothed bigram model trained on the corpus's own `lang='en'`
# slice (the in-domain stand-in; production swaps in any curated
# reference slice).
LM_SCALE = 1_000_000  # gate scale factor; see headroom note below
LM_TARGET_LANG = "en"  # gate target slice; production passes a corpus


def lm_bg_ctes(src: str = "documents") -> str:
    """w/bg CTEs: per-doc (w1, w2) bigram rows over ``src`` — shared
    VERBATIM between the batch op and streaming.lm_score_stream (the
    cms_pos_macro discipline: one tokenization, zero drift)."""
    return f"""w AS (SELECT doc_id, lang, SPLIT(text, ' ') AS words FROM {src}),
bg AS (
  SELECT doc_id, lang, ARR_GET(words, i) AS w1, ARR_GET(words, i + 1) AS w2
  FROM (
    SELECT doc_id, lang, words, EXPLODE(SEQ1(ASIZE(words) - 1)) AS i FROM w
  ) x
)"""


def lm_model_ctes(train_src: str) -> str:
    """cb/cu/voc model CTEs from ``train_src`` (w1, w2) rows: bigram
    counts, left-context counts, vocabulary size."""
    return f"""cb AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM {train_src} GROUP BY w1, w2
),
cu AS (SELECT w1, CAST(count(*) AS BIGINT) AS cu FROM {train_src} GROUP BY w1),
voc AS (
  SELECT CAST(count(DISTINCT tw) AS BIGINT) AS v
  FROM (SELECT w1 AS tw FROM {train_src} UNION ALL SELECT w2 FROM {train_src}) u
)"""


def lm_score_ctes(scale: int = LM_SCALE) -> str:
    """sc/score CTEs: per-bigram scaled add-one probability under the
    cb/cu/voc model, aggregated per doc. The GREATEST(v, 1) clamp is
    the empty-target-slice contract (see lm_bigram_score_sql)."""
    return f"""sc AS (
  SELECT b.doc_id,
         IDIV({scale} * (COALESCE(cb.cb, 0) + 1),
              COALESCE(cu.cu, 0) + GREATEST(voc.v, 1)) AS sp
  FROM bg b
  LEFT JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
  LEFT JOIN cu ON cu.w1 = b.w1
  CROSS JOIN voc
),
score AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(sp) AS BIGINT) AS score
  FROM sc GROUP BY doc_id
)"""


def lm_bigram_score_sql(scale: int = LM_SCALE) -> str:
    """Per-document LM quality score under a target-slice bigram model:
    (doc_id, n_bigrams, score, mean_sp, bucket, kept).

    INTEGER-EXACT cross-engine variant (the dsir_weights/bm25 rule):
    the canonical CCNet statistic is log-perplexity, but ln() drifts in
    the last ulp across libm implementations, so this op scores each
    bigram with the scaled add-one probability
        sp = IDIV(scale * (cb + 1), cu + V)
    where cb = count(w1 w2) and cu = count(w1 _) in the TARGET slice
    and V = |target vocab| — an exact integer (p = (cb+1)/(cu+V) is the
    add-one-smoothed conditional; unseen contexts degrade to 1/V).
    The per-doc sum of integers is order-insensitive, so both engines
    agree hash-exactly. Deviation from CCNet, documented: ranking by
    mean probability instead of mean log-probability weights one
    high-probability bigram more than log-space would; the integer
    contract is what the driver's value-hash gate requires, and the
    head/middle/tail separation this filter exists for survives the
    substitution (pytest-asserted: en docs land in better buckets).

    Outputs per scored doc (>= 1 bigram): `score` = sum(sp) BIGINT,
    `mean_sp` = IDIV(score * scale, n_bigrams) (exact scaled mean),
    `bucket` = CCNet's head/middle/tail as ntile(3) over mean_sp DESC
    (doc_id tiebreak — deterministic), `kept` = above-corpus-mean rule
    via integer cross-multiplication, never a float division.

    Scale shape at 10^12 docs: the bigram explode is linear and
    map-side; cb/cu/voc are built from the TARGET slice only (CCNet's
    reference corpus — curated, orders of magnitude smaller than the
    raw corpus) so both model tables broadcast; scoring is then one
    broadcast-probe per raw bigram plus a doc_id groupBy — ONE data-
    sized shuffle. The ntile/global-mean tail runs on the per-DOC
    frame; at 10^12 docs swap ntile for the blocked two-phase rank
    (ops/packing.py pattern) and the sel CTE is a scalar aggregate.
    The score CTE is referenced twice (corpus-mean keep rule + output)
    and Spark INLINES CTEs, so the gate plan runs the scoring subtree
    twice — at production scale stage the per-doc score frame to
    parquet first (the dsir_weights/tfidf_terms rule).
    Integer headroom: sp <= scale, so score <= scale * n_bigrams, and
    score * fn reaches scale * bigrams_per_doc * total_bigrams — past
    2^63 at scale=1e6 once total scored bigrams pass ~1e10/doc_len.
    The keep rule therefore cross-multiplies in DECIMAL(38,0)
    (lm_keep_rule), which holds any product of two BIGINTs. Scale is
    NOT lowered to buy headroom: sp floors to 0 whenever
    cu+V > scale*(cb+1), so scale must stay well ABOVE the target
    vocabulary size or every rare bigram quantizes to zero and the
    filter silently keeps everything (lm_train_model refuses to
    freeze such a model; this session factory runs Spark-4 ANSI mode,
    so a BIGINT overflow also FAILS LOUDLY instead of wrapping). Degenerate-input contract: an
    EMPTY target slice (no lang='en' doc with a bigram) clamps V to 1
    — every bigram scores exactly `scale` and every doc is kept —
    instead of dividing by zero, which would ABORT the Spark job
    under ANSI while DuckDB silently returned NULL scores
    (cross-engine divergence, test-pinned)."""
    return f"""
WITH {lm_bg_ctes()},
train AS (SELECT w1, w2 FROM bg WHERE lang = '{LM_TARGET_LANG}'),
{lm_model_ctes('train')},
{lm_score_ctes(scale)},
sel AS (
  SELECT CAST(sum(n_bigrams) AS BIGINT) AS fn,
         CAST(sum(score) AS BIGINT) AS fs
  FROM score
)
SELECT doc_id, n_bigrams, score,
       IDIV(score * {scale}, n_bigrams) AS mean_sp,
       CAST(ntile(3) OVER (
         ORDER BY IDIV(score * {scale}, n_bigrams) DESC, doc_id
       ) AS INT) AS bucket,
       {lm_keep_rule("sel.fn", "sel.fs")} AS kept
FROM score CROSS JOIN sel"""


def lm_keep_rule(fn: str, fs: str) -> str:
    """The LM keep rule score / n_bigrams >= fs / fn (the doc's mean
    scaled probability is at least the reference mean) as an integer
    cross-multiplication. Both products run in DECIMAL(38,0): each
    factor is a BIGINT, so a product is below 2^126 < 10^38, while in
    BIGINT it overflows at reference corpus sizes. ``fn``/``fs`` are SQL
    expressions (columns or the frozen integer constants)."""
    d = "DECIMAL(38,0)"
    return (
        f"(CAST(score AS {d}) * CAST({fn} AS {d}) "
        f">= CAST(n_bigrams AS {d}) * CAST({fs} AS {d}))"
    )
