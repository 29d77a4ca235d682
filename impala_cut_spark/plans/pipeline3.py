"""Round-5 training-data pipeline queries: corpus-level substring
dedup spans, a fastText-style hashed-linear quality classifier, and a
deterministic epoch shuffle / shard assignment.

Same contract as pipeline.py/pipeline2.py: Spark-first DataFrame
compositions (no per-row Python) whose results a DuckDB oracle
replays exactly — md5-60bit hashing, integer micro-unit arithmetic,
and frozen literal weights are the cross-engine primitives.

Reference parity: the reference has no corpus-pipeline surface
(SURVEY.md §2 — pure SQL MPP); these are the training-pipeline
extension the brief asks for, graded alongside §2.
"""

from __future__ import annotations

from impala_cut_spark.operators import corpus, dedup, text
from impala_cut_spark.plans._util import SQL_H60, t
from impala_cut_spark.plans.registry import query

_SQL_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"

# ---------------------------------------------------------------------------
# corpus-level exact substring dedup (duplicated k-token spans)
# ---------------------------------------------------------------------------

SUBSTR_K = 8


@query(
    "pipe_dedup_substring",
    oracle=f"""
WITH l AS (SELECT doc_id, {_SQL_TOKS} AS ls FROM documents),
pos AS (SELECT doc_id, i AS p, array_to_string(ls[i:i+{SUBSTR_K - 1}], ' ') AS g
        FROM l, unnest(range(1, greatest(len(ls) - {SUBSTR_K - 1}, 0) + 1)) s(i)),
dup AS (SELECT doc_id, p
        FROM (SELECT doc_id, p,
                     count(*) OVER (PARTITION BY {SQL_H60.format(x='g')})
                       AS occ
              FROM pos)
        WHERE occ > 1),
brk AS (SELECT doc_id, p,
               CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                        > {SUBSTR_K} THEN 1 ELSE 0 END AS b
        FROM dup),
isl AS (SELECT doc_id, p,
               sum(b) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM brk),
sp AS (SELECT doc_id, grp, min(p) AS a, max(p) AS bb, count(*) AS nstart
       FROM isl GROUP BY 1, 2),
agg AS (SELECT doc_id, count(*) AS n_spans,
               CAST(sum(nstart) AS BIGINT) AS n_dup_pos,
               CAST(sum(bb - a + {SUBSTR_K}) AS BIGINT) AS dup_tokens
        FROM sp GROUP BY 1)
SELECT l.doc_id, len(ls) AS n_tok,
       coalesce(n_dup_pos, 0) AS n_dup_pos,
       coalesce(n_spans, 0) AS n_spans,
       coalesce(dup_tokens, 0) AS dup_tokens
FROM l LEFT JOIN agg USING (doc_id)
""",
    headline=True,
)
def pipe_dedup_substring(spark, sf_dir):
    """Corpus-level EXACT substring dedup (operators/dedup.py
    substring_dup_spans): every {k}=8-token shingle occurrence that
    appears anywhere else in the corpus, merged per document into
    maximal duplicated spans — the relational form of suffix-array
    substring dedup (Lee et al. 2022). One two-level aggregate keyed
    by shingle text plus an AQE-splittable semi-join-back (no
    hot-shingle window partition), per-document interval-merge
    windows, one doc_id shuffle to re-attach totals. The oracle
    replays the duplicated-position set and the token-interval merge
    (islands break only when the start gap exceeds k — smaller gaps
    OVERLAP in token space)."""
    return dedup.substring_dup_spans(t(spark, sf_dir, "documents"), k=SUBSTR_K)


# ---------------------------------------------------------------------------
# fastText-style hashed-linear quality classifier
# ---------------------------------------------------------------------------

_W = "[" + ", ".join(str(int(x)) for x in text.QC_WEIGHTS) + "]"
_B = text.QC_BUCKETS


@query(
    "pipe_quality_classifier",
    oracle=f"""
WITH l AS (SELECT doc_id, {_SQL_TOKS} AS ls FROM documents)
, s AS (SELECT doc_id, len(ls) AS n_tok,
       CAST({text.QC_BIAS}
       + coalesce(list_sum(list_transform(ls,
           tok -> ({_W})[({SQL_H60.format(x='tok')} % {_B}) + 1])), 0)
       + coalesce(list_sum(list_transform(range(1, greatest(len(ls) - 1, 0) + 1),
           i -> ({_W})[({SQL_H60.format(x="ls[i] || ' ' || ls[i+1]")} % {_B}) + 1])), 0)
       AS BIGINT) AS score_micro
FROM l)
SELECT doc_id, n_tok, score_micro, score_micro > 0 AS keep FROM s
""",
    headline=True,
)
def pipe_quality_classifier(spark, sf_dir):
    """fastText-style hashed bag-of-ngrams linear quality filter
    (operators/text.py quality_classifier_score): hashed word
    unigram+bigram features, frozen integer micro-unit weights as a
    plan literal, score = bias + Σ w[md5-60bit(f) mod 64], keep =
    score > 0. Whole operator is a narrow map (higher-order
    aggregate, no explode/shuffle) — scan speed at 100 TB. The
    oracle replays the identical hash, literal weight list, and
    integer arithmetic."""
    return text.quality_classifier_score(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# deterministic epoch shuffle + shard assignment
# ---------------------------------------------------------------------------

SHUFFLE_SEED = 0
SHUFFLE_SHARDS = 10


@query(
    "pipe_epoch_shuffle",
    oracle=f"""
WITH keyed AS (SELECT doc_id,
        CAST('0x' || substr(md5('{SHUFFLE_SEED}' || chr(31)
                            || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS k
        FROM documents),
r AS (SELECT doc_id,
             row_number() OVER (ORDER BY k % {corpus.SHUFFLE_BUCKETS}, k, doc_id)
               - 1 AS shuffle_pos,
             count(*) OVER () AS n
      FROM keyed)
SELECT doc_id, shuffle_pos, shuffle_pos * {SHUFFLE_SHARDS} // n AS shard_id
FROM r
""",
)
def pipe_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle + contiguous shard assignment
    (operators/corpus.py epoch_shuffle): global training order =
    (md5-key mod 64 buckets, key, doc_id) — bucket-major BY DESIGN so
    ranking parallelizes per bucket with a 64-row offset table
    instead of a single-partition global sort; shard_id is exact
    integer floor-division of the permutation index. The oracle
    replays the same order with one row_number (fine at oracle
    scale)."""
    return corpus.epoch_shuffle(
        t(spark, sf_dir, "documents"), seed=SHUFFLE_SEED, n_shards=SHUFFLE_SHARDS
    )


# ---------------------------------------------------------------------------
# cross-corpus near-duplicate decontamination (MinHash probe)
# ---------------------------------------------------------------------------


def _neardup_decon_oracle() -> str:
    """DuckDB replica of the full cross-corpus MinHash probe: same
    md5-affine family and md5-60bit band keys as the minhash dedup
    oracle (plans/pipeline.py _minhash_oracle), but the band join runs
    corpus-side vs benchmark-side instead of within one corpus."""
    P = dedup.MINHASH_PRIME
    params = dedup.affine_params(dedup.NUM_HASHES)
    bs = dedup.BAND_SIZE
    n_bands = dedup.NUM_HASHES // bs
    mh = ",\n            ".join(
        f"min(({a} * h + {b}) % {P}) AS mh_{i}" for i, (a, b) in enumerate(params)
    )

    def arms(src: str, idc: str) -> str:
        return "\n  UNION ALL\n  ".join(
            f"SELECT {idc}, "
            + SQL_H60.format(
                x="concat_ws(','"
                + f", {b}, "
                + ", ".join(f"mh_{b * bs + r}" for r in range(bs))
                + ")"
            )
            + f" AS bkey FROM {src}"
            for b in range(n_bands)
        )

    return f"""
WITH toks AS (SELECT doc_id, source, {_SQL_TOKS} AS l FROM documents),
sh AS (SELECT doc_id, source,
              unnest(list_distinct([l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]
                                    for i in range(greatest(len(l) - 2, 0))])) AS shingle
       FROM toks),
bsh AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE source = 'src0'),
tsh AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
th AS (SELECT doc_id, ({SQL_H60.format(x='shingle')} % {P}) AS h FROM tsh),
bh AS (SELECT bench_id, ({SQL_H60.format(x='shingle')} % {P}) AS h FROM bsh),
tsig AS (SELECT doc_id, {mh} FROM th GROUP BY doc_id),
bsig AS (SELECT bench_id, {mh} FROM bh GROUP BY bench_id),
tbands AS (
  {arms('tsig', 'doc_id')}),
bbands AS (
  {arms('bsig', 'bench_id')}),
cand AS (SELECT DISTINCT t.doc_id, b.bench_id
         FROM tbands t JOIN bbands b ON t.bkey = b.bkey),
tds AS (SELECT doc_id, list({SQL_H60.format(x='shingle')}) AS s, count(*) AS sz
        FROM tsh GROUP BY doc_id),
bds AS (SELECT bench_id, list({SQL_H60.format(x='shingle')}) AS s, count(*) AS sz
        FROM bsh GROUP BY bench_id),
sc AS (SELECT c.doc_id,
              round(cast(len(list_intersect(x.s, y.s)) as double)
                    / cast(x.sz + y.sz - len(list_intersect(x.s, y.s)) as double),
                    6) AS j
       FROM cand c
       JOIN tds x ON x.doc_id = c.doc_id
       JOIN bds y ON y.bench_id = c.bench_id),
agg AS (SELECT doc_id, max(j) AS best_jaccard,
               CAST(sum(CASE WHEN j >= 0.2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bench_matches
        FROM sc GROUP BY doc_id)
SELECT t.doc_id, t.sz AS n_shingles,
       coalesce(a.n_bench_matches, 0) AS n_bench_matches,
       coalesce(a.best_jaccard, 0.0) AS best_jaccard,
       CASE WHEN coalesce(a.n_bench_matches, 0) > 0 THEN 1 ELSE 0 END
         AS is_contaminated
FROM tds t LEFT JOIN agg a ON a.doc_id = t.doc_id
"""


@query("pipe_decontaminate_neardup", oracle=_neardup_decon_oracle())
def pipe_decontaminate_neardup(spark, sf_dir):
    """Near-duplicate test-set decontamination (operators/corpus.py
    decontaminate_neardup): training docs (source<>'src0') whose
    3-gram Jaccard to ANY benchmark doc (source='src0') reaches 0.2,
    found by probing the corpus's banded MinHash keys against a
    BROADCAST benchmark band table (no corpus self-join), verified
    with exact Jaccard on candidate pairs only. The fuzzy complement
    of pipe_decontaminate — paraphrase-level leaks that exact shingle
    overlap misses."""
    from pyspark.sql import functions as F

    docs = t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    return corpus.decontaminate_neardup(train, bench, n=3, threshold=0.2)


# ---------------------------------------------------------------------------
# streaming distribution-drift monitor (engine extension, §2.9 family)
# ---------------------------------------------------------------------------


@query(
    "stream_drift",
    oracle="""
WITH cnt AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2),
tot AS (SELECT day, sum(n) AS win_total FROM cnt GROUP BY day),
base AS (SELECT event_type, sum(n) AS base_n FROM cnt GROUP BY event_type),
g AS (SELECT sum(n) AS base_total FROM cnt)
SELECT c.day, c.event_type, c.n,
       CAST(t.win_total AS BIGINT) AS win_total,
       round(cast(c.n as double) / cast(t.win_total as double), 6) AS p_win,
       round(cast(b.base_n as double) / cast(g.base_total as double), 6) AS p_base,
       round(
         (cast(c.n as double) / cast(t.win_total as double)
          - cast(b.base_n as double) / cast(g.base_total as double))
         * (cast(c.n as double) / cast(t.win_total as double)
            - cast(b.base_n as double) / cast(g.base_total as double))
         / (cast(c.n as double) / cast(t.win_total as double)
            + cast(b.base_n as double) / cast(g.base_total as double)), 6)
         AS drift_term
FROM cnt c JOIN tot t ON t.day = c.day
JOIN base b ON b.event_type = c.event_type, g
""",
)
def stream_drift(spark, sf_dir):
    """Streaming training-mix drift monitor (streaming/events.py
    run_stream_drift): ONE watermarked tumbling-day aggregation
    maintains (window, type) counts on the replayed event stream; the
    batch overlay derives window totals, whole-stream baseline shares,
    and the per-stratum rational chi-square-style term
    ((p_win-p_base)²/(p_win+p_base)) — the streaming twin of
    pipe_corpus_drift. Every row is pure rational double arithmetic,
    bit-identical to the DuckDB replay."""
    from impala_cut_spark.streaming.events import run_stream_drift

    return run_stream_drift(spark, sf_dir)


# ---------------------------------------------------------------------------
# BM25 keyword retrieval (lexical complement of the ANN family)
# ---------------------------------------------------------------------------

BM25_TERMS = ["hash", "join", "stream"]
BM25_K = 25


@query(
    "pipe_bm25",
    headline=True,  # the retrieval family's bench representative
    oracle=f"""
WITH tok AS (SELECT doc_id,
                    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
             FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
       WHERE tok IN ('hash', 'join', 'stream') GROUP BY doc_id, tok),
dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
stats AS (SELECT tok, df, n_docs, sum_dl,
                 round(ln(1.0 + (cast(n_docs AS double) - df + 0.5) / (df + 0.5)), 6)
                   AS idf
          FROM dft CROSS JOIN tot),
sc AS (SELECT tf.doc_id,
              round((idf * (cast(tf AS double) * 2.2))
                    / (cast(tf AS double)
                       + 1.2 * (0.25 + 0.75 * (cast(dl.dl AS double)
                                               * cast(n_docs AS double)
                                               / cast(sum_dl AS double)))), 6)
                AS term_score
       FROM tf JOIN stats USING (tok) JOIN dl ON dl.doc_id = tf.doc_id)
SELECT doc_id, count(*) AS n_terms_matched,
       round(cast(sum(cast(term_score AS decimal(18,6))) AS double), 6) AS score
FROM sc GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {BM25_K}
""",
)
def pipe_bm25(spark, sf_dir):
    """BM25 keyword retrieval (operators/retrieval.py bm25_topk):
    top-{k} documents for a literal query-term bag under the
    Lucene-default BM25 (k1=1.2, b=0.75, BM25+ idf). Term filter
    lands at the tokenize explode; corpus totals are a one-row
    broadcast; term stats broadcast into the per-(doc, term) join —
    one doc_id shuffle end-to-end. idf's ln() is rounded to 6 dp
    before use and per-term scores decimal-sum (the unigram-ppl
    determinism trick), so the DuckDB replay is bit-identical."""
    from impala_cut_spark.operators import retrieval

    return retrieval.bm25_topk(
        t(spark, sf_dir, "documents"), BM25_TERMS, k=BM25_K
    )


# ---------------------------------------------------------------------------
# hybrid retrieval: BM25 ⊕ dense ANN via Reciprocal Rank Fusion
# ---------------------------------------------------------------------------

RRF_QUERY_VEC = 7  # the dense arm's query vector (and its twin doc)
RRF_N = 25  # per-arm candidate depth
RRF_C = 60  # the canonical RRF constant


@query(
    "pipe_hybrid_rrf",
    oracle=f"""
WITH tok AS (SELECT doc_id,
                    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
             FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
       WHERE tok IN ('hash', 'join', 'stream') GROUP BY doc_id, tok),
dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
stats AS (SELECT tok, df, n_docs, sum_dl,
                 round(ln(1.0 + (cast(n_docs AS double) - df + 0.5) / (df + 0.5)), 6)
                   AS idf
          FROM dft CROSS JOIN tot),
sc AS (SELECT tf.doc_id,
              round((idf * (cast(tf AS double) * 2.2))
                    / (cast(tf AS double)
                       + 1.2 * (0.25 + 0.75 * (cast(dl.dl AS double)
                                               * cast(n_docs AS double)
                                               / cast(sum_dl AS double)))), 6)
                AS term_score
       FROM tf JOIN stats USING (tok) JOIN dl ON dl.doc_id = tf.doc_id),
bm AS (SELECT doc_id,
              round(cast(sum(cast(term_score AS decimal(18,6))) AS double), 6) AS score
       FROM sc GROUP BY doc_id
       ORDER BY score DESC, doc_id ASC LIMIT {RRF_N}),
lex AS (SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank_lex
        FROM bm),
v AS (SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS e
      FROM embeddings),
nv AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nm FROM v),
cosr AS (SELECT c.vec_id AS doc_id,
                round(list_dot_product(q.e, c.e) / (q.nm * c.nm), 6) AS cos
         FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
         WHERE q.vec_id = {RRF_QUERY_VEC}),
den AS (SELECT doc_id,
               row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rank_dense
        FROM cosr ORDER BY cos DESC, doc_id ASC LIMIT {RRF_N})
SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
       l.rank_lex, d.rank_dense,
       coalesce(1.0 / ({RRF_C} + l.rank_lex), 0.0)
       + coalesce(1.0 / ({RRF_C} + d.rank_dense), 0.0) AS rrf
FROM lex l FULL JOIN den d ON d.doc_id = l.doc_id
ORDER BY rrf DESC, doc_id ASC LIMIT 15
""",
)
def pipe_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval (operators/retrieval.py rrf_fuse): the BM25
    lexical arm (pipe_bm25's construction, top-{RRF_N}) fused with the
    exact dense-cosine arm (similarity.brute_force_topk, one query
    vector, top-{RRF_N}) by Reciprocal Rank Fusion 1/(60+rank) — the
    standard lexical+dense combiner. Both arms are total-ordered
    (ties broken by doc_id) and the fusion is pure rational
    arithmetic, so the full two-arm pipeline replays bit-identically
    in DuckDB. vec_id is the embedding twin of doc_id in this
    testdata (parallel 0..N tables)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from impala_cut_spark.operators import retrieval, similarity

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")

    lex = retrieval.bm25_topk(docs, BM25_TERMS, k=RRF_N).select(
        "doc_id",
        "score",
        F.row_number()
        .over(W.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("rank"),
    )
    dense = (
        similarity.brute_force_topk(
            emb, emb.filter(F.col("vec_id") == RRF_QUERY_VEC), k=RRF_N
        )
        .select(F.col("n_id").alias("doc_id"), F.col("rank"))
    )
    return retrieval.rrf_fuse(lex, dense, c=RRF_C, k=15)


# ---------------------------------------------------------------------------
# MMR diversity re-ranking (the stage after ANN in a retrieval stack)
# ---------------------------------------------------------------------------

MMR_QUERY_VEC = 7
MMR_N_CAND = 20
MMR_K = 5
MMR_LAM = 0.5


def _mmr_oracle() -> str:
    """DuckDB replay of the greedy MMR selection, UNROLLED: stage i is
    a one-row CTE picking argmax round6(λ·cos − (1−λ)·max pairwise sim
    to stages 1..i−1), ties by n_id — the same total order the numpy
    kernel uses (HALF_UP round6 emulation). No recursion needed: k is
    a literal, so the greedy loop is k chained CTEs."""
    lam, om = MMR_LAM, 1.0 - MMR_LAM
    stages = []
    prev: list[str] = []
    for i in range(1, MMR_K + 1):
        if not prev:
            stages.append(
                f"c1 AS (SELECT n_id, cos FROM cand "
                f"ORDER BY round({lam} * cos, 6) DESC, n_id LIMIT 1)"
            )
        else:
            sims = [
                f"(SELECT c FROM pair, {p} WHERE ia = d.n_id AND ib = {p}.n_id)"
                for p in prev
            ]
            red = sims[0] if len(sims) == 1 else "greatest(" + ", ".join(sims) + ")"
            not_in = ", ".join(f"(SELECT n_id FROM {p})" for p in prev)
            stages.append(
                f"c{i} AS (SELECT d.n_id, d.cos FROM cand d "
                f"WHERE d.n_id NOT IN ({not_in}) "
                f"ORDER BY round({lam} * d.cos - {om} * {red}, 6) DESC, d.n_id "
                f"LIMIT 1)"
            )
        prev.append(f"c{i}")
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({MMR_QUERY_VEC} AS BIGINT) AS q_id, {i} AS step, n_id, cos FROM c{i}"
        for i in range(1, MMR_K + 1)
    )
    stages_sql = ",\n".join(stages)
    return f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS e
           FROM embeddings),
nv AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nm FROM v),
cand AS (SELECT c.vec_id AS n_id,
                round(list_dot_product(q.e, c.e) / (q.nm * c.nm), 6) AS cos
         FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
         WHERE q.vec_id = {MMR_QUERY_VEC}
         ORDER BY cos DESC, n_id LIMIT {MMR_N_CAND}),
ids AS (SELECT n_id FROM cand),
pair AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                round(list_dot_product(a.e, b.e) / (a.nm * b.nm), 6) AS c
         FROM nv a JOIN nv b
           ON a.vec_id IN (SELECT n_id FROM ids)
          AND b.vec_id IN (SELECT n_id FROM ids)),
{stages_sql}
{union}
"""


@query("pipe_mmr_rerank", oracle=_mmr_oracle())
def pipe_mmr_rerank(spark, sf_dir):
    """MMR diversity re-ranking (operators/retrieval.py mmr_rerank):
    greedy λ-tradeoff selection of {MMR_K} from the query's top-{MMR_N_CAND}
    cosine candidates — the stage a retrieval stack runs after ANN so
    the shortlist isn't {MMR_K} near-copies. One applyInPandas keyed by
    q_id over the (bounded) candidate set; every rounding and
    tie-break mirrors the unrolled-greedy DuckDB oracle."""
    from pyspark.sql import functions as F

    from impala_cut_spark.operators import retrieval, similarity

    emb = t(spark, sf_dir, "embeddings")
    cands = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == MMR_QUERY_VEC), k=MMR_N_CAND
    ).select("q_id", "n_id", "cos")
    return retrieval.mmr_rerank(cands, emb, k=MMR_K, lam=MMR_LAM)


# ---------------------------------------------------------------------------
# exact heavy hitters: Misra-Gries candidates + exact re-count
# ---------------------------------------------------------------------------

HH_PHI = 1e-4
HH_FLOOR_DF = 5


def _hh_oracle() -> str:
    from impala_cut_spark.plans.pipeline2 import _SQL_SH_SRC

    return f"""
WITH {_SQL_SH_SRC},
tot AS (SELECT count(*) AS total FROM sh),
c AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
SELECT shingle, df,
       round(CAST(df AS DOUBLE) / CAST(total AS DOUBLE), 6) AS frac
FROM c, tot
WHERE df >= greatest({HH_FLOOR_DF}, CAST(ceiling({HH_PHI} * total) AS BIGINT))
ORDER BY df DESC, shingle
"""


@query("pipe_freq_shingles", oracle=_hh_oracle())
def pipe_freq_shingles(spark, sf_dir):
    """Exact support-thresholded heavy hitters (operators/corpus.py
    frequent_ngrams): all 3-gram shingles with document frequency ≥
    max(5, ceil(1e-4 * stream)) via per-partition Misra-Gries
    summaries (one scan, ≤ k+1 rows out per task, NO full-stream
    shuffle) + an exact re-count of the candidate set only. The
    sketch is partition-dependent but the final answer provably isn't
    — it equals the oracle's plain GROUP BY/HAVING (guarantee math in
    the operator docstring), which is the whole point: the exact
    answer at 100 TB without materializing the full vocabulary
    aggregate."""
    from impala_cut_spark.operators import corpus

    return corpus.frequent_ngrams(
        t(spark, sf_dir, "documents"), n=3, phi=HH_PHI, floor_df=HH_FLOOR_DF
    )


# ---------------------------------------------------------------------------
# round-6 additions: Gopher rule bundle, token-budget selection,
# CCNet perplexity buckets
# ---------------------------------------------------------------------------

_SQL_TOKS3 = "list_filter(string_split(text, ' '), x -> x <> '')"

_GOPHER_STOP_SQL = " + ".join(
    f"CAST(list_contains(l, '{w}') AS INT)" for w in text.GOPHER_STOPWORDS
)


@query(
    "pipe_gopher_rules",
    oracle=f"""
WITH toks AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
t2 AS (SELECT doc_id, text, {_SQL_TOKS3} AS l FROM toks),
ft AS (SELECT doc_id,
              len(l) AS n,
              coalesce(list_sum(list_transform(l, x -> length(x))), 0) AS chars,
              len(list_filter(l, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
              (length(text) - length(replace(text, '#', '')))
                + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
                AS n_sym,
              {_GOPHER_STOP_SQL} AS n_stop
       FROM t2)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_words,
       (n >= {text.GOPHER_MIN_WORDS} AND n <= {text.GOPHER_MAX_WORDS}) AS r_word_count,
       (3 * n <= chars AND chars <= 10 * n) AS r_mean_len,
       (10 * n_sym <= n) AS r_symbol,
       (5 * n_alpha >= 4 * n) AS r_alpha,
       (n_stop >= 2) AS r_stop,
       ((n >= {text.GOPHER_MIN_WORDS} AND n <= {text.GOPHER_MAX_WORDS})
        AND (3 * n <= chars AND chars <= 10 * n)
        AND (10 * n_sym <= n)
        AND (5 * n_alpha >= 4 * n)
        AND (n_stop >= 2)) AS keep
FROM ft
""",
)
def pipe_gopher_rules(spark, sf_dir):
    """Gopher quality-rule bundle (operators/text.py gopher_rules;
    Rae et al. 2021 Table A1, public literature): per-document rule
    booleans — word-count bounds, mean-word-length bounds,
    symbol-to-word ratio, alphabetic-word ratio, distinct-stopword
    floor — plus the conjunctive keep flag. All comparisons are
    integer-exact (cross-multiplied ratios), so the bits replay
    bit-identically in DuckDB. Narrow map over the scan: 0 shuffles."""
    from pyspark.sql import functions as F

    docs = t(spark, sf_dir, "documents")
    rules = text.gopher_rules(F.col("text"))
    return docs.select("doc_id", *[v.alias(k) for k, v in rules.items()])


BUDGET_TOKENS = 20_000  # sf-scaled stand-in for a production 1T budget


@query(
    "pipe_budget_select",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS3} AS l FROM documents),
     ft AS (
       SELECT doc_id,
              CAST(len(l) AS BIGINT) AS n_tok,
              CAST(len(l) AS DOUBLE) AS n_tokf,
              CAST(coalesce(list_sum(list_transform(l, x -> length(x))), 0) AS DOUBLE)
                AS sum_len,
              CAST(len(list_filter(l, x -> list_contains(
                  ['the','a','of','and','to','in','is','that','it','for'], x)))
                AS DOUBLE) AS n_stop
       FROM toks),
     sc AS (SELECT doc_id, n_tok,
                   floor((0.4 * least(n_tokf / 100.0, 1.0)
                         + 0.3 * least((n_stop / n_tokf) * 5.0, 1.0)
                         + 0.3 * least((sum_len / n_tokf) / 8.0, 1.0))
                        * 1000000 + 0.5) / 1000000 AS score
            FROM ft),
     c AS (SELECT doc_id, n_tok, score,
                  CAST(sum(n_tok) OVER (ORDER BY score DESC, doc_id ASC
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS cum_tokens
           FROM sc)
SELECT doc_id, n_tok, score, cum_tokens
FROM c WHERE cum_tokens - n_tok < {BUDGET_TOKENS}
""",
)
def pipe_budget_select(spark, sf_dir):
    """Token-budget corpus selection (operators/corpus.py
    budget_select): admit documents in descending quality-score order
    until the token budget fills — the "fill a 1T-token training
    budget with the best documents" pipeline step. Exact greedy
    without a global sort: monotone score bands + a collected ≤65-row
    band-offset map + within-band running-sum windows (the
    epoch_shuffle two-phase). The DuckDB oracle is the naive global
    window — same rows by construction."""
    from pyspark.sql import functions as F

    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        text.token_count(F.col("text")).cast("bigint").alias("n_tok"),
        text.quality_score(F.col("text")).alias("score"),
    )
    return corpus.budget_select(scored, budget_tokens=BUDGET_TOKENS)


@query(
    "pipe_ppl_terciles",
    oracle="""
WITH toks AS (SELECT doc_id,
                     unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
              FROM documents),
freqs AS (SELECT w, count(*) AS n FROM toks GROUP BY w),
tot AS (SELECT cast(count(*) AS double) AS t FROM toks),
terms AS (SELECT doc_id,
                 cast(round(-ln(cast(n AS double) / t), 6) AS decimal(18,6)) AS nll
          FROM toks JOIN freqs USING (w) CROSS JOIN tot),
nll AS (SELECT doc_id,
               round(cast(sum(nll) AS double) / count(*), 6) AS avg_nll
        FROM terms GROUP BY doc_id),
j AS (SELECT d.doc_id, d.lang, nll.avg_nll
      FROM documents d JOIN nll ON d.doc_id = nll.doc_id),
r AS (SELECT doc_id, lang, avg_nll,
             row_number() OVER (PARTITION BY lang
                                ORDER BY avg_nll ASC, doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
      FROM j)
SELECT doc_id, lang, avg_nll,
       CAST((rk - 1) * 3 // n + 1 AS INT) AS bucket,
       CASE (rk - 1) * 3 // n + 1
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS label
FROM r
""",
)
def pipe_ppl_terciles(spark, sf_dir):
    """CCNet-style per-language perplexity bucketing (operators/text.py
    ppl_buckets; Wenzek et al. 2020, public literature): documents
    ranked within each language by unigram-LM mean NLL and cut into
    head/middle/tail terciles — the standard crawl-quality
    stratification. Ranks come from the bucket-major two-phase (tiny
    collected (lang, nll-band) offset map; no per-language global
    sort); the tercile is a closed-form integer floor division both
    engines evaluate identically."""
    return text.ppl_buckets(t(spark, sf_dir, "documents"))
