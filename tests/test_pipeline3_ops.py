"""Operator-level invariants for the round-5 pipeline operators
(substring-span dedup, hashed-linear quality classifier, epoch
shuffle). Registry/oracle equivalence is covered by
tests/test_correctness.py; these pin semantics the SQL oracle can't
express — span-merge edge geometry, a pure-Python classifier replica,
and permutation properties."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from impala_cut_spark.operators import corpus, dedup, text
from impala_cut_spark.plans._util import t


def _mkdocs(spark, texts: list[str]):
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id bigint, text string"
    )


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# -- substring span dedup ---------------------------------------------------


def test_substring_spans_basic_duplicate(spark):
    """A 3-token substring shared by two docs yields exactly one span
    of 3 tokens in each (k=3)."""
    docs = _mkdocs(spark, ["a b c x y z", "q r a b c s"])
    rows = {r["doc_id"]: r for r in dedup.substring_dup_spans(docs, k=3).collect()}
    for d in (0, 1):
        assert rows[d]["n_spans"] == 1
        assert rows[d]["n_dup_pos"] == 1
        assert rows[d]["dup_tokens"] == 3
    assert rows[0]["n_tok"] == 6 and rows[1]["n_tok"] == 6


def test_substring_spans_interval_merge_not_start_adjacency(spark):
    """Duplicated starts whose gap is ≤ k overlap (or touch) in token
    space and MUST merge into one span — a start-adjacency
    run-grouping would double-count the overlap (the bug class this
    operator's islands logic exists to avoid)."""
    # doc 0 and doc 1 share "a b c" (start 1) and "e f g" (start 5 in
    # doc 0): gap 4 > k=3 → two separate spans of 3.
    # doc 2 and doc 3 share the 5-token run "a b c d e": duplicated
    # 3-shingle starts 1,2,3 (gap 1) → ONE span of 3-1+3 = 5 tokens.
    docs = _mkdocs(
        spark,
        [
            "a b c x e f g",
            "a b c y z e f g",
            "a b c d e q1 q2",
            "p a b c d e",
        ],
    )
    rows = {r["doc_id"]: r for r in dedup.substring_dup_spans(docs, k=3).collect()}
    assert rows[0]["n_spans"] == 2 and rows[0]["dup_tokens"] == 6
    assert rows[1]["n_spans"] == 2 and rows[1]["dup_tokens"] == 6
    assert rows[2]["n_spans"] == 1 and rows[2]["n_dup_pos"] == 3
    assert rows[2]["dup_tokens"] == 5
    assert rows[3]["dup_tokens"] == 5


def test_substring_spans_within_one_doc(spark):
    """Duplication WITHIN a single document counts: the same 3-gram at
    two positions of one doc is a corpus-level duplicate of itself."""
    docs = _mkdocs(spark, ["a b c z1 z2 a b c"])
    r = dedup.substring_dup_spans(docs, k=3).collect()[0]
    assert r["n_dup_pos"] == 2 and r["n_spans"] == 2 and r["dup_tokens"] == 6


def test_substring_spans_clean_and_short_docs(spark):
    """Unique docs report zeros; docs shorter than k yield no shingles
    and report zeros (not a crash, not NULLs)."""
    docs = _mkdocs(spark, ["u1 u2 u3 u4", "v w", ""])
    rows = {r["doc_id"]: r for r in dedup.substring_dup_spans(docs, k=3).collect()}
    assert len(rows) == 3
    for r in rows.values():
        assert r["n_dup_pos"] == 0 and r["n_spans"] == 0 and r["dup_tokens"] == 0
    assert rows[1]["n_tok"] == 2 and rows[2]["n_tok"] == 0


def test_substring_spans_hot_shingle_skew(spark):
    """A Zipf-pathological corpus — ONE shingle present in every doc —
    stays correct under the round-6 aggregate+join occurrence count
    (the windowed count this replaced would funnel every occurrence of
    the hot shingle into a single partition at scale)."""
    hot = "the quick brown"  # one k=3 shingle shared corpus-wide
    docs = _mkdocs(
        spark, [f"u{i}a u{i}b {hot} u{i}c u{i}d" for i in range(40)]
    )
    rows = dedup.substring_dup_spans(docs, k=3).collect()
    assert len(rows) == 40
    for r in rows:
        # the hot shingle is each doc's only duplicated start: 1 span,
        # 1 dup position, k=3 covered tokens
        assert (r["n_dup_pos"], r["n_spans"], r["dup_tokens"]) == (1, 1, 3)


def test_substring_spans_python_replica_on_corpus(spark, sf_dir):
    """Exact replica check on real corpus docs: recompute duplicated
    positions + interval merge in pure Python for a sample and compare
    all four outputs."""
    k = 8
    docs = t(spark, sf_dir, "documents")
    got = {r["doc_id"]: r for r in dedup.substring_dup_spans(docs, k=k).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    from collections import Counter

    occ: Counter = Counter()
    toks = {d: [w for w in s.split(" ") if w] for d, s in texts.items()}
    for d, ts in toks.items():
        for i in range(len(ts) - k + 1):
            occ[" ".join(ts[i : i + k])] += 1
    for d in list(texts)[:100]:
        ts = toks[d]
        dup_pos = [
            i + 1
            for i in range(len(ts) - k + 1)
            if occ[" ".join(ts[i : i + k])] > 1
        ]
        spans = []
        for p in dup_pos:
            if spans and p - spans[-1][1] <= k:
                spans[-1][1] = p
                spans[-1][2] += 1
            else:
                spans.append([p, p, 1])
        g = got[d]
        assert g["n_tok"] == len(ts)
        assert g["n_dup_pos"] == sum(s[2] for s in spans)
        assert g["n_spans"] == len(spans)
        assert g["dup_tokens"] == sum(s[1] - s[0] + k for s in spans)


# -- quality classifier -----------------------------------------------------


def _score_py(s: str) -> int:
    ts = [w for w in s.split(" ") if w]
    sc = text.QC_BIAS
    for w in ts:
        sc += text.QC_WEIGHTS[_h60(w) % text.QC_BUCKETS]
    for a, b in zip(ts, ts[1:]):
        sc += text.QC_WEIGHTS[_h60(f"{a} {b}") % text.QC_BUCKETS]
    return sc


def test_quality_classifier_python_replica(spark, sf_dir):
    """Bit-exact agreement with a pure-Python replica of the hashed
    unigram+bigram linear model on real corpus docs."""
    docs = t(spark, sf_dir, "documents").limit(50)
    got = {r["doc_id"]: r for r in text.quality_classifier_score(docs).collect()}
    for r in docs.collect():
        exp = _score_py(r["text"])
        assert got[r["doc_id"]]["score_micro"] == exp
        assert got[r["doc_id"]]["keep"] == (exp > 0)


def test_quality_classifier_edge_docs(spark):
    """Empty doc scores exactly the bias; a 1-token doc adds exactly
    one unigram weight (no bigram term); a NULL doc scores like the
    empty doc (n_tok=0, score=bias, keep=bias>0) rather than yielding
    n_tok=-1 and NULL score/keep (round-5 advice: matches the DuckDB
    oracle's coalesce semantics)."""
    docs = _mkdocs(spark, ["", "hello", None])
    rows = {r["doc_id"]: r for r in text.quality_classifier_score(docs).collect()}
    assert rows[0]["score_micro"] == text.QC_BIAS and rows[0]["n_tok"] == 0
    w = text.QC_WEIGHTS[_h60("hello") % text.QC_BUCKETS]
    assert rows[1]["score_micro"] == text.QC_BIAS + w
    assert rows[2]["n_tok"] == 0
    assert rows[2]["score_micro"] == text.QC_BIAS
    assert rows[2]["keep"] is False


def test_quality_classifier_custom_weights(spark):
    """Weights are a parameter (trained weights swap in as literals):
    an all-positive weight vector keeps everything."""
    docs = _mkdocs(spark, ["x y z", "a"])
    rows = text.quality_classifier_score(
        docs, weights=[1_000_000] * text.QC_BUCKETS, bias=0
    ).collect()
    assert all(r["keep"] for r in rows)
    # 3 tokens → 3 unigrams + 2 bigrams = 5 features
    by = {r["doc_id"]: r["score_micro"] for r in rows}
    assert by[0] == 5_000_000 and by[1] == 1_000_000


# -- epoch shuffle ----------------------------------------------------------


def test_epoch_shuffle_is_a_permutation(spark, sf_dir):
    """shuffle_pos is a bijection onto 0..N-1; shards are contiguous
    ranges of the permutation with sizes within ±1 of N/n_shards."""
    docs = t(spark, sf_dir, "documents")
    n = docs.count()
    rows = corpus.epoch_shuffle(docs, seed=1, n_shards=7).collect()
    poss = sorted(r["shuffle_pos"] for r in rows)
    assert poss == list(range(n))
    sizes = {}
    for r in rows:
        sizes[r["shard_id"]] = sizes.get(r["shard_id"], 0) + 1
    assert set(sizes) == set(range(7))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # contiguity: shard_id is monotone in shuffle_pos
    by_pos = sorted(rows, key=lambda r: r["shuffle_pos"])
    assert [r["shard_id"] for r in by_pos] == sorted(r["shard_id"] for r in rows)


def test_epoch_shuffle_deterministic_and_seed_sensitive(spark, sf_dir):
    """Same seed → identical permutation on recompute (retry-safe,
    unlike orderBy(rand)); different seed → a different order."""
    docs = t(spark, sf_dir, "documents").limit(200)
    a1 = {r["doc_id"]: r["shuffle_pos"] for r in corpus.epoch_shuffle(docs, seed=5).collect()}
    a2 = {r["doc_id"]: r["shuffle_pos"] for r in corpus.epoch_shuffle(docs, seed=5).collect()}
    b = {r["doc_id"]: r["shuffle_pos"] for r in corpus.epoch_shuffle(docs, seed=6).collect()}
    assert a1 == a2
    assert a1 != b


def test_epoch_shuffle_matches_global_sort_order(spark, sf_dir):
    """The bucket-major two-phase rank equals the straightforward
    global order (bucket, key, doc_id) — the scale-path construction
    changes the plan, not the permutation."""
    docs = t(spark, sf_dir, "documents").limit(300)
    got = {r["doc_id"]: r["shuffle_pos"] for r in corpus.epoch_shuffle(docs, seed=2).collect()}
    keys = {
        r["doc_id"]: _h60("2\x1f" + str(r["doc_id"]))
        for r in docs.select("doc_id").collect()
    }
    expect = {
        d: i
        for i, d in enumerate(
            sorted(keys, key=lambda d: (keys[d] % corpus.SHUFFLE_BUCKETS, keys[d], d))
        )
    }
    assert got == expect


# --- cross-corpus near-duplicate decontamination ---------------------------


def test_decontaminate_neardup_flags_paraphrase(spark):
    """A training doc that lightly paraphrases a benchmark doc (high
    but not total shingle overlap) is flagged; an unrelated doc and an
    exact copy both get the expected verdicts."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    para = base.replace("today", "tonight")  # drops only trailing shingles
    other = "completely different content about spark physical plans and shuffles etc"
    bench = spark.createDataFrame([(100, base)], "doc_id bigint, text string")
    train = spark.createDataFrame(
        [(1, base), (2, para), (3, other)], "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: r
        for r in corpus.decontaminate_neardup(train, bench, n=3, threshold=0.2).collect()
    }
    assert got[1]["is_contaminated"] == 1 and got[1]["best_jaccard"] == 1.0
    assert got[2]["is_contaminated"] == 1 and 0.2 <= got[2]["best_jaccard"] < 1.0
    assert got[3]["is_contaminated"] == 0 and got[3]["n_bench_matches"] == 0


def test_decontaminate_neardup_python_replica(spark):
    """best_jaccard / flags agree with a brute-force Python replica
    over a tiny two-letter-alphabet corpus where near-dups abound —
    LSH with 16 bands of 4 catches everything at j >= ~0.6, so
    restrict the assertion to pairs the bands provably emit (a shared
    full band => identical minhash quadruple => candidate)."""
    import itertools
    import random as _random

    rng = _random.Random(7)
    mk = lambda: " ".join(rng.choice("ab") for _ in range(12))  # noqa: E731
    bench_docs = {100 + i: mk() for i in range(3)}
    train_docs = {i: mk() for i in range(8)}

    def sh(s):
        ts = s.split()
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    got = {
        r["doc_id"]: r
        for r in corpus.decontaminate_neardup(
            spark.createDataFrame(list(train_docs.items()), "doc_id bigint, text string"),
            spark.createDataFrame(list(bench_docs.items()), "doc_id bigint, text string"),
            n=3,
            threshold=0.2,
        ).collect()
    }
    for d, text_ in train_docs.items():
        js = [
            len(sh(text_) & sh(b)) / len(sh(text_) | sh(b))
            for b in bench_docs.values()
            if sh(text_) & sh(b)
        ]
        # identical doc => identical signature => certain candidate
        if any(j == 1.0 for j in js):
            assert got[d]["best_jaccard"] == 1.0
        # flagged docs must really clear the threshold
        if got[d]["is_contaminated"]:
            assert got[d]["best_jaccard"] >= 0.2
            assert any(abs(j - got[d]["best_jaccard"]) < 1e-5 or j >= got[d]["best_jaccard"] for j in js)


# --- BM25 keyword retrieval ------------------------------------------------


def test_bm25_matches_python_replica(spark, sf_dir):
    """bm25_topk vs an independent Python BM25 (Lucene formula) over
    the real documents table: identical ranking, scores to 5 dp."""
    import math

    from impala_cut_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    terms = ["hash", "join", "stream"]
    got = bm25_topk(docs, terms, k=15).collect()

    corpus = {r["doc_id"]: [w for w in r["text"].split(" ") if w] for r in docs.collect()}
    n = len(corpus)
    sum_dl = sum(len(v) for v in corpus.values())
    df = {t: sum(1 for v in corpus.values() if t in v) for t in terms}
    k1, b = 1.2, 0.75

    def score(doc):
        toks = corpus[doc]
        s = 0.0
        m = 0
        for t in terms:
            tf = toks.count(t)
            if not tf:
                continue
            m += 1
            idf = round(math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5)), 6)
            norm = len(toks) * n / sum_dl
            s += round(idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * norm)), 6)
        return round(s, 6), m

    exp = sorted(
        ((d,) + score(d) for d in corpus if score(d)[1] > 0),
        key=lambda x: (-x[1], x[0]),
    )[:15]
    assert [(r["doc_id"], r["n_terms_matched"]) for r in got] == [
        (d, m) for d, s, m in exp
    ]
    for r, (d, s, m) in zip(got, exp):
        assert abs(r["score"] - s) < 1e-5, (r, s)


def test_bm25_ranks_term_dense_docs_first(spark):
    """Calibration: a short doc stuffed with the query term outranks a
    long doc mentioning it once; a doc without the term is absent."""
    from impala_cut_spark.operators.retrieval import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "join join join join"),
            (2, "the quick brown fox mentions join once in a long long long text"),
            (3, "nothing relevant here at all"),
        ],
        "doc_id bigint, text string",
    )
    got = bm25_topk(df, ["join"], k=10).collect()
    assert [r["doc_id"] for r in got] == [1, 2]
    assert got[0]["score"] > got[1]["score"] > 0


def test_bm25_repeated_term_scores_and_counts_once(spark):
    """A term given twice is one query term: same scores, and
    n_terms_matched counts it once."""
    from impala_cut_spark.operators.retrieval import bm25_topk

    df = spark.createDataFrame(
        [(1, "join join hash"), (2, "join once"), (3, "hash only")],
        "doc_id bigint, text string",
    )
    once = bm25_topk(df, ["join", "hash"], k=10).collect()
    got = bm25_topk(df, ["join", "hash", "join"], k=10).collect()
    assert got == once
    assert [r["n_terms_matched"] for r in got] == [2, 1, 1]


def test_rrf_fuse_semantics(spark):
    """rrf_fuse: overlap sums both arms, single-arm docs get one term,
    ordering is (rrf desc, doc_id)."""
    from impala_cut_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "doc_id bigint, rank int")
    den = spark.createDataFrame([(20, 1), (40, 2)], "doc_id bigint, rank int")
    got = rrf_fuse(lex, den, c=60, k=10).collect()
    by_id = {r["doc_id"]: r for r in got}
    assert by_id[20]["rrf"] == 1.0 / 62 + 1.0 / 61
    assert by_id[10]["rrf"] == 1.0 / 61 and by_id[10]["rank_dense"] is None
    assert by_id[40]["rrf"] == 1.0 / 62 and by_id[40]["rank_lex"] is None
    assert [r["doc_id"] for r in got] == [20, 10, 40, 30]


def test_mmr_diversifies_near_duplicate_candidates(spark):
    """MMR with λ=0.5 demotes a near-copy of the first pick: given a
    candidate set where the top-2 by relevance are near-identical
    vectors, step 2 selects the diverse lower-relevance candidate
    instead."""
    from impala_cut_spark.operators.retrieval import mmr_rerank

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),      # the query
            (1, [0.99, 0.14, 0.0]),    # most relevant
            (2, [0.985, 0.17, 0.0]),   # near-copy of 1
            (3, [0.7, 0.0, 0.71]),     # diverse, less relevant
        ],
        "vec_id bigint, embedding array<double>",
    )

    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))), 6)

    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    cands = spark.createDataFrame(
        [(0, i, cos(vecs[0], vecs[i])) for i in (1, 2, 3)],
        "q_id bigint, n_id bigint, cos double",
    )
    got = mmr_rerank(cands, emb, k=3, lam=0.5).orderBy("step").collect()
    assert [r["n_id"] for r in got] == [1, 3, 2], got
    # pure relevance order would have been [1, 2, 3]


def test_mmr_lambda_one_is_pure_relevance(spark, sf_dir):
    """λ=1 removes the diversity penalty: selection order equals the
    relevance (cos desc, n_id) order of the candidates."""
    from pyspark.sql import functions as F

    from impala_cut_spark.operators.retrieval import mmr_rerank
    from impala_cut_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cands = brute_force_topk(emb, emb.filter(F.col("vec_id") == 3), k=8).select(
        "q_id", "n_id", "cos"
    )
    expected = [r["n_id"] for r in cands.orderBy(F.desc("cos"), F.asc("n_id")).collect()][:4]
    got = mmr_rerank(cands, emb, k=4, lam=1.0).orderBy("step").collect()
    assert [r["n_id"] for r in got] == expected


# -- exact heavy hitters (Misra-Gries + exact re-count) ---------------------


def _exact_frequent(spark, docs, n, floor_df, phi):
    """Plain GROUP BY/HAVING reference answer."""
    import math

    sh = dedup.shingles(docs, n)
    total = sh.count()
    m = max(floor_df, math.ceil(phi * total))
    return sorted(
        (r["shingle"], r["df"])
        for r in sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= m)
        .collect()
    )


def test_frequent_ngrams_equals_exact_groupby(spark):
    """Sketch-then-verify == plain GROUP BY/HAVING on a skewed corpus
    with k FAR below the vocabulary (phi=0.05 → k=21, ~200 distinct
    shingles), so Misra-Gries decrements really fire and the
    candidate-superset guarantee is what's being exercised."""
    texts = []
    # boilerplate header shared by many docs (the heavy hitters)
    for i in range(40):
        texts.append(f"terms of service apply here unique{i} tail{i} w{i % 7}")
    # long-tail docs: all-distinct shingles
    for i in range(60):
        texts.append(f"body {i} alpha{i} beta{i} gamma{i} delta{i} eps{i}")
    docs = _mkdocs(spark, texts)
    got = sorted(
        (r["shingle"], r["df"])
        for r in corpus.frequent_ngrams(docs, n=3, phi=0.05, floor_df=3).collect()
    )
    assert got == _exact_frequent(spark, docs, 3, 3, 0.05)
    assert got  # non-trivial: the boilerplate shingles must surface


def test_frequent_ngrams_partitioning_independent(spark):
    """The intermediate summaries depend on partition layout; the
    final answer must not — run the same corpus through 1, 3, and 13
    partitions and require identical results."""
    texts = [f"shared prefix run doc{i} x{i % 5} y{i % 3}" for i in range(50)]
    outs = []
    for parts in (1, 3, 13):
        docs = _mkdocs(spark, texts).repartition(parts)
        outs.append(
            sorted(
                (r["shingle"], r["df"], r["frac"])
                for r in corpus.frequent_ngrams(
                    docs, n=3, phi=0.02, floor_df=2
                ).collect()
            )
        )
    assert outs[0] == outs[1] == outs[2]


def test_misra_gries_candidate_superset_and_bounds(spark):
    """Every item with global count > total/k must appear in the
    candidate union, candidate counts are lower bounds, and each
    partition emits ≤ k+1 rows (k counters + the null total row)."""
    import pandas as pd

    rows = (
        [("hot",)] * 300
        + [("warm",)] * 80
        + [(f"cold{i}",) for i in range(400)]
    )
    stream = spark.createDataFrame(rows, "shingle string").repartition(4)
    k = 10
    out = corpus.misra_gries_candidates(stream, "shingle", k).toPandas()
    totals = out[out["shingle"].isna()]
    cands = out[out["shingle"].notna()]
    assert int(totals["cnt"].sum()) == len(rows)
    # ≤ k candidate rows per partition: 4 partitions → ≤ 4k + 4 rows
    assert len(cands) <= 4 * k and len(totals) <= 4
    truth = pd.Series([r[0] for r in rows]).value_counts()
    for item, cnt in truth.items():
        if cnt > len(rows) / k:
            assert item in set(cands["shingle"]), f"missed heavy hitter {item}"
    # lower-bound property per partition implies summed lower bound
    lb = cands.groupby("shingle")["cnt"].sum()
    for item, c in lb.items():
        assert c <= truth.get(item, 0)


# -- round-6: gopher rules / budget select / ppl terciles -------------------


def test_gopher_rules_bits(spark):
    """Each rule bit flips on its published boundary: word-count
    bounds, mean word length, symbol ratio, alpha-word ratio,
    distinct-stopword floor."""
    good = "the and " + " ".join(f"word{i:03d}" for i in range(60))
    few = "the and tiny doc"
    symbols = "the and " + " ".join("###" for _ in range(60))
    numeric = "the and " + " ".join(str(i) * 4 for i in range(60))
    nostop = " ".join(f"word{i:03d}" for i in range(60))
    docs = _mkdocs(spark, [good, few, symbols, numeric, nostop, None])
    g = text.gopher_rules(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in docs.select("doc_id", *[v.alias(k) for k, v in g.items()]).collect()
    }
    assert rows[0]["keep"] is True
    assert rows[1]["r_word_count"] is False and rows[1]["keep"] is False
    assert rows[2]["r_symbol"] is False  # '###' per word > 0.1
    assert rows[3]["r_alpha"] is False  # digit-only words
    assert rows[4]["r_stop"] is False
    assert rows[5]["n_words"] == 0 and rows[5]["keep"] is False  # NULL text


def test_budget_select_greedy_prefix(spark):
    """budget_select equals the naive global greedy: descending score,
    running token sum, admit while the pre-doc total is under budget —
    and the banded two-phase never globally sorts."""
    import random as _r

    rng = _r.Random(7)
    rows = [(i, rng.randrange(5, 40), round(rng.random(), 6)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tok bigint, score double")
    got = {
        r["doc_id"]: r for r in corpus.budget_select(df, budget_tokens=900).collect()
    }
    acc, expect = 0, {}
    for doc, w, s in sorted(rows, key=lambda x: (-x[2], x[0])):
        if acc < 900:
            acc += w
            expect[doc] = acc
        else:
            break
    assert set(got) == set(expect)
    for doc, cum in expect.items():
        assert got[doc]["cum_tokens"] == cum


def test_ppl_buckets_partition_and_sizing(spark, sf_dir):
    """Terciles are per-language, sized by the closed-form floor
    division, and ordered: every head doc's avg_nll <= every tail
    doc's within the same language."""
    docs = t(spark, sf_dir, "documents")
    out = text.ppl_buckets(docs).collect()
    from collections import defaultdict

    by_lang = defaultdict(list)
    for r in out:
        by_lang[r["lang"]].append(r)
    assert len(out) == docs.count()
    for lang, rows in by_lang.items():
        n = len(rows)
        sizes = {1: 0, 2: 0, 3: 0}
        for r in rows:
            sizes[r["bucket"]] += 1
        expect = {b: sum(1 for k in range(n) if k * 3 // n + 1 == b) for b in (1, 2, 3)}
        assert sizes == expect, lang
        heads = [r["avg_nll"] for r in rows if r["label"] == "head"]
        tails = [r["avg_nll"] for r in rows if r["label"] == "tail"]
        assert max(heads) <= min(tails)
