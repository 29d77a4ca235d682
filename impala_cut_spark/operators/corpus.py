"""Corpus-management operators: deterministic splits, stratified
sampling, and exact distribution statistics over the ``documents``
table — the bookkeeping half of a training-data pipeline (the heavy
transforms live in dedup.py / similarity.py / text.py).

Everything here is a pure DataFrame composition over cross-engine
primitives (md5-derived integer hashing, linear-interpolation
percentiles), so every operator is DuckDB-oracle-checkable.

Reference parity: the reference has no corpus surface (pure SQL MPP,
SURVEY.md §2) — this is the training-pipeline extension.

Scale notes: split/sample are stateless narrow maps (no shuffle — the
assignment is a hash of the row itself, so it is reproducible under
retries, repartitioning, and incremental re-runs, unlike
``df.randomSplit``/``df.sample`` whose results depend on partition
layout and seed plumbing); quantiles are one exact-percentile
aggregation (single shuffle; at 100 TB swap in approx_percentile and
keep the exact form as the small-SF oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from impala_cut_spark.operators.dedup import md5_hash60

#: resolution of the split/sample buckets: fractions are expressed in
#: basis points (1/10_000), exact in both engines.
BUCKETS = 10_000


def split_bucket(key: Column) -> Column:
    """Deterministic bucket in [0, BUCKETS): md5-derived 60-bit hash of
    the key, mod BUCKETS. Identical in DuckDB (see md5_hash60)."""
    return md5_hash60(key) % BUCKETS


def hash_split(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    key: str = "doc_id",
) -> DataFrame:
    """Assign every row a deterministic train/val/test split.

    The split is a pure function of the row key — re-running on a
    grown corpus never reassigns an existing row (the property that
    makes hash splits the standard over random splits for training
    pipelines: no test-set leakage across incremental builds).
    """
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    bucket = split_bucket(F.col(key).cast("string"))
    expr: Column | None = None
    cum = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        cum += w
        cond = bucket < int(round(cum * BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return docs.withColumn("split", expr)


def stratified_sample(
    docs: DataFrame, fraction: float, strata: str = "lang", key: str = "doc_id"
) -> DataFrame:
    """Deterministic ~fraction sample WITHIN each stratum.

    The bucket hash mixes the stratum value with the key (joined with
    a ``|`` separator so ``('ab','c')`` and ``('a','bc')`` hash
    differently), so the same doc_id draws independently across strata
    definitions, and each stratum is sampled at the same rate
    regardless of its size (what plain hash-sampling of the key gives
    globally but not per-group when strata correlate with the key).
    """
    bucket = split_bucket(F.concat_ws("|", F.col(strata), F.col(key).cast("string")))
    return docs.filter(bucket < int(round(fraction * BUCKETS)))


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata: str = "source",
    key: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic weighted data-mixture sampling: each stratum is
    downsampled at its OWN rate — how a pretraining mix is built
    (e.g. keep 100% of curated sources, 10% of crawl).

    Same md5-bucket machinery as stratified_sample (reproducible under
    retries/repartitioning/incremental growth), but with a per-stratum
    threshold selected by a CASE over the stratum value. Pure
    pushed-down filter — no shuffle, no Python."""
    bucket = split_bucket(F.concat_ws("|", F.col(strata), F.col(key).cast("string")))
    thr: Column | None = None
    for name, rate in rates.items():
        cond = F.col(strata) == name
        lim = int(round(rate * BUCKETS))
        thr = F.when(cond, lim) if thr is None else thr.when(cond, lim)
    thr = F.lit(int(round(default_rate * BUCKETS))) if thr is None else thr.otherwise(
        int(round(default_rate * BUCKETS))
    )
    return docs.filter(bucket < thr)


def chunk_documents(
    docs: DataFrame,
    size: int = 200,
    stride: int = 150,
    text_col: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-width character windows with
    overlap (stride < size) — the context-window chunking step of a
    RAG/pretraining pipeline, at character granularity.

    Pure sequence+posexplode+substr composition: a narrow map followed
    by the explode (rows fan out ~len/stride×, no shuffle). chunk_id is
    the 0-based window ordinal; the last window may be shorter than
    ``size``. Deterministic → oracle-checkable (DuckDB replays it with
    range()+substr)."""
    starts = F.sequence(
        F.lit(0), F.greatest(F.length(F.col(text_col)) - 1, F.lit(0)), F.lit(stride)
    )
    exploded = docs.select(
        F.col(key), F.col(text_col).alias("_txt"), F.posexplode(starts).alias("chunk_id", "chunk_start")
    )
    chunk = F.col("_txt").substr(F.col("chunk_start") + 1, F.lit(size))
    return exploded.select(
        key,
        "chunk_id",
        "chunk_start",
        chunk.alias("chunk_text"),
        F.length(chunk).alias("chunk_len"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_overlap: int = 5,
) -> DataFrame:
    """Flag training documents that share ≥ ``min_overlap`` distinct
    n-gram shingles with ANY benchmark/eval document — the test-set
    decontamination pass every serious pretraining corpus runs (the
    n-gram-overlap method of the GPT-3/PaLM appendix descriptions,
    public literature).

    Plan: the benchmark shingle set is DISTINCT-ed and broadcast (eval
    suites are tiny vs a 100 TB corpus — this is the designed
    asymmetry); corpus shingles inner-join it map-side, one groupBy on
    doc_id counts matches, then a broadcast-able left join flags every
    corpus doc. No shuffle touches full documents — only (doc_id,
    shingle) pairs that actually hit the benchmark set."""
    from impala_cut_spark.operators.dedup import shingles

    bench_sh = shingles(benchmark, n).select("shingle").distinct()
    doc_sh = shingles(docs, n)
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    sizes = doc_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) >= min_overlap)
            .cast("int")
            .alias("is_contaminated"),
        )
    )


def top_ngrams(docs: DataFrame, n: int = 3, k: int = 25) -> DataFrame:
    """Top-k n-gram shingles by document frequency (heavy hitters) —
    the corpus-level boilerplate detector (navigation chrome, license
    headers and template text surface here first).

    One shuffle (groupBy shingle, partial counts map-side) + a
    TakeOrderedAndProject top-k; ties broken by shingle text so the
    result is total-ordered and oracle-checkable. At 100 TB swap the
    exact count for a count-min/approx top-k; this exact form stays
    the oracle."""
    from impala_cut_spark.operators.dedup import shingles

    return (
        shingles(docs, n)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("shingle"))
        .limit(k)
    )


def misra_gries_candidates(stream: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries frequency summaries over a 1-column
    string stream — the bounded-memory candidate pass of the exact
    heavy-hitters operator (frequent_ngrams below).

    Each task folds its whole partition into at most ``k`` counters
    (Arrow batches counted with vectorized ``value_counts``; the
    classic decrement step — subtract the (k+1)-th largest count,
    drop non-positives — runs over the ≤k+batch unique keys, never
    per element).  Misra-Gries guarantee per partition i: any item x
    absent from the summary has local count f_i(x) ≤ N_i/(k+1), so an
    item with GLOBAL count > N/(k+1) must survive in at least one
    partition's summary (sum the bound over partitions) — the union
    of summaries is a proven superset of every global heavy hitter
    [Misra & Gries 1982; mergeable-summaries form: Agarwal et al.,
    PODS 2012].

    Output: (col, cnt) candidate rows with lower-bound counts, plus
    ONE null-keyed row per partition carrying the partition's stream
    length — so callers get the global stream total from the same
    single scan. ≤ (k+1) output rows per partition regardless of
    input size.
    """
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(col, T.StringType()),
            T.StructField("cnt", T.LongType()),
        ]
    )

    def _mg(batches):
        import pandas as pd

        counters = pd.Series(dtype="int64")
        n_seen = 0
        for pdf in batches:
            vc = pdf[col].value_counts()
            n_seen += int(vc.sum())
            counters = counters.add(vc, fill_value=0)
            if len(counters) > k:
                thr = counters.nlargest(k + 1).iloc[-1]
                counters = counters[counters > thr] - thr
        yield pd.DataFrame(
            {
                col: list(counters.index.astype(object)) + [None],
                "cnt": list(counters.values.astype("int64")) + [n_seen],
            }
        )

    return stream.select(col).mapInPandas(_mg, out_schema)


def frequent_ngrams(
    docs: DataFrame, n: int = 3, phi: float = 1e-4, floor_df: int = 5
) -> DataFrame:
    """EXACT frequent n-gram shingles (document frequency ≥
    max(floor_df, ⌈phi·total⌉)) via the two-pass sketch-then-verify
    pattern — the scalable form of a GROUP BY/HAVING frequency cut.

    Pass 1 (misra_gries_candidates, k = ⌈1/phi⌉+1 counters): one scan,
    NO shuffle of the raw stream — each task emits ≤ k+1 summary rows.
    Pass 2 re-counts ONLY the candidates exactly (broadcast semi-join
    on the candidate set, then a map-side-combined groupBy) and
    filters at the threshold, so the answer equals the plain GROUP
    BY/HAVING the DuckDB oracle runs, at bounded memory and with the
    full-stream shuffle replaced by a candidates-only one.

    Threshold guarantee (why no heavy hitter can be missed): with
    m = max(floor_df, ⌈phi·total⌉) and k > 1/phi, either m = ⌈phi·total⌉
    ≥ phi·total > total/k, or m = floor_df > ⌈phi·total⌉ which forces
    total < floor_df/phi ≤ floor_df·k — both give m > total/k, and
    every item with global count > total/k survives pass 1 (see
    misra_gries_candidates). The result is therefore deterministic and
    partitioning-independent even though the intermediate summaries
    are not.

    Output: (shingle, df, frac) ordered by df DESC, shingle — the
    corpus boilerplate/template-text report at a support threshold,
    the form that stays exact when top_ngrams' full groupBy
    intermediate would not fit.
    """
    import math

    from pyspark.storagelevel import StorageLevel

    from impala_cut_spark.operators.dedup import shingles

    k = int(math.ceil(1.0 / phi)) + 1
    sh = shingles(docs, n).persist(StorageLevel.MEMORY_AND_DISK)
    mg = misra_gries_candidates(sh, "shingle", k).persist(StorageLevel.MEMORY_AND_DISK)
    cands = mg.filter(F.col("shingle").isNotNull()).select("shingle").distinct()
    total = mg.filter(F.col("shingle").isNull()).agg(F.sum("cnt").alias("_total"))
    counts = (
        sh.join(F.broadcast(cands), "shingle")
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    thr = F.greatest(
        F.lit(floor_df).cast("long"), F.ceil(F.lit(phi) * F.col("_total"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("df") >= thr)
        .select(
            "shingle",
            "df",
            F.round(F.col("df").cast("double") / F.col("_total").cast("double"), 6).alias(
                "frac"
            ),
        )
        .orderBy(F.desc("df"), F.asc("shingle"))
    )


def distribution_stats_approx(
    docs: DataFrame,
    value: Column,
    by: str = "lang",
    percentiles: list[float] | None = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """The 100 TB form of distribution_stats: approx_percentile
    (Greenwald-Khanna sketch — mergeable, bounded memory per group,
    rank error ≤ 1/accuracy) instead of the exact percentile's full
    sort-per-group. Same output shape; sketch values are
    engine-specific → rows-only registry check + a tolerance test vs
    the exact form (tests/test_pipeline2_ops.py)."""
    ps = percentiles or [0.25, 0.5, 0.75, 0.95]
    v = value.alias("_v")
    aggs = [
        F.count(F.col("_v")).alias("n"),
        F.round(F.avg("_v"), 6).alias("mean"),
    ] + [
        F.round(F.expr(f"approx_percentile(_v, {p}, {accuracy})").cast("double"), 6).alias(
            f"p{int(p * 100)}"
        )
        for p in ps
    ]
    return docs.select(F.col(by), v).groupBy(by).agg(*aggs)


def distribution_stats(
    docs: DataFrame, value: Column, by: str = "lang", percentiles: list[float] | None = None
) -> DataFrame:
    """Exact per-group distribution stats of ``value``: count, mean,
    and linear-interpolation percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont`` — both implement the classic R-7/linear
    rule, verified by the pipe_corpus_stats oracle).
    """
    ps = percentiles or [0.25, 0.5, 0.75, 0.95]
    v = value.alias("_v")
    aggs = [
        F.count(F.col("_v")).alias("n"),
        F.round(F.avg("_v"), 6).alias("mean"),
    ] + [
        F.round(F.expr(f"percentile(_v, {p})"), 6).alias(f"p{int(p * 100)}")
        for p in ps
    ]
    return docs.select(F.col(by), v).groupBy(by).agg(*aggs)


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_overlap: int = 5,
    n_bits: int = 1 << 17,
    n_hashes: int = 5,
) -> DataFrame:
    """decontaminate() with a Bloom-filter pre-filter on the corpus
    shingle stream — IDENTICAL output (a Bloom filter has no false
    negatives, and survivors still pass the exact join), cheaper data
    movement.

    Why it matters at 100 TB: plain decontaminate broadcasts the full
    DISTINCT benchmark shingle set; when the eval battery grows to
    many GB of shingles, the broadcast (and the per-row hash probe
    against a huge map) dominates.  The Bloom bitmap is ``n_bits/8``
    bytes (16 KB at the default) regardless of benchmark size —
    corpus shingles that fail it (the overwhelming majority) never
    reach the exact join.  False positives only cost a second look:
    the exact join keeps the result exact.

    Engineering notes: the bitmap is built with Spark's OWN xxhash64
    over the benchmark shingles (one bounded collect of bit
    positions), so probe and build sides share the hash by
    construction; membership is tested JVM-side (shiftrightunsigned +
    bitwiseAND on a literal long array — no Python in the per-shingle
    path).
    """
    from impala_cut_spark.operators.dedup import shingles

    bench_sh = shingles(benchmark, n).select("shingle").distinct()
    pos_cols = [
        F.pmod(F.xxhash64(F.col("shingle"), F.lit(i)), F.lit(n_bits)).alias(f"p{i}")
        for i in range(n_hashes)
    ]
    positions: set[int] = set()
    for r in bench_sh.select(*pos_cols).collect():
        positions.update(int(p) for p in r)
    words = [0] * (n_bits // 64)
    for p in positions:
        words[p // 64] |= 1 << (p % 64)
    # LongType literals are signed
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    bloom = F.array(*[F.lit(w) for w in words])

    doc_sh = shingles(docs, n).withColumn("_bloom", bloom)

    def bit_set(i: int):
        h = F.pmod(F.xxhash64(F.col("shingle"), F.lit(i)), F.lit(n_bits))
        word = F.element_at(F.col("_bloom"), F.shiftright(h, 6).cast("int") + 1)
        return F.bit_get(word, F.pmod(h, F.lit(64)).cast("int")) == 1

    passed = doc_sh.filter(
        reduce_and([bit_set(i) for i in range(n_hashes)])
    ).drop("_bloom")
    hits = (
        passed.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    sizes = (
        shingles(docs, n).groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
        (F.coalesce(F.col("n_overlap"), F.lit(0)) >= min_overlap)
        .cast("int")
        .alias("is_contaminated"),
    )


def reduce_and(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def decontaminate_neardup(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Near-duplicate test-set decontamination: flag training docs
    whose n-gram Jaccard similarity to ANY benchmark/eval doc reaches
    ``threshold`` — the fuzzy complement of :func:`decontaminate`
    (exact shingle overlap misses light paraphrases and whitespace /
    punctuation edits; MinHash similarity does not).

    Plan: both sides get fused (shingle-set + 64 md5-affine minhash)
    per-doc tables (one groupBy each, the minhash_dedup_pairs shape);
    banded LSH keys come from dedup.band_bucket_keys. The benchmark's
    band table AND shingle sets are broadcast — the designed asymmetry
    (eval suites are tiny vs a 100 TB corpus) — so candidate probing
    is a map-side hash join on the corpus band stream, candidates are
    distinct (doc, bench) pairs, and only candidate docs ever reach
    the exact-Jaccard verify. No corpus self-join anywhere: cost is
    O(corpus) + O(candidates), not O(corpus²).

    Output per corpus doc (docs with ≥ n tokens): best_jaccard across
    candidate benchmark docs (rounded to 6 dp — the cross-engine
    float-determinism trick every minhash oracle here uses),
    n_bench_matches at the threshold, and the contamination flag.
    Fully DuckDB-replayable (md5-affine family + md5-60bit band keys).
    """
    from pyspark import StorageLevel

    from impala_cut_spark.operators.dedup import (
        NUM_HASHES,
        _minhash_pre_aggs,
        band_bucket_keys,
        minhash_set_col,
        shingles,
    )

    def per_doc_tbl(df: DataFrame) -> DataFrame:
        sh = shingles(df, n)
        pre, aggs = _minhash_pre_aggs(sh, NUM_HASHES, "md5_affine")
        return pre.groupBy("doc_id").agg(
            # 60-bit hashes, not strings, in the verify doc sets — the
            # oracle replays the same hash (dedup.minhash_set_col)
            F.collect_set(minhash_set_col("md5_affine")).alias("shset"),
            *aggs,
        )

    train = per_doc_tbl(docs).persist(StorageLevel.MEMORY_AND_DISK)
    bench = per_doc_tbl(benchmark).persist(StorageLevel.MEMORY_AND_DISK)

    tb = band_bucket_keys(train, band_key="md5").select("doc_id", "bucket")
    bb = band_bucket_keys(bench, band_key="md5").select(
        F.col("doc_id").alias("bench_id"), "bucket"
    )
    cands = tb.join(F.broadcast(bb), "bucket").select("doc_id", "bench_id").distinct()

    pairs = cands.join(train.select("doc_id", F.col("shset").alias("sa")), "doc_id").join(
        F.broadcast(
            bench.select(F.col("doc_id").alias("bench_id"), F.col("shset").alias("sb"))
        ),
        "bench_id",
    )
    ni = F.size(F.array_intersect("sa", "sb"))
    j = F.round(
        ni.cast("double") / (F.size("sa") + F.size("sb") - ni).cast("double"), 6
    )
    scored = pairs.select("doc_id", j.alias("jaccard"))
    per_doc = scored.groupBy("doc_id").agg(
        F.max("jaccard").alias("best_jaccard"),
        F.sum((F.col("jaccard") >= threshold).cast("int")).alias("n_bench_matches"),
    )
    base = train.select("doc_id", F.size("shset").alias("n_shingles"))
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_bench_matches", F.lit(0)).alias("n_bench_matches"),
        F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
        (F.coalesce("n_bench_matches", F.lit(0)) > 0)
        .cast("int")
        .alias("is_contaminated"),
    )


# ---------------------------------------------------------------------------
# deterministic epoch shuffle + shard assignment
# ---------------------------------------------------------------------------

#: shuffle buckets — the parallelism unit of the permutation (each
#: bucket ranks its own rows; at 100 TB set ≈ number of final shards)
SHUFFLE_BUCKETS = 64


def epoch_shuffle(
    docs: DataFrame,
    seed: int = 0,
    n_shards: int = 10,
    buckets: int = SHUFFLE_BUCKETS,
) -> DataFrame:
    """Deterministic global training-order shuffle + contiguous shard
    assignment — the "shuffle the corpus each epoch, write N shards"
    step of a training-data pipeline, reproducible under retries
    (pure function of (seed, doc_id), unlike orderBy(rand())).

    Permutation: key = md5-60bit(seed·doc_id); global order is
    (key mod buckets, key, doc_id) — bucket-major BY DESIGN, so rank
    computation parallelizes: each bucket ranks only its own rows
    (window partitioned by bucket), and bucket rank offsets come from
    one tiny counts aggregation (``buckets`` rows, collected and
    folded into a literal map). No global single-partition sort —
    the classic scale-killer of orderBy().rowNumber() — touches the
    data; within-bucket order is still hash-random, so the
    concatenated order is a uniform shuffle.

    shard_id = shuffle_pos * n_shards // N (contiguous equal-size
    ranges of the permutation). Epochs: vary ``seed``.
    """
    keyed = docs.select(
        "doc_id",
        md5_hash60(F.concat_ws("\x1f", F.lit(str(seed)), F.col("doc_id"))).alias("k"),
    ).withColumn("bkt", (F.col("k") % buckets).cast("int"))
    counts = {r["bkt"]: r["n"] for r in keyed.groupBy("bkt").count().withColumnRenamed("count", "n").collect()}
    total = sum(counts.values())
    offsets, acc = {}, 0
    for bkt in range(buckets):
        offsets[bkt] = acc
        acc += counts.get(bkt, 0)
    from pyspark.sql import Window

    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )[F.col("bkt")]
    rank = F.row_number().over(
        Window.partitionBy("bkt").orderBy("k", "doc_id")
    )
    ranked = keyed.select("doc_id", (off + rank - 1).cast("bigint").alias("shuffle_pos"))
    # exact integer floor-division (Spark `div` ≡ DuckDB `//`) — no
    # double rounding in the shard boundary even at 100 T rows
    return ranked.select(
        "doc_id",
        "shuffle_pos",
        F.expr(f"shuffle_pos * {int(n_shards)} div {max(int(total), 1)}")
        .cast("bigint")
        .alias("shard_id"),
    )


# ---------------------------------------------------------------------------
# token-budget corpus selection
# ---------------------------------------------------------------------------

BUDGET_BUCKETS = 64


def budget_select(
    scored: DataFrame,
    budget_tokens: int,
    score: str = "score",
    weight: str = "n_tok",
    key: str = "doc_id",
    buckets: int = BUDGET_BUCKETS,
) -> DataFrame:
    """Greedy token-budget corpus selection: admit documents in
    descending ``score`` order (ties by ``key``) while the running
    token total BEFORE each document is under ``budget_tokens`` — the
    "fill a 1T-token training budget with the best-scoring documents"
    step of a pretraining pipeline.

    Exact greedy semantics without a global sort (the epoch_shuffle
    trick): scores are clamped to [0,1] and quantized into
    ``buckets`` monotone score bands, so the global order
    (score DESC, key ASC) equals bucket-major order.  Per-band token
    totals are one tiny aggregation (≤ buckets+1 rows, collected and
    folded into a literal offset map); the running sum then needs only
    a WITHIN-band window — no single-partition orderBy().window()
    touches the data.  A document is admitted iff
    band_offset + within_band_running_sum − its_weight < budget.

    Output: (key, weight, score, cum_tokens) for admitted documents,
    where cum_tokens is the running total INCLUDING the document (the
    last admitted row may overshoot the budget — classic greedy
    prefix, deterministic in both engines).
    """
    from pyspark.sql import Window

    s = F.least(F.greatest(F.col(score), F.lit(0.0)), F.lit(1.0))
    # band 0 = best scores, so band-ASC equals score-DESC order
    banded = scored.withColumn(
        "_band",
        (F.lit(buckets - 1) - F.least(F.floor(s * buckets), F.lit(buckets - 1)))
        .cast("int"),
    )
    totals = {
        r["_band"]: r["w"]
        for r in banded.groupBy("_band").agg(F.sum(weight).alias("w")).collect()
    }
    offsets, acc = {}, 0
    for b in range(buckets):
        offsets[b] = acc
        # sum(weight) is NULL for an all-NULL-weight band — guard like
        # sequence_chunks does
        acc += int(totals.get(b, 0) or 0)
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])[
        F.col("_band")
    ]
    w_band = Window.partitionBy("_band").orderBy(
        F.desc(score), F.asc(key)
    ).rowsBetween(Window.unboundedPreceding, 0)
    cum = (off + F.sum(weight).over(w_band)).cast("bigint")
    return (
        banded.withColumn("cum_tokens", cum)
        .filter(F.col("cum_tokens") - F.col(weight) < int(budget_tokens))
        .select(key, weight, score, "cum_tokens")
    )


# ---------------------------------------------------------------------------
# corpus snapshot diff (incremental-ingest bookkeeping)
# ---------------------------------------------------------------------------


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "doc_id",
    fp: str = "fp",
) -> DataFrame:
    """Content-level diff of two corpus snapshots — the bookkeeping
    step of every incremental training-data pipeline (what must be
    re-tokenized / re-deduped / re-embedded after a crawl refresh?).

    Inputs are (key, fingerprint) projections of the two snapshots;
    output is one row per key with status ``added`` (key only in new),
    ``removed`` (only in old), ``changed`` (both, fingerprint differs),
    ``unchanged`` — plus both fingerprints for audit.

    Scale: ONE key-partitioned full-outer shuffle join. In production
    both snapshots are stored bucketed by ``key``, which makes this a
    shuffle-free sort-merge join; downstream stages filter
    ``status <> 'unchanged'`` so the incremental work is proportional
    to the delta, not the corpus. (Reference parity: the reference
    engine has no incremental surface — SURVEY.md §2; pipeline
    extension per the brief.)
    """
    o = old.select(F.col(key).alias(key), F.col(fp).alias("old_fp"))
    n = new.select(F.col(key).alias(key), F.col(fp).alias("new_fp"))
    j = o.join(n, key, "full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(key, status.alias("status"), "old_fp", "new_fp")


# ---------------------------------------------------------------------------
# temperature-scaled multilingual sampling
# ---------------------------------------------------------------------------

#: hash-prefix bands for the per-language rank two-phase (same role as
#: SHUFFLE_BUCKETS in epoch_shuffle): h60 ∈ [0, 2^60) → 64 bands
TEMP_BANDS = 64
TEMP_BAND_DIV = 1 << 54


def temperature_sample(
    docs: DataFrame,
    target_docs: int,
    lang_col: str = "lang",
    key: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled multilingual sampling at α = 0.5 (the
    p_l^α / Σ p^α up-sampling rule of multilingual LM training —
    Conneau & Lample 2019, public literature): low-resource languages
    get a more-than-proportional share of the sampled corpus.

    Exact integer quotas, bit-identical cross-engine: with α = 1/2 the
    per-language weight is s_l = floor(sqrt(n_l)·1e6) — IEEE-754
    requires sqrt to be correctly rounded, so Python, the JVM and
    DuckDB all compute the SAME double for the SAME BIGINT count,
    and floor/×1e6 keep it an exact integer.  quota_l =
    target·s_l div Σs_l (pure integer division; other α's would need
    a rational-exponent scheme, documented out of scope).

    Selection is a deterministic pseudo-random rank: order each
    language by md5-60bit(doc_id) and keep rank ≤ quota.  Ranks come
    from the epoch_shuffle band two-phase — hash-prefix bands, a
    collected ≤ langs×64-row offset map, per-(lang, band) windows —
    so no per-language global sort touches the data; retry-safe
    (pure function of doc_id, unlike orderBy(rand())).

    Output: (key, lang, rk) for the selected documents.
    """
    import math

    from pyspark.sql import Window

    from impala_cut_spark.operators.dedup import md5_hash60

    keyed = docs.select(
        F.col(key).alias(key),
        F.col(lang_col).alias("lang"),
        md5_hash60(F.col(key).cast("string")).alias("h"),
    ).withColumn("_band", (F.col("h") / TEMP_BAND_DIV).cast("int"))
    counts = keyed.groupBy("lang", "_band").count().collect()
    per_lang: dict[str, dict[int, int]] = {}
    for r in counts:
        per_lang.setdefault(r["lang"], {})[r["_band"]] = r["count"]
    n_l = {lang: sum(b.values()) for lang, b in per_lang.items()}
    s_l = {lang: math.floor(math.sqrt(float(n)) * 1e6) for lang, n in n_l.items()}
    s_total = max(sum(s_l.values()), 1)
    quota = {lang: (int(target_docs) * s) // s_total for lang, s in s_l.items()}
    offs: list = []
    for lang, bands in sorted(per_lang.items()):
        acc = 0
        for b in range(TEMP_BANDS):
            offs.extend([F.lit(f"{lang}\x1f{b}"), F.lit(acc)])
            acc += bands.get(b, 0)
    off = F.create_map(*offs)[
        F.concat_ws("\x1f", F.col("lang"), F.col("_band").cast("string"))
    ]
    qmap = F.create_map(*[F.lit(x) for kv in sorted(quota.items()) for x in kv])
    w = Window.partitionBy("lang", "_band").orderBy("h", key)
    rk = (off + F.row_number().over(w)).cast("bigint")
    return (
        keyed.withColumn("rk", rk)
        .where(F.col("rk") <= qmap[F.col("lang")])
        .select(key, "lang", "rk")
    )


# ---------------------------------------------------------------------------
# per-group score normalization (z-score)
# ---------------------------------------------------------------------------


def zscore_by_group(
    scored: DataFrame,
    score: str = "score",
    group: str = "lang",
    key: str = "doc_id",
    micro: int = 1_000_000,
) -> DataFrame:
    """Per-group z-score normalization of a quality score — the
    feature-scaling step before mixing heterogeneous corpora (raw
    scores aren't comparable across languages/sources; normalized
    ones are).

    Cross-engine exact: the score is quantized to integer micro-units
    (it is already 6dp-rounded upstream, so ×1e6 is lossless), and
    the group moments are EXACT integer aggregates — sum(s) and
    sum(s²) as BIGINTs (order-free) — cast to double only in the
    closed-form μ = Σs/n, σ² = (n·Σs² − (Σs)²)/(n·(n−1)); both
    engines then perform the identical IEEE double sequence. Sample
    (n−1) variance; groups with n = 1 or σ = 0 yield z = 0 by
    convention (not NULL — downstream filters shouldn't drop them).

    Scale: one groupBy shuffle for the moments (#groups rows), one
    broadcast join-back, then a narrow map. No window, no sort.
    """
    s_micro = F.round(F.col(score) * micro).cast("bigint")
    base = scored.select(
        F.col(key), F.col(group).alias("_g"), F.col(score).alias("_score"), s_micro.alias("_sm")
    )
    mom = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_sm").alias("_s1"),
        F.sum(F.col("_sm") * F.col("_sm")).alias("_s2"),
    )
    n = F.col("_n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    var = (n * s2 - s1 * s1) / (n * (n - 1)) / F.lit(float(micro) * float(micro))
    mu = s1 / n / F.lit(float(micro))
    sd = F.when(
        (F.col("_n") > 1) & ((n * s2 - s1 * s1) > 0), F.sqrt(var)
    ).otherwise(F.lit(0.0))
    j = base.join(F.broadcast(mom.select("_g", mu.alias("_mu"), sd.alias("_sd"))), "_g")
    z = F.when(
        F.col("_sd") > 0.0, (F.col("_score") - F.col("_mu")) / F.col("_sd")
    ).otherwise(F.lit(0.0))
    return j.select(
        key,
        F.col("_g").alias(group),
        F.col("_score").alias(score),
        F.round(z, 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# span-level cross-corpus decontamination + per-source reputation gate
# ---------------------------------------------------------------------------


def decontaminate_spans(
    docs: DataFrame, benchmark: DataFrame, k: int = 8
) -> DataFrame:
    """Span-level EXACT decontamination — the cross-corpus form of
    substring dedup (Lee et al. 2022 exact-substring semantics,
    applied train-vs-benchmark): a k-token shingle occurrence in a
    training document is *contaminated* when the same k-token text
    occurs ANYWHERE in the benchmark set; adjacent contaminated
    positions merge into MAXIMAL spans — exactly the verbatim
    benchmark passages a span-removal pass would cut out of a
    pretraining corpus. ``decontaminate()`` flags whole documents;
    this localizes the leak to token intervals so the rest of the
    document survives.

    Returns one row per training document: n_tok, contam_pos
    (contaminated shingle starts), contam_spans (maximal spans),
    contam_tokens (tokens covered — a span over starts [a..b] covers
    b-a+k tokens), is_contaminated.

    Scale (100 TB): the benchmark k-shingle set is DISTINCT-ed and
    broadcast (eval suites are tiny vs the corpus — the designed
    asymmetry shared with decontaminate()), so the corpus positional
    fan-out joins MAP-SIDE and never shuffles; only the matched
    (doc_id, p) hits reach the per-document island merge (window
    state = one document) and one doc_id shuffle re-attaches totals.
    """
    from impala_cut_spark.operators.dedup import (
        merge_token_islands,
        positional_shingles,
        shingles,
    )
    from impala_cut_spark.operators.text import token_count

    bench = shingles(benchmark, k).select(F.col("shingle").alias("g")).distinct()
    hits = positional_shingles(docs, k).join(F.broadcast(bench), "g")
    spans = merge_token_islands(hits, k)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("contam_spans"),
        F.sum("nstart").alias("contam_pos"),
        F.sum(F.col("b") - F.col("a") + F.lit(k)).alias("contam_tokens"),
    )
    base = docs.select(
        "doc_id",
        token_count(F.coalesce(F.col("text"), F.lit(""))).alias("n_tok"),
    )
    contam_tokens = F.coalesce(F.col("contam_tokens"), F.lit(0))
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce(F.col("contam_pos"), F.lit(0)).cast("bigint").alias("contam_pos"),
        F.coalesce(F.col("contam_spans"), F.lit(0)).cast("bigint").alias("contam_spans"),
        contam_tokens.cast("bigint").alias("contam_tokens"),
        (contam_tokens > 0).cast("int").alias("is_contaminated"),
    )


#: per-source admission bars (micro units): a source is dropped when
#: its mean heuristic quality falls under 0.47 or its mean document
#: length under 52 tokens — the host/domain-level gate of C4/RefinedWeb
#: (public literature: whole low-quality hosts are removed before any
#: per-document filtering). Values sit inside the synthetic corpus's
#: observed per-source spread so BOTH drop reasons are exercised.
MIN_SOURCE_QUALITY_MICRO = 470_000
MIN_SOURCE_TOK_AVG_MICRO = 52_000_000


def source_reputation(
    docs: DataFrame,
    min_quality_micro: int = MIN_SOURCE_QUALITY_MICRO,
    min_tok_avg_micro: int = MIN_SOURCE_TOK_AVG_MICRO,
) -> DataFrame:
    """Host/domain-level reputation gate (the C4 / RefinedWeb
    host-filter stage, public literature): aggregate per-document
    quality and length signals per ``source`` and admit or drop the
    WHOLE source — upstream of per-document filtering, because a spam
    host is cheaper to drop once than document-by-document.

    Returns one row per source: n_docs, tok_sum, q_avg_micro (mean
    heuristic quality, micro units), tok_avg_micro (mean tokens per
    doc, micro units), keep, drop_reason ('low_quality' takes
    precedence over 'short_docs'; NULL when kept). Integer micro-unit
    arithmetic end-to-end → bit-identical to the DuckDB oracle.

    Scale (100 TB): one narrow per-document projection feeds ONE
    source-keyed aggregation (map-side partial combine collapses each
    source to a row per input partition — a Zipf-hot source is
    pre-reduced before the shuffle); output is |sources| rows, so the
    verdict table broadcast-joins back to the corpus for the actual
    drop. No window, no join on the fan-out side.
    """
    from impala_cut_spark.operators.text import quality_score, token_count

    txt = F.coalesce(F.col("text"), F.lit(""))
    per = docs.select(
        "source",
        token_count(txt).alias("n_tok"),
        F.round(quality_score(txt) * F.lit(1_000_000))
        .cast("bigint")
        .alias("q_micro"),
    )
    n = F.count(F.lit(1))
    agg = per.groupBy("source").agg(
        n.alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tok_sum"),
        F.floor(F.sum("q_micro") / n).cast("bigint").alias("q_avg_micro"),
        F.floor(F.sum("n_tok") * F.lit(1_000_000) / n)
        .cast("bigint")
        .alias("tok_avg_micro"),
    )
    low_q = F.col("q_avg_micro") < F.lit(int(min_quality_micro))
    short_d = F.col("tok_avg_micro") < F.lit(int(min_tok_avg_micro))
    return agg.select(
        "source",
        "n_docs",
        "tok_sum",
        "q_avg_micro",
        "tok_avg_micro",
        (~low_q & ~short_d).alias("keep"),
        F.when(low_q, F.lit("low_quality"))
        .when(short_d, F.lit("short_docs"))
        .alias("drop_reason"),
    )


def benchmark_overlap(docs: DataFrame, benchmark: DataFrame, k: int = 8) -> DataFrame:
    """Eval-integrity report — the REVERSE direction of
    decontaminate(): for each BENCHMARK document, how much of it
    already appears verbatim in the training corpus (distinct
    k-shingle overlap). The standard pre-release check that an eval
    suite still measures generalization (GPT-3 appendix C
    methodology, public literature) — a benchmark item with high
    overlap is compromised no matter how the corpus is cleaned.

    Returns one row per benchmark doc: n_shingles (distinct), n_hit,
    overlap_micro = floor(n_hit·1e6 / n_shingles).

    Scale (100 TB): the expensive side is the corpus — so the
    benchmark shingle set (tiny by design) is broadcast AGAINST the
    corpus fan-out as a map-side semi-filter; only corpus shingles
    that match a benchmark shingle survive to a DISTINCT (volume
    bounded by |benchmark shingles|), and the final per-doc counts
    aggregate the benchmark side only. The corpus is read once and
    never shuffled at fan-out volume.
    """
    from impala_cut_spark.operators.dedup import shingles

    bench_sh = shingles(benchmark, k)
    bench_set = bench_sh.select("shingle").distinct()
    corp_hits = (
        shingles(docs, k)
        .join(F.broadcast(bench_set), "shingle")
        .select("shingle")
        .distinct()
    )
    sizes = bench_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    hits = (
        bench_sh.join(F.broadcast(corp_hits), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0))
    return sizes.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        n_hit.cast("bigint").alias("n_hit"),
        F.floor(n_hit * F.lit(1_000_000) / F.col("n_shingles"))
        .cast("bigint")
        .alias("overlap_micro"),
    )


def remove_contaminated_spans(
    docs: DataFrame, benchmark: DataFrame, k: int = 8
) -> DataFrame:
    """The surgical follow-on to decontaminate_spans(): actually CUT
    the contaminated token intervals out of each training document and
    re-emit the cleaned text — span removal (Lee et al. 2022) instead
    of document removal, so the uncontaminated remainder of a long
    document stays in the corpus.

    Returns (doc_id, n_tok, n_removed, clean_text); documents without
    hits pass through verbatim at token granularity (the text is
    re-joined from its whitespace tokens).

    Scale (100 TB): identical join/merge profile to
    decontaminate_spans (broadcast benchmark shingles, per-doc island
    merge) plus one collect_list of the per-doc span structs — bounded
    by spans-per-document, not corpus size — and a narrow higher-order
    token filter (no Python, no explode of the clean side).
    """
    from impala_cut_spark.operators.dedup import (
        merge_token_islands,
        positional_shingles,
        shingles,
    )
    from impala_cut_spark.operators.text import tokens

    bench = shingles(benchmark, k).select(F.col("shingle").alias("g")).distinct()
    hits = positional_shingles(docs, k).join(F.broadcast(bench), "g")
    spans = merge_token_islands(hits, k).select(
        "doc_id",
        F.struct(
            F.col("a").alias("a"), (F.col("b") + F.lit(k - 1)).alias("b")
        ).alias("sp"),
    )
    spd = spans.groupBy("doc_id").agg(F.collect_list("sp").alias("spans"))
    base = docs.select(
        "doc_id", tokens(F.coalesce(F.col("text"), F.lit(""))).alias("ls")
    )
    joined = base.join(spd, "doc_id", "left")
    covered = lambda s: F.exists(  # noqa: E731 — span-membership test
        F.col("spans"), lambda sp: (s["p"] >= sp["a"]) & (s["p"] <= sp["b"])
    )
    indexed = F.transform(
        "ls", lambda x, i: F.struct(x.alias("tok"), (i + 1).alias("p"))
    )
    kept = F.when(F.col("spans").isNull(), F.col("ls")).otherwise(
        F.transform(F.filter(indexed, lambda s: ~covered(s)), lambda s: s["tok"])
    )
    n_removed = F.coalesce(
        F.aggregate(
            "spans",
            F.lit(0).cast("bigint"),
            lambda acc, sp: acc + (sp["b"] - sp["a"] + 1).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
    )
    return joined.select(
        "doc_id",
        F.size("ls").alias("n_tok"),
        n_removed.alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


#: training sequence length for the concat-and-chunk step (small so the
#: synthetic ~55-token docs genuinely straddle sequence boundaries)
SEQ_CHUNK_LEN = 64


def sequence_chunks(
    docs: DataFrame,
    seq_len: int = SEQ_CHUNK_LEN,
    seed: int = 0,
    buckets: int = SHUFFLE_BUCKETS,
) -> DataFrame:
    """GPT-style sequence construction bookkeeping: concatenate the
    corpus in deterministic epoch-shuffle order and cut fixed
    ``seq_len``-token training sequences — this operator computes, for
    every document, its global token offset and the [first_seq,
    last_seq] range of training sequences it lands in (the packing map
    a sequence-writer and attention-masking stage consume). The
    "concat-and-chunk" data layout of GPT-2/3-style pretraining,
    public literature.

    Global token offsets WITHOUT a global sort (the epoch_shuffle
    two-phase, applied to token sums instead of row counts): documents
    order by (md5-bucket, key, doc_id); per-bucket token totals are
    one tiny aggregation (≤ ``buckets`` rows, collected and folded
    into a literal offset map) and the running sum is a WITHIN-bucket
    window. Pure function of (seed, doc_id, n_tok) — retry-safe,
    epoch = seed.

    Output: (doc_id, shuffle_off, n_tok, first_seq, last_seq, n_seqs)
    — first/last NULL for zero-token documents (they occupy no
    sequence).
    """
    from pyspark.sql import Window

    from impala_cut_spark.operators.text import token_count

    keyed = docs.select(
        "doc_id",
        token_count(F.coalesce(F.col("text"), F.lit("")))
        .cast("bigint")
        .alias("n_tok"),
        md5_hash60(
            F.concat_ws("\x1f", F.lit(str(seed)), F.col("doc_id"))
        ).alias("k"),
    ).withColumn("bkt", (F.col("k") % buckets).cast("int"))
    totals = {
        r["bkt"]: r["t"]
        for r in keyed.groupBy("bkt").agg(F.sum("n_tok").alias("t")).collect()
    }
    offsets, acc = {}, 0
    for bkt in range(buckets):
        offsets[bkt] = acc
        acc += int(totals.get(bkt, 0) or 0)
    off_map = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])[
        F.col("bkt")
    ]
    within = F.sum("n_tok").over(
        Window.partitionBy("bkt")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    placed = keyed.select(
        "doc_id",
        "n_tok",
        (off_map + within - F.col("n_tok")).cast("bigint").alias("shuffle_off"),
    )
    has = F.col("n_tok") > 0
    first_seq = F.expr(f"shuffle_off div {int(seq_len)}")
    last_seq = F.expr(f"(shuffle_off + n_tok - 1) div {int(seq_len)}")
    return placed.select(
        "doc_id",
        "shuffle_off",
        "n_tok",
        F.when(has, first_seq).cast("bigint").alias("first_seq"),
        F.when(has, last_seq).cast("bigint").alias("last_seq"),
        F.when(has, last_seq - first_seq + 1)
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_seqs"),
    )


# ---------------------------------------------------------------------------
# DSIR: importance-resampling selection weights
# ---------------------------------------------------------------------------

#: hashed n-gram feature space (the paper buckets into 10k; 4096 keeps
#: the bucket table broadcastable AND saturated at test SFs)
DSIR_BUCKETS = 4096
#: target domain: the English slice stands in for the paper's
#: "formatted target" (e.g. Wikipedia+books) — any predicate works
DSIR_TARGET_LANG = "en"


def dsir_importance_weights(
    docs: DataFrame,
    target_lang: str = DSIR_TARGET_LANG,
    buckets: int = DSIR_BUCKETS,
    text_col: str = "text",
) -> DataFrame:
    """DSIR (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling", public literature): score every document
    by how much more likely its hashed-bigram features are under the
    TARGET domain's unigram-over-features distribution than under the
    RAW corpus distribution — log w(x) = Σ_f [ln p̂_t(f) − ln p̂_r(f)]
    with add-one smoothing; documents with positive mean log-ratio
    look like the target and get selected.

    Plan: ONE tokenize+explode pass emits (doc_id, bucket) hashed
    bigram features, PERSISTED so it really runs once — the r7 form
    left it lazy and Catalyst plans no cross-consumer reuse, so the
    corpus was tokenized+exploded once per consumer (the defect the
    bm25 rework fixed; flagged by r7 ADVICE).  The bucket count table
    is ≤ ``buckets`` rows BY CONSTRUCTION, so it is collected once
    (a bounded-by-contract count-map collect, like the band/language
    maps elsewhere) — the two totals fall out of the same rows and the
    scoring side is rebuilt as a local broadcast frame, leaving
    exactly TWO scans of the persisted features: the count aggregate
    and the scoring join's stream side.  One doc-keyed aggregate folds
    the per-feature log-ratios.  Every shuffle is either
    bucket-bounded or per-document — linear at any corpus size, no
    skew surface (hash-uniform buckets).  100 TB accounting: the
    persisted feature stream is ~17 bytes/bigram on executor
    memory/disk — comparable to the per-doc fold shuffle that carries
    the same rows anyway, and cheaper than re-running the
    tokenize+explode CPU pass per consumer; the cache is bounded per
    (session, slot) by operators/_cache.py.

    Cross-engine: counts are exact integers; each ln() is rounded to
    6dp before the per-doc DECIMAL sum (order-free); the mean divides
    by the exact feature count and re-rounds half-up (registry
    conventions).

    Output: (doc_id, is_target, n_feat, avg_logratio, keep) —
    avg_logratio NULL (keep=false) for documents with < 2 tokens.
    """
    from pyspark import StorageLevel

    from impala_cut_spark.operators._cache import register_persisted
    from impala_cut_spark.operators.text import round_half_up, tokens

    base = docs.select(
        "doc_id",
        (F.col("lang") == target_lang).alias("is_target"),
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("tk"),
    )
    feats = (
        base.where(F.size("tk") >= 2)
        .select(
            "doc_id",
            "is_target",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(tk)), "
                    "i -> concat(element_at(tk, i-1), char(31), element_at(tk, i)))"
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            "is_target",
            (md5_hash60(F.col("bg")) % F.lit(int(buckets))).alias("b"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    register_persisted(feats, "dsir_feats")
    # bounded count-map collect: ≤ ``buckets`` rows by construction
    cnt_rows = (
        feats.groupBy("b")
        .agg(
            F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
            F.count(F.lit(1)).alias("cr"),  # raw = whole corpus incl. target
        )
        .collect()
    )
    tt = sum(int(r["ct"]) for r in cnt_rows)
    tr = sum(int(r["cr"]) for r in cnt_rows)
    cnt = docs.sparkSession.createDataFrame(
        [(int(r["b"]), int(r["ct"]), int(r["cr"])) for r in cnt_rows],
        "b bigint, ct bigint, cr bigint",
    )
    lt = F.round(F.log((F.col("ct") + 1).cast("double") / F.lit(float(tt + buckets))), 6)
    lr = F.round(F.log((F.col("cr") + 1).cast("double") / F.lit(float(tr + buckets))), 6)
    # each rounded ln() casts to DECIMAL on ITS OWN side before the
    # sums subtract — decimal arithmetic end-to-end, no double
    # re-rounding of a difference (registry determinism rules)
    scored = (
        feats.join(F.broadcast(cnt), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feat"),
            (
                F.sum(lt.cast("decimal(18,6)")) - F.sum(lr.cast("decimal(18,6)"))
            ).alias("s"),
        )
        .select(
            "doc_id",
            "n_feat",
            (
                F.when(
                    F.col("s") >= 0,
                    round_half_up(F.col("s").cast("double") / F.col("n_feat"), 6),
                ).otherwise(
                    -round_half_up(-F.col("s").cast("double") / F.col("n_feat"), 6)
                )
            ).alias("avg_logratio"),
        )
    )
    return (
        base.select("doc_id", "is_target")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "is_target",
            F.coalesce(F.col("n_feat"), F.lit(0)).cast("bigint").alias("n_feat"),
            "avg_logratio",
            F.coalesce(F.col("avg_logratio") > 0, F.lit(False)).alias("keep"),
        )
    )
