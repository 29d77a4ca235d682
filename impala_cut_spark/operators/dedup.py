"""Deduplication operators over the ``documents`` table.

Four strategies, each a pure DataFrame composition:

- exact           — hash-groupBy on a normalized fingerprint.
- ngram Jaccard   — EXACT set-similarity join via an inverted
                    shingle index (explode → group-by-shingle →
                    pair-combination explode → count), the classic
                    sparse-similarity-join plan. Oracle-checked.
- MinHash + LSH   — shingle → 64 minhashes → banded buckets →
                    candidate pairs → exact-Jaccard verification. The
                    100 TB scale path (candidates ≪ n²).
- SimHash         — 64-bit signature; pigeonhole block grouping
                    (4×16-bit blocks) finds ALL pairs with hamming ≤ 3
                    without an n² comparison, then verifies exactly.

Design note (scale + local): every "find colliding pairs" step is a
single ``groupBy(key) → collect_set → explode(combinations)`` — one
shuffle keyed by the collision key, NO self-join. A self-join of the
index reads/recomputes the index twice and doubles the shuffle; the
group-then-combine form shuffles the index once, and pair generation
is local within each group. Group sizes are bounded by construction
(bucket collisions ≈ near-duplicates only); degenerate hot keys are
capped at scale (``candidate_pairs_from_groups`` / MAX_BUCKET —
standard LSH practice). Shared intermediates (the shingle inverted
index, candidate sets) are persisted MEMORY_AND_DISK: at 100 TB the
materialized index is the expensive artifact you never build twice.

MinHash/SimHash use xxhash64 (engine-internal hash, not reproducible
in DuckDB) → rows-only driver check; tests/test_operators.py verifies
them against the exact-Jaccard ground truth.

Reference parity: the reference has no dedup surface (pure SQL MPP,
SURVEY.md §2) — this is the training-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from impala_cut_spark.operators.text import fingerprint, tokens

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """One row per distinct normalized content: keeper = min doc_id.

    Scale: single shuffle on the 128-bit fingerprint (uniform key, no
    skew); partial agg collapses duplicates map-side.
    """
    return (
        docs.select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_dups"))
    )


def exact_dedup_keep_first(docs: DataFrame) -> DataFrame:
    """Deduplicated documents (keeper rows only)."""
    keepers = exact_dedup_groups(docs).select(F.col("keeper").alias("doc_id"))
    return docs.join(keepers, "doc_id", "left_semi")


# ---------------------------------------------------------------------------
# pair generation from collision groups (shared by jaccard/LSH/simhash)
# ---------------------------------------------------------------------------


def _pair_combos(ids: str) -> Column:
    """All ordered pairs (a<b) from an id-array COLUMN NAME, as structs.

    One F.expr over SQL text rather than nested Column HOF lambdas:
    each PySpark lambda conversion costs ~40 ms of py4j round-trips at
    construction time (the r12 MinHash F.expr finding, guide §1), and
    this expression has three of them. The SQL parses to the same
    tree — named_struct is exactly what F.struct(alias) creates."""
    s = f"array_sort({ids})"
    return F.expr(
        f"flatten(transform({s}, (x, i) -> "
        f"transform(slice({s}, i + 2, size({s})), "
        f"y -> named_struct('id_a', x, 'id_b', y))))"
    )


#: at-scale cap on a collision group: a key shared by this many docs
#: carries no discriminating signal (boilerplate) and would generate
#: O(group²) pairs — drop it (standard LSH practice)
MAX_BUCKET = 10_000


def candidate_pairs_from_groups(
    keyed: DataFrame, id_col: str = "doc_id", max_group: int | None = MAX_BUCKET
) -> DataFrame:
    """(key…, id) → distinct (id_a, id_b) for ids sharing any key.

    One data shuffle (groupBy the key columns) + local combination
    explode — no self-join, the index is consumed once. Exact callers
    pass ``max_group=None``.

    Capped callers get COUNT-THEN-COLLECT (r7 verdict hardening): group
    sizes are counted first — a map-side-combinable partial aggregate
    whose shuffle rows are (key, count), never ids — and over-cap keys
    are anti-joined out BEFORE any id array is built.  The previous
    one-phase form collect_set-ed the whole group and only then
    filtered on size: a pathological LSH bucket (tens of millions of
    byte-identical boilerplate docs, all bands colliding) would
    materialize one giant id array inside a single aggregation buffer
    before being dropped — an executor-OOM risk at 100 TB.  The
    oversized side is tiny by construction (every over-cap key holds
    > max_group ids, so there are at most N/max_group such keys), so
    AQE turns the anti-join into a broadcast and the id-bearing data
    still shuffles once.  Output is identical to the one-phase form —
    both drop exactly the keys with more than ``max_group`` ids — and
    both call sites feed a persisted table, so the second traversal
    re-runs only a cheap explode.
    """
    key_cols = [c for c in keyed.columns if c != id_col]
    if max_group is not None:
        # count(1), NOT countDistinct: every capped caller feeds rows
        # unique per (key, id) by construction (band/block tables are
        # exploded from one-row-per-doc signature aggregates), and a
        # distinct-aggregate plans as TWO aggregation phases — a whole
        # extra exchange of the band table for a count that cannot
        # differ. Callers with duplicate (key, id) rows must dedupe
        # before the cap or the cap fires early (still safe, the cap
        # is an upper-bound guard).
        sizes = keyed.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_group_n"))
        oversized = sizes.filter(F.col("_group_n") > max_group).drop("_group_n")
        # eqNullSafe, not a name-list equi-join: groupBy puts NULL keys in
        # one group, and a plain anti-join would never match that group
        # (NULL != NULL) — the giant NULL bucket would sail through to
        # collect_set, the exact OOM this two-phase form exists to stop
        k, o = keyed.alias("_cpk"), oversized.alias("_cpo")
        cond = None
        for c in key_cols:
            e = F.col(f"_cpk.{c}").eqNullSafe(F.col(f"_cpo.{c}"))
            cond = e if cond is None else cond & e
        keyed = k.join(o, cond, "left_anti")
    grouped = (
        keyed.groupBy(*key_cols)
        .agg(F.collect_set(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        grouped.select(F.explode(_pair_combos("ids")).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# shingles + exact n-gram Jaccard similarity join
# ---------------------------------------------------------------------------


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) with DISTINCT word-n-gram shingles per doc.

    Deliberately thin: do NOT also emit size(grams) here — any second
    reference to the gram array makes Catalyst inline the (expensive)
    tokenize+3-gram HOF expression twice per row after
    CollapseProject, tripling the build cost. Per-doc sizes are a
    cheap re-aggregation of this (persisted) index instead.

    fan_out parallelizes the tokenize+shingle hot loop when the source
    is under-split (callers persist the result, so the repartition
    runs exactly once — never inside a recomputed branch).
    """
    from impala_cut_spark.partitioning import fan_out

    # SQL-text construction (one parse round-trip instead of two
    # converted HOF lambdas — see _pair_combos): same expression tree,
    # same results. Short docs (< n tokens) must yield ZERO shingles —
    # sequence() infers a NEGATIVE step when start > stop
    # (sequence(0,-1) is [0,-1], not empty), so the branch is gated by
    # a CASE.
    tok = fan_out(docs).select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x != '')").alias("toks")
    )
    grams = tok.select(
        "doc_id",
        F.expr(
            f"CASE WHEN size(toks) >= {n} THEN "
            f"transform(sequence(0, size(toks) - {n}), "
            f"i -> concat_ws(' ', slice(toks, i + 1, {n}))) "
            f"ELSE cast(array() as array<string>) END"
        ).alias("grams"),
    )
    return grams.select("doc_id", F.explode(F.array_distinct("grams")).alias("shingle"))


#: document-frequency cap on a shingle before the similarity self-join:
#: a shingle shared by this many documents is boilerplate (zero
#: discriminating signal) and would contribute O(df²) join rows — the
#: classic Zipf hot key.  Still a provable no-op at every oracle scale
#: (df ≤ corpus size ≪ cap at sf ≤ 0.1), and aligned with MAX_BUCKET's
#: rationale.  Round-7 skew fixture finding: the prior 100k cap was so
#: high it was ALSO a no-op on the 60k-doc skew replicas — one 8-token
#: boilerplate prefix on 30% of docs (df = 18k) slid under it and
#: ground the canonicalization pipeline through ~160M candidate pairs
#: (13s → 304s).  At 10k, a df-18k boilerplate shingle is dropped
#: outright and the worst SURVIVING key is bounded at ~5·10⁷ pair rows
#: — AQE-splittable — instead of 10¹⁰ under the old cap.
MAX_SHINGLE_DF = 10_000


def _pair_jaccard(sh: DataFrame, threshold: float, max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Exact Jaccard over an inverted index: count common shingles per
    pair via a self-join on the shingle key, |A∪B| = |A|+|B|−common.

    ``sh`` is either (doc_id, shingle) or the pre-hashed (doc_id, h) —
    callers that persist the index pass the hashed form so the cache
    holds 8-byte keys and the md5 runs exactly once.

    Pair generation is a relational self-join — Catalyst/AQE picks the
    physical strategy: broadcast hash join on a small corpus, shuffled
    hash join (with AQE skew-split for hot shingles) at scale. A
    hand-built collect_set→explode pins the pair blow-up onto whatever
    partitioning the aggregate left behind (AQE coalesces the tiny
    grouped output, then the explode serializes on few tasks); the
    join form keeps the expansion distributed. The pair-count groupBy
    keys on (id_a, id_b) — integers, uniform. Per-doc sizes
    re-aggregate the persisted index (small) and broadcast onto the
    pair counts.

    df-cap (the 100 TB prefilter): shingles with document frequency >
    ``max_df`` are dropped from BOTH join sides before the self-join —
    one extra aggregation over the persisted index producing the (tiny)
    hot-shingle list, broadcast anti-joined against each side. Per-doc
    sizes still count every shingle, so |A∪B| stays exact; only
    n_common can undercount for pairs whose overlap is boilerplate —
    at the default cap this is a strict no-op below ~10k-doc corpora
    (df ≤ corpus size), asserted against the oracle at sf0.01.

    Join key: the md5-60bit hash of the shingle, not the string —
    8-byte shuffle rows through the df-count, anti-join and self-join
    instead of ~20-byte variable strings (round-4 bake-off at sf0.1:
    2.54s → 2.04s end-to-end, identical output; engine-native xxhash64
    measured 1.58s but is not DuckDB-replayable).  The oracle replays
    the same hash, so a (cosmically unlikely) 60-bit collision would
    affect both engines identically.
    """
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    hsh = sh if set(sh.columns) == {"doc_id", "h"} else sh.select(
        "doc_id", md5_hash60(F.col("shingle")).alias("h")
    )
    hot = (
        hsh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("h")
    )
    pruned = hsh.join(F.broadcast(hot), "h", "left_anti")
    a = pruned.select(F.col("h"), F.col("doc_id").alias("id_a"))
    b = pruned.select(F.col("h"), F.col("doc_id").alias("id_b"))
    pairs = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    ).cast("double")
    return (
        pairs.join(F.broadcast(sz_a), "id_a")
        .join(F.broadcast(sz_b), "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.2) -> DataFrame:
    """EXACT near-duplicate pairs by word-n-gram Jaccard ≥ threshold —
    the count-based inverted-index similarity join (_pair_jaccard).

    Chosen over PPJoin prefix filtering by a measured bake-off (the
    prefix form is in git history): on this corpus (sf0.1: ~27k
    distinct shingles over 5k docs, mean shingle df ≈ 10, ~52 shingles
    per doc) a τ=0.2 prefix keeps 81% of index rows and cuts candidate
    pairs only 1.13M → 0.79M, while swapping the cheap streaming
    pair-count for a per-candidate array_intersect verify — measured
    NET SLOWER end-to-end.  Prefix filtering pays at high thresholds /
    long documents where the prefix is a small fraction of the doc.
    """
    # persist the HASHED index (doc_id, h): the md5 runs once in the
    # cached projection instead of once per consumer branch (the old
    # string-keyed cache fed hot-key count and anti-join arms that each
    # re-hashed), and the cached rows are two fixed 8-byte columns
    # instead of a ~25-byte string (guide §2.3 narrow types / §5 cache
    # pressure). sizes count rows, which a projection leaves unchanged.
    sh = (
        shingles(docs, n)
        .select("doc_id", md5_hash60(F.col("shingle")).alias("h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return _pair_jaccard(sh, threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH (the at-scale near-dup path)
# ---------------------------------------------------------------------------

NUM_HASHES = 64
BAND_SIZE = 4  # 16 bands × 4 rows: ~P(candidate) = 1-(1-j^4)^16

#: 2^31 − 1 (Mersenne prime): modulus of the cross-engine affine hash
#: family.  a·h + b with a, h' < 2^31 stays < 2^62 — no BIGINT overflow
#: in either engine.
MINHASH_PRIME = 2_147_483_647

#: seed of the affine-family parameters — shared with the DuckDB oracle
#: generator (plans/pipeline.py) so both engines use identical (a, b).
MINHASH_SEED = 20240813


#: Spark SQL text of md5_hash60, for projections built as SQL strings;
#: the DuckDB replica is plans/_util.SQL_H60.
MD5_HASH60_SQL = "cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint)"


def md5_hash60(col: Column) -> Column:
    """Cross-engine 60-bit string hash: first 15 hex chars of md5 as a
    positive BIGINT.  Spark: ``conv(substr(md5(x),1,15),16,10)``;
    DuckDB: ``CAST('0x' || substr(md5(x),1,15) AS BIGINT)`` — verified
    identical (both engines implement the public MD5 spec)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def affine_params(num_hashes: int = NUM_HASHES, seed: int = MINHASH_SEED) -> list[tuple[int, int]]:
    """The (a_i, b_i) of the universal hash family h_i(x) = (a_i·x + b_i)
    mod P — deterministic from the seed; embedded as plan literals on
    the Spark side and as SQL literals in the DuckDB oracle."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    sh: DataFrame, num_hashes: int = NUM_HASHES, hash_family: str = "xxhash64"
) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): min over shingles of the k-th hash.

    One explode + one groupBy — the signature is k aggregations over
    the same shuffle, not k passes. The variable-length shingle STRING
    is hashed exactly once; the k hash-family members then re-hash that
    fixed-width integer — same uniformity, ~string-length× less hashing
    work per row than hashing the string k times.

    hash_family:
    - ``xxhash64`` — engine-native (fastest; not reproducible outside
      Spark): h = xxhash64(shingle), h_i = xxhash64(h, i).
    - ``md5_affine`` — cross-engine: h = md5-60bit(shingle) mod P,
      h_i = (a_i·h + b_i) mod P (classic universal-hash minhash).
      Bit-identical in DuckDB → fully oracle-checkable; the family
      members are pure integer ops, so the only extra cost vs xxhash64
      is md5-vs-xxhash on the shingle string.
    """
    pre, aggs = _minhash_pre_aggs(sh, num_hashes, hash_family)
    return pre.groupBy("doc_id").agg(*aggs)


def _minhash_pre_aggs(
    sh: DataFrame, num_hashes: int, hash_family: str
) -> tuple[DataFrame, list[Column]]:
    """Shared hash-family construction: the once-per-shingle hash
    column and the k min-aggregates over it. Single definition so the
    fused pipeline (minhash_dedup_pairs), the standalone signature
    function, and the DuckDB oracle literals can never desynchronize."""
    # Each aggregate is ONE F.expr over a SQL string rather than a
    # chain of Column operator calls: the k-aggregate family costs k
    # py4j round-trips instead of ~6k.  Building this query's graph
    # was measured at 0.89 s per bench run (vs 0.69 s executing it) —
    # pure driver-side Python↔JVM chatter (guide §1: time the engine).
    # The parsed expressions are literal-for-literal identical to the
    # previous Column-built ones (integer literals promote to BIGINT
    # arithmetic the same way), so plans and results are unchanged.
    if hash_family == "md5_affine":
        # _h60 (full 60-bit) is the doc-set element for the verify
        # stage (collision odds ~2^-60·n²); _h (mod P) feeds the affine
        # family. One md5 per shingle serves both.
        pre = sh.withColumn("_h60", md5_hash60(F.col("shingle"))).withColumn(
            "_h", F.col("_h60") % MINHASH_PRIME
        )
        aggs = [
            F.expr(f"min(({a}L * _h + {b}L) % {MINHASH_PRIME}L) AS mh_{i}")
            for i, (a, b) in enumerate(affine_params(num_hashes))
        ]
    else:
        pre = sh.withColumn("_h", F.xxhash64("shingle"))
        aggs = [
            F.expr(f"min(xxhash64(_h, {i})) AS mh_{i}") for i in range(num_hashes)
        ]
    return pre, aggs


def minhash_set_col(hash_family: str) -> str:
    """The per-shingle HASH column of `_minhash_pre_aggs` output that
    verify-stage doc sets collect: 8-byte bigints through the per-doc
    aggregate, the persisted cache and both verify joins instead of
    ~25-byte shingle strings (guide §2.3: shuffle keys, not payloads).
    Intersection sizes over the hashes equal the string-set sizes
    unless two distinct shingles collide (≤ n²/2⁶⁰ for md5's leading
    60 bits) — and the md5-affine oracle replays the SAME hash, so
    even a collision lands identically in both engines (the r4 band-key
    precedent)."""
    return "_h60" if hash_family == "md5_affine" else "_h"


def lsh_candidate_pairs(
    sig: DataFrame, band_size: int = BAND_SIZE, band_key: str = "xxhash64"
) -> DataFrame:
    """Banded LSH: docs agreeing on any band become a candidate pair.

    Scale: one explode(bands) → groupBy on the band key → local pair
    combinations; shuffle volume is (#docs × #bands) rows, linear in
    corpus size, and the signature input is consumed exactly once (no
    self-join).

    band_key — how a band's minhash tuple becomes the bucket key:
    - ``xxhash64`` (default): engine-native 64-bit hash, 8 bytes/row
      shuffled; not reproducible outside Spark.
    - ``md5``: 60-bit md5 of the comma-joined tuple — same 8-byte
      shuffle row, and DuckDB replays it verbatim (bigints render
      identically in both engines, md5 is the public spec).  Round-4
      bake-off at sf0.1: full md5-affine pipeline 2.82s with raw-tuple
      band structs vs 2.15s with md5 band keys, identical output —
      the tuple structs were band_size× wider shuffle rows for zero
      benefit once the key is verify-checked anyway.
    - ``exact``: the raw minhash tuple as a struct — zero collision
      risk, kept for the equality test in tests/test_operators.py.
    """
    num_hashes = len([c for c in sig.columns if c.startswith("mh_")])
    n_bands = num_hashes // band_size
    if band_key == "exact":
        bands = F.array(
            *[
                F.struct(
                    *[
                        F.col(f"mh_{b * band_size + r}").alias(f"v{r}")
                        for r in range(band_size)
                    ]
                )
                for b in range(n_bands)
            ]
        )
        buckets = sig.select(
            "doc_id", F.posexplode(bands).alias("band", "vals")
        ).select("doc_id", "band", "vals.*")
    else:
        buckets = band_bucket_keys(sig, band_size, band_key)
    return candidate_pairs_from_groups(buckets)


def band_bucket_keys(
    sig: DataFrame, band_size: int = BAND_SIZE, band_key: str = "md5"
) -> DataFrame:
    """(doc_id, band, bucket) hashed band keys for a signature table —
    the shared explode behind self-dedup (lsh_candidate_pairs) and
    cross-corpus probes (corpus.decontaminate_neardup joins a corpus's
    band table against a broadcast benchmark band table instead of
    pairing within one). ``md5`` keys fold the band index into the
    hash input, so they are globally unique across bands and DuckDB
    replays them verbatim."""
    num_hashes = len([c for c in sig.columns if c.startswith("mh_")])
    n_bands = num_hashes // band_size
    # one F.expr for the whole band array (SQL text identical in
    # structure to the Column-built form — see _minhash_pre_aggs note
    # on construction cost)
    if band_key == "md5":
        cols = (
            [str(b)] + [f"mh_{b * band_size + r}" for r in range(band_size)]
            for b in range(n_bands)
        )
        arms = ", ".join(
            MD5_HASH60_SQL.format(x="concat_ws(',', " + ", ".join(c) + ")")
            for c in cols
        )
    else:
        arms = ", ".join(
            "xxhash64({args})".format(
                args=", ".join(
                    [f"mh_{b * band_size + r}" for r in range(band_size)] + [str(b)]
                )
            )
            for b in range(n_bands)
        )
    bands = F.expr(f"array({arms})")
    return sig.select("doc_id", F.posexplode(bands).alias("band", "bucket"))


def _verify_with_docsets(docsets: DataFrame, cands: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for an explicit (id_a, id_b) candidate list over a
    prebuilt (doc_id, shset) table — the LSH verify step: the
    round/threshold/intersection rule."""
    a = docsets.select(F.col("doc_id").alias("id_a"), F.col("shset").alias("set_a"))
    b = docsets.select(F.col("doc_id").alias("id_b"), F.col("shset").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b"))
    jac = inter.cast("double") / (
        F.size("set_a") + F.size("set_b") - inter
    ).cast("double")
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.2, hash_family: str = "xxhash64"
) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard — same output
    contract as ngram_jaccard_pairs, but candidate generation is O(n)
    instead of an inverted-index pair explosion over every shared
    shingle.  ``hash_family='md5_affine'`` selects the cross-engine
    hash (and md5-60bit band keys) so the full pipeline is
    DuckDB-oracle-checkable; the xxhash64 default is the engine-native
    fast path.

    Plan shape: the k minhash aggregates AND the verify-stage shingle
    set come out of ONE groupBy(doc_id) over the shingle index — the
    index is consumed once and the per-doc table (persisted) feeds
    both band explosion and candidate verification. The earlier
    three-aggregation form (signatures + two docset builds) re-read
    the cached index twice more and shuffled doc_id three times;
    measured ~1.7× slower end-to-end at sf0.1 with identical output."""
    sh = shingles(docs, n)
    pre, aggs = _minhash_pre_aggs(sh, NUM_HASHES, hash_family)
    per_doc = (
        pre.groupBy("doc_id")
        .agg(F.collect_set(minhash_set_col(hash_family)).alias("shset"), *aggs)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cands = lsh_candidate_pairs(
        per_doc, band_key=("md5" if hash_family == "md5_affine" else "xxhash64")
    )
    return _verify_with_docsets(per_doc.select("doc_id", "shset"), cands, threshold)


# ---------------------------------------------------------------------------
# connected components → dedup cluster assignment
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_rounds: int = 50
) -> DataFrame:
    """(node, root) for every node in ``pairs``: root = min node id of
    the node's connected component (roots map to themselves).

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public literature):
    each round is two {union → groupBy(min) → join} passes over the
    edge list, and the edge set provably converges to per-component
    stars in O(log²  n) rounds (O(log n) observed). This is the
    at-scale alternative to both label propagation (O(diameter) rounds
    — unbounded on chain graphs) and any driver-side union-find (not
    distributed).

    Each round materializes the new edge list via ``localCheckpoint``
    — iterative algorithms must cut lineage or round k replays rounds
    1..k-1 (on a cluster, prefer ``spark.sparkContext.setCheckpointDir``
    + ``checkpoint()`` for fault tolerance; localCheckpoint trades
    lineage for executor-local blocks, which local mode always has).

    The driver-side loop is over ROUNDS (log n of them), never rows —
    the per-round convergence check is a single count() action.
    """
    e = (
        pairs.select(
            F.col(id_a).cast("bigint").alias("u"), F.col(id_b).cast("bigint").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if not e.take(1):
        schema_src = e.select(F.col("u").alias("node"), F.col("v").alias("root"))
        return schema_src
    e = e.localCheckpoint()

    def _large_star(edges: DataFrame) -> DataFrame:
        nbrs = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
        )
        return (
            nbrs.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        directed = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = directed.groupBy("u").agg(F.min("v").alias("m"))
        moved = (
            directed.join(m, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        selfe = m.select("u", F.col("m").alias("v"))
        return moved.union(selfe).filter(F.col("u") != F.col("v")).distinct()

    for _ in range(max_rounds):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        # converged ⟺ the two passes were a no-op on the edge set
        changed = e2.exceptAll(e).take(1) or e.exceptAll(e2).take(1)
        e = e2
        if not changed:
            break

    roots = (
        e.select(F.col("v").alias("node"))
        .distinct()
        .join(e.select(F.col("u").alias("node")).distinct(), "node", "left_anti")
        .select("node", F.col("node").alias("root"))
    )
    return e.select(F.col("u").alias("node"), F.col("v").alias("root")).union(roots)


def dedup_cluster_assignment(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Every document's dedup cluster: (doc_id, cluster_id, is_keeper).

    cluster_id = min doc_id of the near-dup connected component
    (singletons cluster with themselves); is_keeper = 1 on exactly one
    row per cluster — the keep-one-per-cluster filter of a corpus
    dedup pass. One broadcast-friendly join: the component map is
    |nodes-in-pairs| rows ≪ corpus size.
    """
    cc = connected_components(pairs)
    return (
        docs.join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("root"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn(
            "is_keeper", (F.col("doc_id") == F.col("cluster_id")).cast("int")
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_BLOCKS = 4  # pigeonhole: hamming ≤ 3 ⇒ ≥1 of 4 blocks equal

#: md5_affine variant uses the 60-bit md5-derived token hash directly:
#: 60 bits → 4 pigeonhole blocks of 15 bits, no sign-bit special case.
SIMHASH_BITS_MD5 = 60


#: packed-lane mask: one bit every 16 positions, so ``h >>> j & MASK``
#: isolates bit positions {j, j+16, j+32, j+48} into four independent
#: 16-bit accumulator lanes of a single BIGINT
_LANE_MASK = 0x0001_0001_0001_0001


def simhash(docs: DataFrame, hash_family: str = "xxhash64") -> DataFrame:
    """(doc_id, sig): SimHash over distinct tokens.

    bit_i(sig) = sign of Σ_tokens (bit_i(h(token)) ? +1 : −1), i.e.
    bit set ⟺ 2·ones_i > n_tokens (ties → 0, matching the strict >).

    Computed as explode → SIXTEEN packed lane sums + one count → bit
    extraction on the aggregated row; one shuffle on doc_id.  The r8
    form summed 64 separate ``when(bit_i, +1, −1)`` aggregate columns
    per token row — 64 aggregation buffers and 64 branch evaluations
    per row, the most expensive operator in the registry per row
    touched (~19 s at sf0.1).  Packing 4 bit-position counts into the
    16-bit lanes of one BIGINT (``sum((h >>> j) & 0x0001000100010001)``
    for j = 0..15) cuts that to 16 two-op sums; the 64 per-bit
    majority tests then run once per DOCUMENT on the aggregated row,
    not once per token.  Lane capacity bounds the doc size: safe for
    ≤ 65 535 DISTINCT tokens per document (a ~0.5 MB+ all-unique-words
    text; the corpus chunkers upstream cap well below this) — an
    in-plan ``assert_true`` fails loudly past the boundary instead of
    letting a lane carry corrupt the signature (r9 verdict #4).

    hash_family ``xxhash64`` (engine-native, 64 bits) or ``md5_affine``
    (cross-engine md5-derived 60-bit hash — every op below it is
    integer arithmetic both engines share, so the DuckDB oracle
    reproduces the signature bit-for-bit; the oracle's 64-sum SQL form
    is unchanged — signatures are identical).
    """
    n_bits = SIMHASH_BITS_MD5 if hash_family == "md5_affine" else SIMHASH_BITS
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    )
    if hash_family == "md5_affine":
        tok = tok.withColumn("h", md5_hash60(F.col("tok")))
    else:
        tok = tok.withColumn("h", F.xxhash64("tok"))

    def _bit(i: int):
        # bit 63 is the sign bit of BIGINT — its mask is the negative literal
        return F.lit(1 << i if i < 63 else -(1 << 63)).cast("bigint")

    lane_mask = F.lit(_LANE_MASK).cast("bigint")
    sums = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n_tok"),
        *[
            F.sum(
                (F.shiftrightunsigned(F.col("h"), j) if j else F.col("h"))
                .bitwiseAND(lane_mask)
            ).alias(f"p_{j}")
            for j in range(16)
        ],
    )
    sig = F.lit(0).cast("bigint")
    for i in range(n_bits):
        j, lane = i % 16, i // 16
        ones = F.shiftrightunsigned(F.col(f"p_{j}"), 16 * lane).bitwiseAND(
            F.lit(0xFFFF).cast("bigint")
        )
        sig = sig + F.when(ones * 2 > F.col("_n_tok"), _bit(i)).otherwise(
            F.lit(0).cast("bigint")
        )
    # 16-bit lane capacity guard (r9 verdict #4): a document with more
    # distinct tokens than a lane can count would silently carry into
    # the neighbouring bit-position counter and corrupt the signature.
    # Fail loudly instead; woven into the sig expression (adds 0) so
    # column pruning cannot drop the check.
    cap = F.assert_true(
        F.col("_n_tok") <= F.lit(0xFFFF).cast("bigint"),
        F.format_string(
            "simhash: doc %s has %d distinct tokens — exceeds the 65535"
            " packed-lane capacity; chunk or pre-filter oversized docs",
            F.col("doc_id").cast("string"),
            F.col("_n_tok"),
        ),
    )
    guarded = sig + F.coalesce(cap.cast("bigint"), F.lit(0).cast("bigint"))
    return sums.select("doc_id", guarded.alias("sig"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, hash_family: str = "xxhash64"
) -> DataFrame:
    """ALL pairs with hamming(sig_a, sig_b) ≤ max_hamming.

    Scale: pigeonhole — split the signature into ``max_hamming+1``
    blocks; any pair within the distance budget must agree exactly on
    ≥1 block, so grouping by block value finds every such pair with NO
    quadratic comparison and no self-join. Exact (no false negatives);
    hamming verified by joining candidates back to the persisted
    signature table (16 bytes/doc — broadcastable far beyond any
    realistic dedup corpus).
    """
    n_bits = SIMHASH_BITS_MD5 if hash_family == "md5_affine" else SIMHASH_BITS
    n_blocks = max_hamming + 1
    width = n_bits // n_blocks
    sigs = simhash(docs, hash_family=hash_family).persist(StorageLevel.MEMORY_AND_DISK)
    blocks = F.array(
        *[
            F.shiftright(F.col("sig"), b * width).bitwiseAND(F.lit((1 << width) - 1).cast("bigint"))
            for b in range(n_blocks)
        ]
    )
    bl = sigs.select("doc_id", F.posexplode(blocks).alias("blk", "val"))
    cands = candidate_pairs_from_groups(bl)
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cands.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_dedup(corpus: DataFrame, shard: DataFrame) -> DataFrame:
    """Merge-dedup a NEW shard against an existing deduplicated
    corpus: keep a shard document only if its content fingerprint is
    (a) absent from the corpus and (b) the lowest-doc_id holder of
    that fingerprint within the shard — the incremental form of
    exact_dedup_keep_first that a rolling ingest runs per batch
    instead of re-deduping the whole corpus.

    Scale: the corpus side reduces to DISTINCT fingerprints (in
    production a materialized fingerprint table maintained across
    ingests — one narrow column, bucketable by fp so the anti-join is
    co-located and shuffle-free); the shard shuffles once on fp.
    """
    corpus_fp = corpus.select(fingerprint(F.col("text")).alias("fp")).distinct()
    shard_fp = shard.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    shard_keep = (
        shard_fp.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(corpus_fp, "fp", "left_anti")
        .select("doc_id")
    )
    return shard.join(shard_keep, "doc_id", "left_semi")


# ---------------------------------------------------------------------------
# substring-level exact dedup (duplicated k-token spans across the corpus)
# ---------------------------------------------------------------------------


def positional_shingles(docs: DataFrame, k: int = 8) -> DataFrame:
    """(doc_id, p, g): ALL k-token shingle occurrences with their
    1-based token position — the positional twin of ``shingles()``
    (which dedups per doc and drops positions). posexplode keeps the
    start index; short docs (< k tokens) yield zero rows via the same
    sequence()-gate as shingles()."""
    from impala_cut_spark.partitioning import fan_out

    # SQL-text construction — see shingles() (same tree, fewer py4j
    # lambda conversions at construction time)
    tok = fan_out(docs).select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x != '')").alias("toks")
    )
    grams = tok.select(
        "doc_id",
        F.expr(
            f"CASE WHEN size(toks) >= {k} THEN "
            f"transform(sequence(0, size(toks) - {k}), "
            f"i -> concat_ws(' ', slice(toks, i + 1, {k}))) "
            f"ELSE cast(array() as array<string>) END"
        ).alias("grams"),
    )
    return grams.select(
        "doc_id", F.posexplode("grams").alias("p0", "g")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "g")


def merge_token_islands(hits: DataFrame, k: int) -> DataFrame:
    """Per-document gaps-and-islands merge of k-token span starts:
    rows carrying (doc_id, p) — 1-based token positions of matched
    k-shingle starts — merge into MAXIMAL covered spans. Interval
    merge runs on TOKEN coverage, not start adjacency: start p covers
    tokens [p, p+k-1], so two starts overlap/touch whenever their gap
    is ≤ k — a plain p - row_number() run-grouping would split there
    and double-count the overlap. An island breaks only when the gap
    exceeds k.

    Output: (doc_id, grp, a, b, nstart) — one row per maximal span,
    covering tokens [a, b+k-1] (b-a+k tokens) from nstart matched
    starts. Shared by in-corpus substring dedup and cross-corpus span
    decontamination. Scale: both windows are partitioned by doc_id —
    state is one document, never a corpus-global key.
    """
    from pyspark.sql import Window

    byp = Window.partitionBy("doc_id").orderBy("p")
    isl = hits.withColumn(
        "brk",
        F.when(F.col("p") - F.lag("p").over(byp) > k, 1).otherwise(0),
    ).withColumn(
        "grp",
        F.sum("brk").over(byp.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return isl.groupBy("doc_id", "grp").agg(
        F.min("p").alias("a"), F.max("p").alias("b"), F.count("*").alias("nstart")
    )


def substring_dup_spans(docs: DataFrame, k: int = 8) -> DataFrame:
    """Corpus-level EXACT substring deduplication signal (the
    suffix-array dedup of Lee et al., "Deduplicating Training Data
    Makes Language Models Better", re-expressed relationally): a
    k-token shingle occurrence is *duplicated* when the same k-token
    text occurs anywhere else in the corpus (another doc or another
    position of the same doc); adjacent duplicated positions merge
    into MAXIMAL duplicated spans — exactly the ≥k-token repeated
    substrings a span-removal pass would cut.

    Returns one row per document: n_tok, n_dup_pos (duplicated shingle
    starts), n_spans (maximal spans), dup_tokens (tokens covered by
    spans — a span over starts [a..b] covers b-a+k tokens).

    Scale (100 TB): 1) the global occurrence count is a two-level
    aggregate on shingle text plus a semi-join-back — NOT a
    ``count(*) OVER (PARTITION BY g)`` window (round-5 verdict #8: a
    Zipf-hot shingle makes the window form a single unsplittable
    partition; the aggregate's map-side partial combine collapses the
    hot key to one row per input partition, and the join-back is an
    ordinary shuffle join AQE's skew handling CAN split); 2)
    per-document gaps-and-islands span merge (window partitioned by
    doc_id — state is one document); 3) one doc_id shuffle to
    re-attach totals. No self-join, no suffix array materialization:
    the relational plan reaches the same span set because a
    duplicated substring of length L ≥ k is exactly a run of L-k+1
    duplicated k-shingle starts.
    """
    from impala_cut_spark.operators.text import token_count

    # persist the positional index with the 60-bit md5 of the shingle
    # text as its key: the index feeds BOTH the occurrence count and
    # the join-back, and without the persist the tokenize+shingle
    # build ran twice (no exchange reuse — the two consumers project
    # differently). Hashed keys shuffle 8 bytes through the count and
    # the join instead of a ~50-byte 8-token string (guide §2.3); the
    # oracle replays the same hash, so a collision (≤ n²/2⁶⁰) would
    # land identically in both engines.
    pos = (
        positional_shingles(docs, k)
        .select("doc_id", "p", md5_hash60(F.col("g")).alias("h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dup_g = (
        pos.groupBy("h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > 1)
        .select("h")
    )
    dup = pos.join(dup_g, "h")
    spans = merge_token_islands(dup, k)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum("nstart").alias("n_dup_pos"),
        F.sum(F.col("b") - F.col("a") + F.lit(k)).alias("dup_tokens"),
    )
    base = docs.select("doc_id", token_count(F.col("text")).alias("n_tok"))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            F.coalesce("n_dup_pos", F.lit(0)).cast("bigint").alias("n_dup_pos"),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# block-level keep-first dedup (paragraph dedup over fixed token blocks)
# ---------------------------------------------------------------------------

#: tokens per dedup block — small enough that the synthetic corpus's
#: near-dup documents actually share aligned blocks (production: a
#: paragraph split on newline boundaries feeds the same plan)
BLOCK_TOKENS = 8


def block_dedup_keep_first(
    docs: DataFrame, block_tokens: int = BLOCK_TOKENS, text_col: str = "text"
) -> DataFrame:
    """Paragraph-granularity exact dedup with keep-first semantics
    (the RefinedWeb / FineWeb line-and-paragraph dedup stage, public
    literature): split each document into fixed ``block_tokens``-token
    blocks (the testdata has no newline structure, so blocks stand in
    for paragraphs — swapping the splitter swaps the semantics, not
    the plan), fingerprint each block, and keep only the globally
    FIRST occurrence of every distinct block — first = smallest
    (doc_id, block_id) — so re-running after an append never flips a
    previously-kept block.

    Scale: explode is a narrow fan-out; the winner per fingerprint is
    ONE aggregation (min of a (doc_id, block_id) struct — partial
    aggs combine map-side) + ONE fingerprint-keyed join-back. No
    window over the fingerprint partition — a boilerplate block
    repeated in 30% of documents would make that window partition a
    hot shard AQE cannot split (it splits joins, not windows); the
    agg+join form it CAN (the substring-dedup r6 rework pattern).

    Output: (doc_id, block_id, n_tok, keep).
    """
    from impala_cut_spark.operators.text import tokens

    base = docs.select(
        "doc_id", tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("tk")
    ).where(F.size("tk") >= 1)
    starts = F.sequence(F.lit(0), F.size("tk") - 1, F.lit(int(block_tokens)))
    blocks = base.select(
        "doc_id", "tk", F.posexplode(starts).alias("block_id", "_s")
    )
    btk = F.slice(F.col("tk"), F.col("_s") + 1, int(block_tokens))
    keyed = blocks.select(
        "doc_id",
        "block_id",
        F.size(btk).alias("n_tok"),
        md5_hash60(F.concat_ws(" ", btk)).alias("fp"),
    )
    winner = keyed.groupBy("fp").agg(
        F.min(F.struct("doc_id", "block_id")).alias("w")
    )
    return keyed.join(winner, "fp").select(
        "doc_id",
        "block_id",
        "n_tok",
        (
            (F.col("doc_id") == F.col("w.doc_id"))
            & (F.col("block_id") == F.col("w.block_id"))
        ).alias("keep"),
    )


def canonical_keeper_by_quality(docs: DataFrame, assignment: DataFrame) -> DataFrame:
    """Cluster canonicalization: given a near-dup cluster assignment
    (doc_id, cluster_id), keep the HIGHEST-QUALITY member of every
    cluster instead of the lowest-id one — the "which copy survives"
    policy real pipelines use (the freshest/cleanest crawl of a page
    wins, not the first-seen). Keeper = max (quality, then smallest
    doc_id on ties), quality in integer micro-units so the argmax is
    exact cross-engine.

    Scale: one narrow quality projection, ONE cluster-keyed aggregate
    (max of a (q_micro, -doc_id) struct — map-side partial combine
    pre-reduces a huge boilerplate cluster to one row per input
    partition) + a cluster-keyed join-back. No window over the cluster
    partition — the same skew argument as block_dedup_keep_first: a
    boilerplate cluster holding 30% of the corpus would be an
    unsplittable hot window partition, but AQE can split the join.

    Output: (doc_id, cluster_id, q_micro, keep).
    """
    from impala_cut_spark.operators.text import quality_score

    txt = F.coalesce(F.col("text"), F.lit(""))
    q = docs.select(
        "doc_id",
        F.round(quality_score(txt) * F.lit(1_000_000)).cast("bigint").alias("q_micro"),
    )
    j = assignment.select("doc_id", "cluster_id").join(q, "doc_id")
    winner = j.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col("q_micro"), (-F.col("doc_id")).alias("nd"))
        ).alias("w")
    )
    return j.join(winner, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "q_micro",
        (
            (F.col("q_micro") == F.col("w.q_micro"))
            & (F.col("doc_id") == -F.col("w.nd"))
        ).alias("keep"),
    )


def dup_block_share(
    docs: DataFrame,
    block_tokens: int = BLOCK_TOKENS,
    max_share: float = 0.3,
    text_col: str = "text",
) -> DataFrame:
    """Inter-document repetition filter (the MassiveText/RefinedWeb
    "duplicated paragraph fraction" gate, public literature): per
    document, the share of its fixed-size token blocks whose
    fingerprint also occurs in AT LEAST ONE OTHER document; documents
    above ``max_share`` are boilerplate-heavy (mirror pages, templated
    spam) and dropped.  Complements block_dedup_keep_first: that op
    deduplicates the BLOCKS, this one scores the DOCUMENTS by how
    derivative they are.

    Scale: the same keyed-block frame as block dedup (narrow explode),
    then ONE fingerprint-keyed aggregate — count(distinct doc_id) per
    fp collapses map-side via the two-level (fp, doc_id) pre-distinct
    — and a fingerprint-keyed join-back (AQE-splittable if one
    boilerplate block is Zipf-hot), then one doc-keyed agg.  No
    windows over the fp partition, no pair generation at all: cost is
    linear in total blocks regardless of how hot a block is.

    Output: (doc_id, n_blocks, n_shared, dup_share, keep) —
    dup_share = round_half_up(n_shared/n_blocks, 6).
    """
    from impala_cut_spark.operators.text import round_half_up, tokens

    base = docs.select(
        "doc_id", tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("tk")
    ).where(F.size("tk") >= 1)
    starts = F.sequence(F.lit(0), F.size("tk") - 1, F.lit(int(block_tokens)))
    blocks = base.select("doc_id", "tk", F.posexplode(starts).alias("block_id", "_s"))
    btk = F.slice(F.col("tk"), F.col("_s") + 1, int(block_tokens))
    keyed = blocks.select(
        "doc_id", "block_id", md5_hash60(F.concat_ws(" ", btk)).alias("fp")
    )
    # two-level: exact per-(fp, doc) distinct first (map-side combine
    # absorbs a hot fp), then docs-per-fp
    fp_docs = (
        keyed.select("fp", "doc_id")
        .distinct()
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("fp_docs"))
    )
    share = F.col("n_shared").cast("double") / F.col("n_blocks").cast("double")
    return (
        keyed.join(fp_docs, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.when(F.col("fp_docs") >= 2, 1).otherwise(0)).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_blocks",
            "n_shared",
            round_half_up(share, 6).alias("dup_share"),
            (round_half_up(share, 6) <= F.lit(float(max_share))).alias("keep"),
        )
    )


def soft_dedup_weights(docs: DataFrame, assignment: DataFrame) -> DataFrame:
    """Frequency-weighted soft deduplication (the SoftDeDup /
    "down-weight, don't drop" policy, public literature — e.g. He et
    al. 2024 "SoftDedup: an efficient data reweighting method"):
    instead of deleting near-duplicates, every member of an n-member
    cluster trains with sampling weight 1/n, so each distinct content
    contributes one unit of expected gradient mass while keeping the
    stylistic variance of its copies.

    Scale: one cluster-keyed count aggregate (map-side combine) + one
    cluster-keyed join-back — the same skew-safe agg+join form as the
    canonical/block families (no window over a boilerplate
    mega-cluster).

    Output: (doc_id, cluster_id, n_members, weight) — weight =
    round(1/n, 6), an exact IEEE division of small integers both
    engines round identically.
    """
    sizes = assignment.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        assignment.select("doc_id", "cluster_id")
        .join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "n_members",
            F.round(F.lit(1.0) / F.col("n_members").cast("double"), 6).alias("weight"),
        )
    )


def ngram_novelty(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct word-n-gram shingles whose FIRST corpus occurrence
    (smallest doc_id) is this document — the dedup-monitoring curve a
    growing crawl tracks (novelty collapsing toward 0 means the crawl
    is re-fetching what it already has; the per-doc score doubles as a
    keep signal for incremental ingest).  The shingle-level
    keep-first twin of dup_block_share's derivative-share.

    Scale: one shingle-keyed min aggregate over the distinct shingle
    index (map-side combine absorbs hot boilerplate shingles — min of
    a BIGINT, one row per shingle per input partition), one
    shingle-keyed join-back, one doc-keyed agg.  No windows, no pairs.

    Output: (doc_id, n_shingles, n_novel, novelty, keep) — novelty =
    round_half_up(n_novel/n_shingles, 6); docs with < n tokens have no
    shingles and are emitted with n_shingles=0 and NULL novelty.
    """
    from impala_cut_spark.operators.text import round_half_up

    sh = shingles(docs, n)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    share = F.col("n_novel").cast("double") / F.col("n_shingles").cast("double")
    scored = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            round_half_up(share, 6).alias("novelty"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("bigint").alias("n_shingles"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
            "novelty",
            F.coalesce(F.col("novelty") > 0.5, F.lit(False)).alias("keep"),
        )
    )
