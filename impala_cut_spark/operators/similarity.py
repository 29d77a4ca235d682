"""Similarity search over the ``embeddings`` table (array<float> vecs).

Families:

- exact: ``brute_force_topk`` — corpus mapInPandas × collected query
  matrix, per-batch top-k, windowed global top-k.
- near-dup pairs: ``embedding_neardup_pairs`` — banded sign-bucket LSH
  candidates + exact cosine verify (no all-pairs join); the quadratic
  ``embedding_neardup_pairs_exact`` is for tests and oracles only.
- LSH: ``lsh_topk`` — random-hyperplane signatures bucket the corpus;
  a query scans its own bucket (plus ``multi_probe`` one-bit flips).
- IVF: ``ivf_topk`` (Lloyd's-trained quantizer), ``ivf_topk_fixed``
  (frozen quantizer) and ``build_ivf_index`` / ``ivf_topk_from_index``
  (cid-partitioned materialized lists).
- SemDeDup: ``semdedup`` (frozen cells), ``semdedup_auto`` (√N cells).
- PQ: ``pq_encode_fixed`` / ``pq_encode_trained``, ADC top-k
  (``pq_adc_topk_fixed``), IVF-PQ (``ivfpq_topk_fixed``) and its exact
  rerank (``ivfpq_rerank_topk_fixed``).
- preprocessing: ``l2_normalize``, ``quantize_int8``,
  ``label_centroids``.

Every ANN operator is built from one set of private helpers, the way
one TopN and one hash-join node serve every plan: ``_top_k`` (the
per-query rank window), ``_side`` / ``_cos_scored`` (join sides and
the Arrow cosine), ``_argmin`` / ``_probe_cids`` (cell assignment and
probe lists over ``_centroid_scores`` or ``_rounded_centroid_dists``),
``_frozen`` (a literal quantizer from fixed corpus rows),
``_ivf_search``, ``_sample`` / ``_lloyd`` (driver-side training),
``_same_cell_keep`` (SemDeDup's within-cell self-join), ``_plane_proj``
(one hyperplane projection) and ``_pq_codes`` / ``_pq_table`` /
``_adc_top_k`` (PQ encode and scoring).

Cosine scoring runs as Arrow-batched numpy (pandas_udf / mapInPandas):
float32 inputs widen to float64, products are exact (24-bit
mantissas), and einsum's sequential inner-loop accumulation matches the
oracle's sequential list fold — 10-100× the interpreted
higher-order-function fold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
# a DataType instance: a DDL string would need an active SparkSession
# at import time
from pyspark.sql.types import DoubleType

from impala_cut_spark.partitioning import fan_out


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i] as a strict left fold (deterministic order).

    Used for per-ROW linear work (norms, plane projections) where it
    runs once per vector; pair-scoring hot paths use the vectorized
    Arrow kernels below instead."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@F.pandas_udf(DoubleType())
def _cos_pairs(a: pd.Series, b: pd.Series, na: pd.Series, nb: pd.Series) -> pd.Series:
    """Vectorized pair cosine: one einsum per Arrow batch.

    einsum (optimize=False) accumulates the inner axis sequentially —
    the same summation order as the SQL oracle's sequential list fold,
    over exact float32×float32 products — so rounded-to-6 values agree
    cross-engine."""
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    A = np.vstack(a.to_numpy()).astype(np.float64)
    B = np.vstack(b.to_numpy()).astype(np.float64)
    d = np.einsum("ij,ij->i", A, B)
    return pd.Series(d / (na.to_numpy() * nb.to_numpy()))


#: filter-safe variant: marking the (deterministic) kernel
#: non-deterministic stops Catalyst from INLINING it into a filter
#: above it — otherwise `select(cos).filter(cos >= τ)` evaluates the
#: Arrow kernel twice (two ArrowEvalPython nodes over the same pairs)
_cos_pairs_once = _cos_pairs.asNondeterministic()


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    return df.withColumn("_norm", norm(F.col(vec)))


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    return dot(a, b) / (norm_a * norm_b)


# ---------------------------------------------------------------------------
# shared ANN steps
# ---------------------------------------------------------------------------


def _top_k(scored: DataFrame, k: int, order, score: str) -> DataFrame:
    """Per-query top-k: row_number over (``score`` in ``order``, n_id
    ASC) — a total order, so ties break the same in the oracle."""
    w = Window.partitionBy("q_id").orderBy(order(score), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", score)
    )


def _side(vid: str, v: str, n: str, vec: str = "embedding") -> list[Column]:
    """(vec_id, vector, _norm) renamed for one side of a pair join."""
    return [F.col("vec_id").alias(vid), F.col(vec).alias(v), F.col("_norm").alias(n)]


def _cos_scored(probed: DataFrame) -> DataFrame:
    """Round-6 Arrow cosine of every (q, n) pair of a probe join of
    ``_side("n_id", "n_vec", "n_norm")`` and
    ``_side("q_id", "q_vec", "q_norm")``, self-matches dropped."""
    return probed.filter(F.col("n_id") != F.col("q_id")).select(
        "q_id",
        "n_id",
        F.round(
            _cos_pairs(F.col("q_vec"), F.col("n_vec"), F.col("q_norm"), F.col("n_norm")), 6
        ).alias("cos"),
    )


def _argmin(dists: Column) -> Column:
    """1-based argmin with ties to the lowest index (array_position
    returns the FIRST index of the min — the same tie rule as the
    oracle's ORDER BY d, id)."""
    return F.array_position(dists, F.array_min(dists)).cast("int")


def _probe_cids(dists: Column, n_probe: int) -> Column:
    """The 1-based ids of the ``n_probe`` smallest distances, nearest
    first, ties to the lower id."""
    return F.slice(
        F.transform(
            F.array_sort(
                F.transform(dists, lambda d, i: F.struct(d.alias("d"), (i + 1).alias("cid")))
            ),
            lambda s: s["cid"],
        ),
        1,
        n_probe,
    )


def _seq_sq(v: list[float]) -> float:
    acc = 0.0
    for x in v:  # sequential fold — matches DuckDB list_dot_product
        acc = acc + x * x
    return acc


def _frozen(
    embeddings: DataFrame, ids: tuple[int, ...], vec: str = "embedding"
) -> tuple[list[list[float]], list[float]]:
    """A frozen quantizer: the vectors of rows ``ids`` ordered by vec_id
    and their ``_seq_sq`` norms.  Bounded collect by contract:
    len(ids) rows — a production index trains its quantizer once and
    ships it to every executor as literals."""
    rows = (
        embeddings.filter(F.col("vec_id").isin(list(ids)))
        .orderBy("vec_id")
        .select(vec)
        .collect()
    )
    cents = [[float(x) for x in r[vec]] for r in rows]
    return cents, [_seq_sq(c) for c in cents]


# ---------------------------------------------------------------------------
# exact search and near-dup pairs
# ---------------------------------------------------------------------------


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Execution: the (small-by-contract) query set is collected into a
    numpy matrix and captured by a mapInPandas kernel over the corpus —
    one ``corpus_batch @ Q.T`` einsum per Arrow batch, with a per-batch
    (round(cos,6) DESC) top-k cut (plus a two-rounding-unit slack band
    so FP round emulation can never under-keep), then a global windowed
    top-k over the ~batches×|Q|×k survivors.

    Scale: O(|Q|·|corpus|) compute but the corpus is read ONCE (no
    crossJoin row blow-up shipping duplicated vectors), each batch
    emits only |Q|·k candidate rows, and the final shuffle moves
    ~nothing.  The bounded driver-side collect of the queries moves
    the same data a broadcast of them would.
    """
    # norms are computed in numpy on BOTH sides: sqrt of the einsum
    # self-product is the same sequential float64 accumulation over
    # exact f32 widenings as the JVM `dot` fold — bit-identical values,
    # no per-row interpreted expression over the corpus, and one less
    # double in the Arrow batch.
    qrows = queries.select("vec_id", "embedding").orderBy("vec_id").collect()
    if not qrows:
        schema = "q_id long, n_id long, rank int, cos double"
        return embeddings.sparkSession.createDataFrame([], schema)
    Q = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qnorm = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            nids = pdf["vec_id"].to_numpy(dtype=np.int64)
            nnorm = np.sqrt(np.einsum("ij,ij->i", M, M))
            # sequential inner accumulation (optimize=False) — matches
            # the oracle's sequential fold over exact f32 products
            cos = np.einsum("ij,kj->ik", M, Q) / np.outer(nnorm, qnorm)
            out_q, out_n, out_c = [], [], []
            for j in range(len(qids)):
                keep = nids != qids[j]
                cj, nj = cos[keep, j], nids[keep]
                # per-batch top-k cut on the final window's (and the
                # oracle's) (round(cos,6) DESC, n_id ASC) key, with TWO
                # 1e-6 units of slack: the FP emulation of Spark's
                # decimal HALF_UP round (floor(|x|*1e6+0.5)) can land
                # one unit off at a boundary double on the candidate
                # AND on the kth keeper at once, so the cut over-keeps
                # a 2-unit band; the final window re-ranks on Spark's
                # exact rounding, and under-keeping would drop a true
                # top-k member.
                cj_key = np.copysign(np.floor(np.abs(cj) * 1e6 + 0.5), cj)
                # NaN cosines (zero-norm vectors) sort as the LARGEST
                # value in Spark's DESC order — map them to +inf so the
                # partition cut ranks them the same way instead of a
                # NaN kth key turning every comparison False and
                # silently dropping the batch's real candidates
                cj_key = np.where(np.isnan(cj_key), np.inf, cj_key)
                if len(cj_key) > k:
                    kth = cj_key[np.argpartition(-cj_key, k - 1)[k - 1]]
                    sel = np.nonzero(cj_key >= kth - 2)[0]
                else:
                    sel = np.arange(len(cj_key))
                out_q.append(np.full(len(sel), qids[j], dtype=np.int64))
                out_n.append(nj[sel])
                out_c.append(cj[sel])
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "n_id": np.concatenate(out_n),
                    "cos": np.concatenate(out_c),
                }
            )

    # batched-numpy kernel: only fan out when there are enough bytes
    # for the shuffle to pay for itself (see partitioning.fan_out)
    corpus = fan_out(embeddings, min_bytes=4 << 20).select("vec_id", "embedding")
    scored = corpus.mapInPandas(score, "q_id long, n_id long, cos double").withColumn(
        "cos", F.round("cos", 6)
    )
    return _top_k(scored, k, F.desc, "cos")


#: sign-bucket banding layout for embedding_neardup_pairs
NEARDUP_BANDS = 8
NEARDUP_BAND_BITS = 8


def sign_band_buckets(vec: Column, n_bands: int = NEARDUP_BANDS, band_bits: int = NEARDUP_BAND_BITS) -> Column:
    """Array of per-band LSH buckets from coordinate SIGNS.

    Axis-aligned hyperplanes: band b's bucket packs the sign bits of
    coordinates [b·band_bits, (b+1)·band_bits).  Same LSH family as
    random hyperplanes for near-isotropic data, but the bucket is an
    EXACT integer function of the input (no floating-point projection
    sum) — bit-reproducible in any engine, which is what lets the
    DuckDB oracle replicate the candidate set verbatim.
    """
    buckets = []
    for b in range(n_bands):
        bits = F.lit(0)
        for j in range(band_bits):
            bits = bits + F.when(vec[b * band_bits + j] > 0, F.lit(1 << j)).otherwise(F.lit(0))
        buckets.append(bits)
    return F.array(*buckets)


def _pair_sides(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(id_a, vec_a, norm_a) over ``a`` and (id_b, vec_b, norm_b) over ``b``."""
    return (
        with_norm(a).select(*_side("id_a", "vec_a", "norm_a")),
        with_norm(b).select(*_side("id_b", "vec_b", "norm_b")),
    )


def _pair_cos(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b, round-6 cosine) of joined ``_pair_sides``."""
    return pairs.select(
        "id_a",
        "id_b",
        F.round(
            _cos_pairs_once(F.col("vec_a"), F.col("vec_b"), F.col("norm_a"), F.col("norm_b")), 6
        ).alias("cos"),
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_bands: int = NEARDUP_BANDS,
    band_bits: int = NEARDUP_BAND_BITS,
) -> DataFrame:
    """Near-dup pairs (cosine ≥ threshold, id_a < id_b) via banded
    sign-bucket LSH candidates + exact vectorized cosine verify.

    Plan shape (the 100 TB path: no all-pairs ``id_a < id_b``
    cartesian):
      1. explode per-band buckets → (band, bucket) inverted index
      2. equi-self-join on (band, bucket), id_a < id_b, DISTINCT pairs
         — candidates ≪ n², one shuffle + dedup
      3. join vectors back, exact cosine (Arrow einsum), filter ≥ τ
    Recall < 1 by construction (a pair differing in ≥1 sign per band is
    missed) — measured against embedding_neardup_pairs_exact in
    tests/test_operators.py; raise n_bands for more recall.
    """
    sig = with_norm(embeddings).select(
        "vec_id",
        "embedding",
        "_norm",
        F.posexplode(sign_band_buckets(F.col("embedding"), n_bands, band_bits)).alias(
            "band", "bucket"
        ),
    )
    a = sig.select(
        F.col("vec_id").alias("id_a"), F.col("band").alias("band_a"), F.col("bucket").alias("bkt_a")
    )
    b = sig.select(
        F.col("vec_id").alias("id_b"), F.col("band").alias("band_b"), F.col("bucket").alias("bkt_b")
    )
    cand = (
        a.join(
            b,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("bkt_a") == F.col("bkt_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    va, vb = _pair_sides(embeddings, embeddings)
    pairs = _pair_cos(cand.join(va, "id_a").join(vb, "id_b"))
    return pairs.filter(F.col("cos") >= threshold).select("id_a", "id_b", "cos")


def embedding_neardup_pairs_exact(embeddings: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold (id_a < id_b).

    QUADRATIC — ground-truth/test oracle only; the registered operator
    is the banded embedding_neardup_pairs above.
    """
    a, b = _pair_sides(fan_out(embeddings), embeddings)
    pairs = _pair_cos(a.join(b, F.col("id_a") < F.col("id_b")))
    return pairs.filter(F.col("cos") >= threshold)


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (random hyperplanes, deterministic seed)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).normal(size=(n_planes, dim)).astype(np.float64)


def _plane_proj(vec: Column, plane: np.ndarray) -> Column:
    """v·plane as a sequential fold over the plane's literals."""
    return F.aggregate(
        F.zip_with(
            vec,
            F.array(*[F.lit(float(x)) for x in plane]),
            lambda x, y: x.cast("double") * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def hyperplane_signature(df: DataFrame, dim: int, n_planes: int = 12, vec: str = "embedding") -> DataFrame:
    """Append an int bucket = sign-bit signature under n_planes random
    hyperplanes. Pure column expressions (the plane matrix is folded
    into the plan as literals — no Python in the executor)."""
    planes = _hyperplanes(dim, n_planes)
    sig = F.lit(0).cast("bigint")
    for p in range(n_planes):
        proj = _plane_proj(F.col(vec), planes[p])
        sig = sig + F.when(proj > 0, F.lit(1 << p).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return df.withColumn("bucket", sig)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    multi_probe: int = 0,
) -> DataFrame:
    """ANN top-k: compare each query only against corpus vectors in the
    SAME hyperplane bucket.

    Scale: the corpus is hash-partitioned by bucket (a pre-computable,
    materializable index); each query probes one partition instead of
    the full corpus. Recall < 1 by construction — measured against
    brute_force_topk in tests/test_operators.py.

    ``multi_probe=b``: each query ALSO probes the ``b`` buckets at
    hamming distance 1 from its own whose sign-plane projection was
    closest to the hyperplane (classic multi-probe LSH, Lv et al.,
    public literature) — the bits most likely to have been flipped by
    noise. Probe cost grows to (1+b)× query rows (the corpus side is
    untouched); recall rises accordingly. b=0 is single-probe.
    """
    corpus = hyperplane_signature(with_norm(fan_out(embeddings)), dim, n_planes).select(
        *_side("n_id", "n_vec", "n_norm"), "bucket"
    )
    qsig = hyperplane_signature(with_norm(queries), dim, n_planes)
    if multi_probe > 0:
        planes = _hyperplanes(dim, n_planes)
        # |projection| per plane = distance-to-hyperplane proxy, rounded
        # 6dp for a cross-engine-stable order (ties → lower plane
        # index); flip the multi_probe closest bits
        projs = [
            F.struct(
                F.round(F.abs(_plane_proj(F.col("embedding"), planes[p])), 6).alias("d"),
                F.lit(p).alias("p"),
            )
            for p in range(n_planes)
        ]
        flip_bits = F.slice(
            F.transform(F.array_sort(F.array(*projs)), lambda s: s["p"]), 1, multi_probe
        )
        probes = F.concat(
            F.array(F.col("bucket")),
            F.transform(
                flip_bits,
                # 1 << b with a column shift amount: 2^b is exact in
                # double for b < 53 (n_planes ≤ 64 means b ≤ 63 — the
                # sign-bit plane count is far below 53 in practice)
                lambda b: F.col("bucket").bitwiseXOR(
                    F.pow(F.lit(2.0), b.cast("double")).cast("bigint")
                ),
            ),
        )
        qsig = qsig.withColumn("bucket", F.explode(probes))
    q = qsig.select(*_side("q_id", "q_vec", "q_norm"), "bucket")
    scored = _cos_scored(corpus.join(F.broadcast(q), "bucket"))
    # multi-probe can score the same (q, n) pair from two buckets —
    # dedup before ranking so row_number stays a true top-k
    if multi_probe > 0:
        scored = scored.distinct()
    return _top_k(scored, k, F.desc, "cos")


# ---------------------------------------------------------------------------
# IVF ANN: k-means coarse quantizer + probe-nearest-lists search
# ---------------------------------------------------------------------------


def _centroid_scores(vec: Column, cents: np.ndarray) -> Column:
    """Array of ‖v−c‖² − ‖v‖² = c·c − 2·v·c per trained centroid, as
    pure column expressions (the dropped ‖v‖² cannot move the argmin)."""
    return F.array(
        *[
            F.lit(float(c @ c)) - 2.0 * dot(vec, F.array(*[F.lit(float(x)) for x in c]))
            for c in cents
        ]
    )


def _rounded_centroid_dists(vec: Column, cents: list[list[float]], cc: list[float]) -> Column:
    """Array of round(‖v−c‖² − ‖v‖², 6) per centroid: cc_c − 2·(v·c)
    with the centroid norms precomputed as literals and the dot a
    strict sequential fold — the SAME arithmetic (and rounding) the
    DuckDB oracle runs, so argmin/probe selection agrees cross-engine
    (ulp-level engine skew is absorbed by the rounding; ties break by
    centroid id in both engines)."""
    return F.array(
        *[
            F.round(F.lit(cc[i]) - 2.0 * dot(vec, F.array(*[F.lit(x) for x in c])), 6)
            for i, c in enumerate(cents)
        ]
    )


def _sample(embeddings: DataFrame, sample_size: int, vec: str = "embedding") -> np.ndarray:
    """Deterministic bounded training sample: every ⌊n/sample_size⌋-th
    vec_id, at most ``sample_size`` rows, as a float64 matrix."""
    n = embeddings.count()
    step = max(n // sample_size, 1)
    rows = (
        embeddings.filter(F.col("vec_id") % step == 0)
        .orderBy("vec_id")
        .select(vec)
        .limit(sample_size)
        .collect()
    )
    return np.array([r[0] for r in rows], dtype=np.float64)


def _lloyd(X: np.ndarray, k: int, iters: int) -> np.ndarray:
    """``iters`` rounds of Lloyd's k-means over the rows of X, seeded
    with ``k`` evenly spaced rows; an empty cell keeps its centroid."""
    cents = X[:: max(len(X) // k, 1)][:k].copy()
    for _ in range(iters):
        # ||x-c||² = x·x − 2 x·c + c·c; argmin over c drops x·x
        d2 = -2.0 * X @ cents.T + np.sum(cents * cents, axis=1)
        assign = np.argmin(d2, axis=1)
        for j in range(len(cents)):
            members = X[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def train_ivf_centroids(
    embeddings: DataFrame,
    dim: int,
    n_centroids: int = 16,
    iters: int = 4,
    vec: str = "embedding",
    sample_size: int = 20_000,
) -> np.ndarray:
    """Lloyd's k-means on a deterministic corpus SAMPLE, driver-side —
    the coarse quantizer of an IVF index.

    This is the FAISS-style split: the quantizer trains on a bounded
    sample in memory (one collect of ≤ sample_size vectors, then numpy
    Lloyd's — microseconds), and the CLUSTER ASSIGNMENT is the
    distributed pass. Training distributedly was strictly worse: every
    iteration re-built a fresh k×dim literal expression tree (new
    centroids → new plan → full recompile) plus a driver round-trip.
    At 100 TB the sample cap is also what makes training feasible at
    all — the quantizer doesn't need every vector.

    Deterministic: sample = evenly spaced vec_ids, init = evenly
    spaced sample rows.
    """
    return _lloyd(_sample(embeddings, sample_size, vec), n_centroids, iters)


def _probe_side(queries: DataFrame, dists: Column, n_probe: int) -> DataFrame:
    """One (q_id, q_vec, q_norm, cid) row per query and probed list."""
    return (
        with_norm(queries)
        .withColumn("cid", F.explode(_probe_cids(dists, n_probe)))
        .select(*_side("q_id", "q_vec", "q_norm"), "cid")
    )


def _ivf_search(
    embeddings: DataFrame, queries: DataFrame, dists: Column, k: int, n_probe: int
) -> DataFrame:
    """IVF top-k: the corpus joins the lists of its argmin over
    ``dists`` (per-centroid distances of the ``embedding`` column), each
    query its ``n_probe`` nearest, and the probe join is cosine-ranked."""
    corpus = with_norm(embeddings).withColumn("cid", _argmin(dists)).select(
        *_side("n_id", "n_vec", "n_norm"), "cid"
    )
    q = _probe_side(queries, dists, n_probe)
    return _top_k(_cos_scored(corpus.join(F.broadcast(q), "cid")), k, F.desc, "cos")


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors are bucketed by nearest centroid
    (the inverted lists); each query scans only its ``n_probe`` nearest
    lists.

    Scale: the assignment is a materializable index — at 100 TB write
    the corpus partitioned/bucketed by cid once, then each query is a
    partition-pruned scan of n_probe/n_centroids of the data. Recall
    measured against brute force in tests/test_operators.py.
    """
    cents = train_ivf_centroids(embeddings, dim, n_centroids)
    return _ivf_search(
        embeddings, queries, _centroid_scores(F.col("embedding"), cents), k, n_probe
    )


#: deterministic frozen-quantizer cell count / probe width / centroid
#: rows (evenly spaced vec_ids, present at every test SF) — shared with
#: the DuckDB oracle generator in plans/pipeline.py.
IVF_FIXED_CENTROID_IDS = tuple(i * 31 for i in range(16))
IVF_FIXED_N_PROBE = 4


def ivf_topk_fixed(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_ids: tuple[int, ...] = IVF_FIXED_CENTROID_IDS,
    n_probe: int = IVF_FIXED_N_PROBE,
) -> DataFrame:
    """IVF ANN top-k against a FROZEN coarse quantizer: the centroids
    are corpus vectors at fixed, evenly spaced vec_ids (the k-means++
    -style seeding a production index build starts from).

    This is the shape a materialized IVF index has in production: the
    quantizer is trained ONCE at index-build time and every query
    thereafter runs against those frozen centroids — so a
    deterministic, literal quantizer is the honest query-time model,
    and (the point here) it is exactly reproducible in the DuckDB
    oracle, which computes the same argmin-assignment, probe lists and
    cosine top-k from the same 16 corpus vectors.  The TRAINED
    quantizer path (Lloyd's on a bounded sample) stays in ivf_topk /
    build_ivf_index above.

    Scale: identical plan to ivf_topk — assignment is a narrow map,
    the probe join broadcasts |Q|·n_probe rows, the corpus shuffles
    once on cid (or never, with the materialized index).
    """
    cents, cc = _frozen(embeddings, centroid_ids)
    dists = _rounded_centroid_dists(F.col("embedding"), cents, cc)
    return _ivf_search(embeddings, queries, dists, k, n_probe)


# ---------------------------------------------------------------------------
# IVF index materialization: the 100 TB form of ivf_topk
# ---------------------------------------------------------------------------


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    dim: int,
    n_centroids: int = 16,
) -> np.ndarray:
    """Materialize the IVF inverted lists as a parquet table
    PARTITIONED BY the coarse-quantizer cell id.

    This is the index build a 100 TB corpus runs ONCE: after it, every
    query reads only its ``n_probe`` list partitions — a
    partition-pruned scan of n_probe/n_centroids of the data
    (asserted against PartitionFilters in tests). Returns the trained
    centroids (persist them next to the index in production).
    """
    cents = train_ivf_centroids(embeddings, dim, n_centroids)
    (
        with_norm(embeddings)
        .withColumn("cid", _argmin(_centroid_scores(F.col("embedding"), cents)))
        .write.partitionBy("cid")
        .mode("overwrite")
        .parquet(path)
    )
    return cents


def ivf_topk_from_index(
    spark,
    path: str,
    cents: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """ANN top-k over a materialized IVF index: per-query probe lists
    become a partition-column filter, so the scan reads ONLY those
    list partitions (Catalyst partition pruning — no full-corpus I/O).
    """
    corpus = spark.read.parquet(path).select(*_side("n_id", "n_vec", "n_norm"), "cid")
    q = _probe_side(queries, _centroid_scores(F.col("embedding"), cents), n_probe)
    qrows = q.collect()  # bounded by contract (small query set)
    probe_cids = sorted({r["cid"] for r in qrows})
    # partition-column filter → Catalyst prunes to the probed lists only
    pruned = corpus.filter(F.col("cid").isin(probe_cids))
    qdf = F.broadcast(spark.createDataFrame(qrows, q.schema))
    return _top_k(_cos_scored(pruned.join(qdf, "cid")), k, F.desc, "cos")


# ---------------------------------------------------------------------------
# embedding preprocessing: L2 normalization + per-label centroids
# ---------------------------------------------------------------------------


def l2_normalize(df: DataFrame, vec: str = "embedding", out: str = "unit_vec") -> DataFrame:
    """Unit-normalize the embedding column (the standard pre-index
    step: after this, cosine == dot product, so downstream ANN skips
    the per-pair norm divide).

    Pure JVM-side expression — a narrow map over the scan, no shuffle,
    no Python. Elements emitted as round(x·(1/‖v‖), 6) doubles: sqrt,
    the sequential fold, and the multiply are identically rounded in
    DuckDB, so the result is oracle-checkable.

    Plan note: the inverse norm is passed through ``array_repeat`` and
    ``zip_with`` rather than referenced inside a ``transform`` lambda —
    a lambda body re-evaluates every captured subexpression PER
    ELEMENT (the O(dim²) fold-in-lambda trap; verified via the
    optimized plan), while a function argument is evaluated once per
    row.
    """
    inv = F.lit(1.0) / norm(F.col(vec))
    return df.withColumn(
        out,
        F.zip_with(
            F.col(vec),
            F.array_repeat(inv, F.size(F.col(vec))),
            lambda x, i: F.round(x.cast("double") * i, 6),
        ),
    )


def quantize_int8(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = 127/max|x|,
    q_i = round(x_i·scale) ∈ [-127, 127] — the standard 4× embedding
    compression ahead of an ANN index build.

    Pure JVM-side expressions, narrow map, no shuffle. The scale is
    threaded through ``array_repeat``+``zip_with`` rather than captured
    in a ``transform`` lambda — a captured subexpression re-evaluates
    PER ELEMENT (the O(dim²) fold-in-lambda trap, see l2_normalize).

    Cross-engine: round() is HALF-AWAY-FROM-ZERO in both Spark and
    DuckDB, and every double op (127/m, x·s, q·inv) is the same IEEE
    sequence in both — so qvec, scale and the reconstruction error are
    oracle-checkable exactly.

    Output: vec_id, scale (round 6), qvec array<int>, max_err (round 6
    — max |dequantized − original|, bounded by ~0.5·m/127)."""
    e = F.transform(F.col(vec), lambda x: x.cast("double"))
    df = df.withColumn("_e", e)
    m = F.array_max(F.transform(F.col("_e"), F.abs))
    df = df.withColumn("_m", m)
    scale = F.when(F.col("_m") > 0, F.lit(127.0) / F.col("_m")).otherwise(F.lit(0.0))
    inv = F.when(F.col("_m") > 0, F.col("_m") / F.lit(127.0)).otherwise(F.lit(0.0))
    df = df.withColumn("_s", scale).withColumn("_inv", inv)
    rep_s = F.array_repeat(F.col("_s"), F.size(F.col("_e")))
    qvec = F.zip_with(F.col("_e"), rep_s, lambda x, s: F.round(x * s).cast("int"))
    df = df.withColumn("_q", qvec)
    rep_inv = F.array_repeat(F.col("_inv"), F.size(F.col("_e")))
    deq = F.zip_with(F.col("_q"), rep_inv, lambda q, i: q.cast("double") * i)
    err = F.array_max(F.zip_with(deq, F.col("_e"), lambda d, x: F.abs(d - x)))
    return df.select(
        "vec_id",
        F.round(F.col("_s"), 6).alias("scale"),
        F.col("_q").alias("qvec"),
        F.round(err, 6).alias("max_err"),
    )


def label_centroids(df: DataFrame, vec: str = "embedding", label: str = "label") -> DataFrame:
    """Per-label mean vector: (label, n, centroid array<double>).

    posexplode → exact-decimal sum per (label, dim) → re-assemble with
    array_agg ordered by dim. The decimal(18,9) accumulator makes the
    distributed sum ASSOCIATIVE-EXACT — the result is independent of
    partition order (a double sum would drift at 1e-15 per permutation
    and is not oracle-stable).

    Scale: one shuffle keyed by (label, dim) — dim fans the hot label
    key out 64-way for free (built-in skew resistance); the re-
    assembly groupBy(label) moves #labels×dim tiny rows.
    """
    exploded = df.select(
        F.col(label), F.posexplode(F.col(vec)).alias("dim", "x")
    )
    per_dim = exploded.groupBy(label, "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(18,9)")).alias("s"),
    )
    return (
        per_dim.withColumn(
            # cast the EXACT decimal sum to double BEFORE dividing:
            # decimal/bigint quotient scales differ between engines,
            # double division is bit-identical IEEE in both
            "mean", F.round(F.col("s").cast("double") / F.col("n"), 6)
        )
        .groupBy(label)
        .agg(
            F.first("n").alias("n"),
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("mean")))
            ).alias("_dm"),
        )
        .select(
            label,
            "n",
            F.transform(F.col("_dm"), lambda s: s["mean"]).alias("centroid"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup: within-cell duplicate marking
# ---------------------------------------------------------------------------


def _same_cell_keep(vv: DataFrame, threshold: float, vec: str) -> DataFrame:
    """(vec_id, cid, keep) over (vec_id, cid, ``vec``, _norm) rows:
    keep=0 ⇔ a lower-id vector in the same cid has round-6 cosine ≥
    ``threshold``.  The only shuffle is the cid-keyed self-join."""
    a = vv.select("cid", *_side("id_a", "va", "na", vec))
    b = vv.select("cid", *_side("id_b", "vb", "nb", vec))
    cos = F.round(cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6)
    dup_ids = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= F.lit(threshold))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        vv.select("vec_id", "cid")
        .join(dup_ids.withColumn("_dup", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.when(F.col("_dup").isNull(), 1).otherwise(0).alias("keep"),
        )
    )


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    centroid_ids: tuple[int, ...] = IVF_FIXED_CENTROID_IDS,
    vec: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public literature): cluster the corpus with a
    coarse quantizer, then mark any vector a DUPLICATE if a lower-id
    vector in the SAME cluster has cosine ≥ ``threshold``.

    Output: (vec_id, cid, keep int) for every input vector —
    keep=0 ⇔ ∃ u in cluster(v) with u.vec_id < v.vec_id and
    round(cos(u, v), 6) ≥ threshold.

    The clustering bounds the quadratic: the pairwise check is a
    self-join WITHIN cid only — exactly the SemDeDup design point (the
    paper clusters a 5B-document corpus into 100k cells so each cell's
    pair count is tractable).  At 100 TB, size the centroid count so
    cells stay bounded (cells ≈ √N keeps total pair work ~N^1.5 worst
    case, far below N²); assignment itself is a narrow map over one
    scan, and the only shuffle is the cid-keyed self-join.

    Cross-engine: the frozen-quantizer assignment (argmin of rounded
    centroid distances, ties → lowest cid) and the rounded sequential-
    fold cosine are the same arithmetic the DuckDB oracle replays —
    fully oracle-checkable, like ivf_topk_fixed.
    """
    cents, cc = _frozen(embeddings, centroid_ids, vec)
    nearest = _argmin(_rounded_centroid_dists(F.col(vec), cents, cc))
    return _same_cell_keep(with_norm(embeddings, vec).withColumn("cid", nearest), threshold, vec)


#: paper-scale cap on the √N rule (Abbas et al. cluster 5B docs into
#: 100k cells)
SEMDEDUP_MAX_CELLS = 100_000


def semdedup_cells(n: int) -> int:
    """The production cell-count rule: cells = clamp(⌊√N⌋, 1, 100k).
    √N balances the two N·cells-shaped costs — assignment work
    (N × cells distance evaluations) against within-cell pair work
    (~N²/cells cosines) — total ~N^1.5, far below the N² of a flat
    self-join.  Integer-exact via isqrt; the DuckDB replay uses
    floor(sqrt(N)) on doubles, identical for any N below 2^52 (the
    correctly-rounded IEEE sqrt of an exactly-representable integer
    first diverges from isqrt near 2^52 ≈ 4.5e15 rows)."""
    import math

    return max(1, min(math.isqrt(n), SEMDEDUP_MAX_CELLS))


def semdedup_auto(
    embeddings: DataFrame, threshold: float = 0.9, vec: str = "embedding"
) -> DataFrame:
    """``semdedup`` with the production sizing wired in: cells ≈ √N,
    centroids picked by a deterministic stride rule (every
    ⌊N/cells⌋-th vec_id, first ``cells`` of them), and — because √N
    cells outgrows literal expression trees — the assignment runs as a
    BROADCAST JOIN against the centroid frame instead of per-centroid
    literal distance expressions: no driver collect at all, and
    100k-cell codebooks broadcast as ordinary relations (a few hundred
    MB of vectors) exactly like any other small dimension table.

    Output and semantics identical to ``semdedup`` (keep=0 ⇔ a
    lower-id same-cell vector has rounded cosine ≥ τ); only the
    quantizer sizing/selection and the assignment's physical form
    differ.  One driver-side count() sizes the rule; the oracle
    replays the same arithmetic from SQL count(*).

    Scale note: total work is Θ(N^1.5) BY DESIGN (the paper's
    trade), so the 10×-growth wall ratio is expected around
    10^1.5 ≈ 31× on the compute term — while the ABSOLUTE big-scale
    cost collapses versus a fixed small cell count (whose pair term
    is quadratic): at 10× sf0.1, ~29M distance+cosine evaluations
    versus the fixed-16-cell variant's ~225M.
    """
    n = embeddings.count()
    cells = semdedup_cells(n)
    stride = max(1, n // cells)
    cents = (
        embeddings.filter(F.col("vec_id") % stride == 0)
        .withColumn("cid", F.row_number().over(Window.orderBy("vec_id")))
        .filter(F.col("cid") <= cells)
        .select(
            "cid",
            F.col(vec).alias("ce"),
            dot(F.col(vec), F.col(vec)).alias("cc"),
        )
    )
    nv = with_norm(embeddings, vec)
    d = F.round(F.col("cc") - 2.0 * dot(F.col(vec), F.col("ce")), 6)
    assign = (
        nv.select("vec_id", vec)
        .join(F.broadcast(cents), how="cross")
        .select("vec_id", d.alias("d"), "cid")
        .groupBy("vec_id")
        .agg(F.min(F.struct("d", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"))
    )
    return _same_cell_keep(nv.join(assign, "vec_id"), threshold, vec)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the IVF-PQ compression path
# ---------------------------------------------------------------------------

#: frozen PQ codebook = subvectors of these 16 corpus rows (disjoint
#: from IVF_FIXED_CENTROID_IDS so the two frozen quantizers differ)
PQ_FIXED_CODE_IDS = tuple(11 + i * 13 for i in range(16))
PQ_SUBSPACES = 8


def _pq_codebooks(
    embeddings: DataFrame, dim: int, m: int, code_ids: tuple[int, ...]
) -> list[list[list[float]]]:
    """books[s][j] = subvector s of frozen-codebook row j (j ordered by
    vec_id, 0-based here / 1-based as emitted codes), sliced from
    ``_frozen``'s rows."""
    sub = dim // m
    rows, _ = _frozen(embeddings, code_ids)
    return [[r[s * sub : (s + 1) * sub] for r in rows] for s in range(m)]


def _pq_dists(books: list[list[list[float]]], s: int, sub: int) -> Column:
    """Array of 16 shifted distances round(‖c‖² − 2·(sv_s·c), 6) from
    this row's subvector s to each codebook entry."""
    sv = F.slice(F.col("embedding"), s * sub + 1, sub)
    return F.array(
        *[
            F.round(
                F.lit(_seq_sq(c)) - 2.0 * dot(sv, F.array(*[F.lit(x) for x in c])),
                6,
            )
            for c in books[s]
        ]
    )


def _pq_codes(books: list[list[list[float]]], m: int, sub: int) -> Column:
    """Array of the ``m`` 1-based per-subspace codes of the row."""
    return F.array(*[_argmin(_pq_dists(books, s, sub)) for s in range(m)])


def _pq_table(books: list[list[list[float]]], m: int, sub: int) -> Column:
    """The row's ADC lookup table: dt[s] = ``_pq_dists`` of subspace s."""
    return F.array(*[_pq_dists(books, s, sub) for s in range(m)])


def _adc_top_k(paired: DataFrame, k: int) -> DataFrame:
    """Per-query top-k by ascending round-4 Σ_s dt[s][codes[s]] over
    (q_id, dt) × (n_id, codes) pairs."""
    adc = F.aggregate(
        F.zip_with(F.col("dt"), F.col("codes"), lambda tbl, c: F.element_at(tbl, c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return _top_k(paired.select("q_id", "n_id", F.round(adc, 4).alias("adc")), k, F.asc, "adc")


def _pq_encode_with_books(
    embeddings: DataFrame, books: list[list[list[float]]], m: int, sub: int
) -> DataFrame:
    """Shared encode plan for frozen and trained codebooks: per-subspace
    argmin codes + summed reconstruction distortion (fixed left-assoc
    order — the arithmetic the fixed-codebook oracle replays)."""
    code_cols = []
    err_terms = []
    for s in range(m):
        sv = F.slice(F.col("embedding"), s * sub + 1, sub)
        dists = _pq_dists(books, s, sub)
        code_cols.append(_argmin(dists).alias(f"c{s}"))
        err_terms.append(F.round(dot(sv, sv), 6) + F.array_min(dists))
    out = embeddings.select("vec_id", *code_cols, *[
        e.alias(f"_e{s}") for s, e in enumerate(err_terms)
    ])
    err = F.col("_e0")
    for s in range(1, m):
        err = err + F.col(f"_e{s}")
    from impala_cut_spark.operators.text import round_half_up

    return out.select(
        "vec_id",
        F.concat_ws(",", *[F.col(f"c{s}") for s in range(m)]).alias("codes"),
        round_half_up(err, 4).alias("recon_err"),
    )


def pq_encode_fixed(
    embeddings: DataFrame,
    dim: int = 64,
    m: int = PQ_SUBSPACES,
    code_ids: tuple[int, ...] = PQ_FIXED_CODE_IDS,
) -> DataFrame:
    """Product-quantization encode against a FROZEN codebook: split
    each vector into ``m`` subvectors, store per subspace the 1-based
    id of the nearest of 16 codebook subvectors — 64 floats become 8
    small ints (32× compression), the payload an IVF-PQ index scans.

    The codebook is frozen corpus subvectors (PQ_FIXED_CODE_IDS), the
    production query-time shape — a real index trains its codebook
    once at build time; k-means-training it is the same Lloyd's loop
    as train_ivf_centroids run per subspace.  Frozen literals make the
    whole encode DuckDB-replayable: argmin over
    round(‖c‖² − 2·(sv·c), 6) with ties to the lowest code id — the
    same affine argmin trick as ivf_topk_fixed (the ‖sv‖² term is
    constant per (row, subspace) and cannot change the argmin).

    Scale: pure JVM expressions over array slices — a narrow map at
    scan speed, no shuffle, no Python.  Output: vec_id, codes
    (concat_ws string — driver-window-safe), recon_err (round 4 —
    Σ_s ‖sv_s − c_code‖², the quantization distortion; its components
    are rounded to 6dp so both engines sum identical doubles in the
    same order).
    """
    books = _pq_codebooks(embeddings, dim, m, code_ids)
    return _pq_encode_with_books(embeddings, books, m, dim // m)


def pq_adc_topk_fixed(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    m: int = PQ_SUBSPACES,
    code_ids: tuple[int, ...] = PQ_FIXED_CODE_IDS,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — how an IVF-PQ
    index scores candidates: the query stays full-precision, each
    corpus vector is its 8 codes, and distance is Σ_s table_s[code_s]
    from a per-query lookup table of query-subvector-to-centroid
    distances (8×16 doubles per query, built once).

    The emitted ``adc`` is the shifted key Σ_s round(‖c‖²−2·(q_s·c),6)
    — the true ADC distance minus the per-query constant Σ_s ‖q_s‖²,
    so ranking is identical and every summand is an exactly-rounded
    double both engines reproduce (round 4 on the sum absorbs
    accumulation residue).  Ties break by n_id ascending.

    Scale: corpus side carries ONLY (vec_id, 8 codes) — the entire
    point of PQ: a 100 TB float corpus becomes ~3 TB of codes scanned
    at memory bandwidth; the query table (|Q|·m·16 doubles) broadcasts.
    One shuffle for the per-query top-k.
    """
    books = _pq_codebooks(embeddings, dim, m, code_ids)
    sub = dim // m
    coded = embeddings.select(
        F.col("vec_id").alias("n_id"), _pq_codes(books, m, sub).alias("codes")
    )
    qt = queries.select(F.col("vec_id").alias("q_id"), _pq_table(books, m, sub).alias("dt"))
    return _adc_top_k(coded.join(F.broadcast(qt), F.col("n_id") != F.col("q_id")), k)


def ivfpq_topk_fixed(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    m: int = PQ_SUBSPACES,
    centroid_ids: tuple[int, ...] = IVF_FIXED_CENTROID_IDS,
    code_ids: tuple[int, ...] = PQ_FIXED_CODE_IDS,
    n_probe: int = IVF_FIXED_N_PROBE,
) -> DataFrame:
    """IVF-PQ: the production 100 TB ANN architecture end-to-end —
    coarse quantizer prunes the corpus to ``n_probe``/16 cells, PQ
    codes replace the vectors inside each cell, ADC scores
    candidates.  Composition of ivf_topk_fixed's assignment/probing
    and pq_adc_topk_fixed's code scan, both against FROZEN quantizers,
    so the whole pipeline stays DuckDB-replayable.

    This is the shared-codebook (non-residual) IVF-PQ variant: codes
    quantize the raw vector, not the cell residual (FAISS's default
    residual encoding would need a per-cell codebook — the frozen
    shared codebook keeps the oracle exact; recall cost of skipping
    residuals is modest at 16 cells and documented in tests).

    Scale shape: the corpus carries (cid, 8 codes) ONLY — with the
    index materialized cid-partitioned (build_ivf_index's layout),
    a query reads n_probe/16 of ~3% of the original bytes; the
    query-side probe lists and distance tables broadcast; one shuffle
    for the final per-query top-k.
    """
    books = _pq_codebooks(embeddings, dim, m, code_ids)
    sub = dim // m
    cents, cc = _frozen(embeddings, centroid_ids)
    cdists = _rounded_centroid_dists(F.col("embedding"), cents, cc)
    corpus = embeddings.select(
        F.col("vec_id").alias("n_id"),
        _argmin(cdists).alias("cid"),
        _pq_codes(books, m, sub).alias("codes"),
    )
    qt = queries.select(
        F.col("vec_id").alias("q_id"),
        F.explode(_probe_cids(cdists, n_probe)).alias("cid"),
        _pq_table(books, m, sub).alias("dt"),
    )
    paired = corpus.join(F.broadcast(qt), "cid").filter(F.col("n_id") != F.col("q_id"))
    return _adc_top_k(paired, k)


def train_pq_codebooks(
    embeddings: DataFrame,
    dim: int = 64,
    m: int = PQ_SUBSPACES,
    k: int = 16,
    iters: int = 10,
    sample_size: int = 20_000,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd's k-means on a deterministic bounded sample —
    the trained PQ codebook (FAISS ProductQuantizer.train's split:
    train driver-side on a sample, encode distributedly).  Same
    sample/init determinism rules as train_ivf_centroids; returns
    books[s][j] in the layout pq_encode_fixed consumes, so the trained
    books plug into the same encode/ADC plans as the frozen ones."""
    X = _sample(embeddings, sample_size)
    sub = dim // m
    return [
        [[float(x) for x in c] for c in _lloyd(X[:, s * sub : (s + 1) * sub], k, iters)]
        for s in range(m)
    ]


def pq_encode_trained(
    embeddings: DataFrame,
    dim: int = 64,
    m: int = PQ_SUBSPACES,
) -> DataFrame:
    """pq_encode_fixed's plan against TRAINED per-subspace codebooks
    (train_pq_codebooks).  Rows-only correctness check — trained
    centroids are not SQL-expressible; distortion dominance over the
    frozen codebook is asserted in tests."""
    books = train_pq_codebooks(embeddings, dim, m)
    return _pq_encode_with_books(embeddings, books, m, dim // m)


def ivfpq_rerank_topk_fixed(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    r: int = 20,
    dim: int = 64,
    m: int = PQ_SUBSPACES,
    centroid_ids: tuple[int, ...] = IVF_FIXED_CENTROID_IDS,
    code_ids: tuple[int, ...] = PQ_FIXED_CODE_IDS,
    n_probe: int = IVF_FIXED_N_PROBE,
) -> DataFrame:
    """Two-stage retrieval: IVF-PQ candidate generation (stage 1,
    ``r`` candidates per query by ADC over the probed cells) followed
    by EXACT cosine re-ranking of just those candidates against the
    full-precision vectors (stage 2) — the standard production ANN
    architecture (FAISS search-then-refine / every serving stack's
    retrieve+rerank): PQ compression buys the scan, the exact rerank
    buys back the precision lost to 8-byte codes, and the refine cost
    is O(|Q|·r), independent of corpus size.

    Scale (100 TB): stage 1 is ivfpq_topk_fixed unchanged (codes-only,
    cell-pruned scan). Stage 2 never shuffles the corpus: the ≤|Q|·r
    candidate table (with query vectors attached) BROADCASTS into a
    corpus join keyed by vec_id — one map-side hash join over the full
    vector scan picks up the r·|Q| needed rows — then one tiny
    per-query window ranks them.

    Output: (q_id, n_id, rank, cos) — rank by exact round-6 cosine
    DESC, n_id tiebreak.
    """
    cands = ivfpq_topk_fixed(
        embeddings, queries, k=r, dim=dim, m=m,
        centroid_ids=centroid_ids, code_ids=code_ids, n_probe=n_probe,
    ).select("q_id", "n_id")
    qv = with_norm(queries).select(*_side("q_id", "qe", "qn"))
    probe = cands.join(qv, "q_id")  # ≤ |Q|·r rows, query vecs attached
    nv = with_norm(embeddings).select(*_side("n_id", "ne", "nn"))
    scored = nv.join(F.broadcast(probe), "n_id").select(
        "q_id",
        "n_id",
        F.round(
            cosine(F.col("qe"), F.col("ne"), F.col("qn"), F.col("nn")), 6
        ).alias("cos"),
    )
    return _top_k(scored, k, F.desc, "cos")
