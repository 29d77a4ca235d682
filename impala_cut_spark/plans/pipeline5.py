"""Round-7 LLM-data-pipeline queries.

Same contract as pipeline.py: every entry returns a DataFrame whose
rendered rows strict-match the DuckDB oracle (registry.py determinism
rules — exact integer/decimal arithmetic, transcendentals rounded to
6dp before use, round_half_up for cross-engine .5 ties).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from impala_cut_spark.operators import similarity
from impala_cut_spark.plans._util import t
from impala_cut_spark.plans.pipeline import _SQL_VECS
from impala_cut_spark.plans.registry import query


# ---------------------------------------------------------------------------
# SemDeDup with the production cells≈√N sizing (round-6 verdict #5)
# ---------------------------------------------------------------------------


def _semdedup_auto_oracle(threshold: float = 0.9) -> str:
    """DuckDB replay of the √N-sized quantizer: the cell count and the
    stride rule are SQL-computable from count(*) (floor(sqrt(N)) on
    doubles ≡ Python isqrt below 2^52 rows — similarity.semdedup_cells),
    so the oracle derives the same centroid set with no literals."""
    return f"""
WITH {_SQL_VECS},
params AS (SELECT count(*) AS n,
                  greatest(1, least(CAST(floor(sqrt(count(*))) AS BIGINT),
                                    {similarity.SEMDEDUP_MAX_CELLS})) AS cells
           FROM v),
cents AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid,
                 e AS ce, list_dot_product(e, e) AS cc
          FROM v, params
          WHERE vec_id % greatest(1, CAST(floor(CAST(n AS DOUBLE) / cells) AS BIGINT)) = 0
          QUALIFY cid <= cells),
dist AS (SELECT n.vec_id, c.cid,
                round(c.cc - 2.0 * list_dot_product(n.e, c.ce), 6) AS d
         FROM v n CROSS JOIN cents c),
assign AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
             FROM dist) WHERE rn = 1),
vv AS (SELECT n.vec_id, a.cid, n.e, n.nm
       FROM nv n JOIN assign a ON a.vec_id = n.vec_id),
dups AS (SELECT DISTINCT y.vec_id
         FROM vv x JOIN vv y ON x.cid = y.cid AND x.vec_id < y.vec_id
         WHERE round(list_dot_product(x.e, y.e) / (x.nm * y.nm), 6) >= {threshold})
SELECT v.vec_id, v.cid,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
FROM vv v LEFT JOIN dups d ON d.vec_id = v.vec_id
"""


@query("pipe_semdedup_auto", oracle=_semdedup_auto_oracle())
def pipe_semdedup_auto(spark, sf_dir):
    """SemDeDup with the production cells≈√N sizing wired in
    (operators/similarity.py semdedup_auto; round-6 verdict #5):
    centroid count scales with the corpus (√N balances assignment
    work against within-cell pair work at ~N^1.5 total), centroids
    picked by a deterministic SQL-expressible stride rule, and the
    assignment runs as a broadcast join against the centroid frame —
    no driver collect, no literal expression trees, so the same plan
    carries the paper's 100k-cell regime.  pipe_embed_semdedup keeps
    the frozen 16-cell variant (its pinned test value and oracle are
    unchanged)."""
    return similarity.semdedup_auto(t(spark, sf_dir, "embeddings"), threshold=0.9)


# ---------------------------------------------------------------------------
# inter-document block repetition filter
# ---------------------------------------------------------------------------

_SQL_TOKS = "list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '')"
_BLOCK = 8  # dedup.BLOCK_TOKENS


def _dup_block_share_oracle() -> str:
    from impala_cut_spark.plans._util import SQL_H60

    h = SQL_H60.format(
        x=f"array_to_string(tk[block_id*{_BLOCK}+1 : block_id*{_BLOCK}+{_BLOCK}], ' ')"
    )
    return f"""
WITH l AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
nz AS (SELECT doc_id, tk FROM l WHERE len(tk) >= 1),
blocks AS (SELECT doc_id, tk,
                  unnest(range(0, CAST(ceil(len(tk) / {_BLOCK}.0) AS BIGINT)))
                    AS block_id
           FROM nz),
keyed AS (SELECT doc_id, block_id, {h} AS fp FROM blocks),
fpd AS (SELECT fp, count(DISTINCT doc_id) AS fp_docs FROM keyed GROUP BY 1),
agg AS (SELECT doc_id, count(*) AS n_blocks,
               sum(CASE WHEN fp_docs >= 2 THEN 1 ELSE 0 END) AS n_shared
        FROM keyed JOIN fpd USING (fp) GROUP BY 1)
SELECT doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
       CAST(n_shared AS BIGINT) AS n_shared,
       floor(CAST(n_shared AS DOUBLE) / n_blocks * 1000000 + 0.5) / 1000000
         AS dup_share,
       floor(CAST(n_shared AS DOUBLE) / n_blocks * 1000000 + 0.5) / 1000000 <= 0.3
         AS keep
FROM agg
"""


@query("pipe_dup_block_share", oracle=_dup_block_share_oracle())
def pipe_dup_block_share(spark, sf_dir):
    """Inter-document repetition filter (operators/dedup.py
    dup_block_share; the MassiveText/RefinedWeb duplicated-paragraph-
    fraction gate, public literature): per document, the share of its
    8-token blocks whose fingerprint occurs in ≥2 distinct documents;
    docs above 30% are boilerplate-heavy and dropped. One fp-keyed
    two-level aggregate (per-(fp,doc) distinct collapses map-side) +
    fp-keyed join-back + doc-keyed agg — no windows, no pairs, linear
    in total blocks however hot a block is."""
    from impala_cut_spark.operators import dedup

    return dedup.dup_block_share(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# soft deduplication: down-weight, don't drop
# ---------------------------------------------------------------------------


def _soft_dedup_oracle() -> str:
    from impala_cut_spark.plans.registry import REGISTRY

    clusters = REGISTRY["pipe_dedup_clusters"].oracle.strip()
    return f"""
WITH cl AS ({clusters}),
sz AS (SELECT cluster_id, count(*) AS n_members FROM cl GROUP BY 1)
SELECT cl.doc_id, cl.cluster_id, CAST(sz.n_members AS BIGINT) AS n_members,
       floor(1.0 / sz.n_members * 1000000 + 0.5) / 1000000 AS weight
FROM cl JOIN sz USING (cluster_id)
"""


@query("pipe_dedup_weights", oracle=_soft_dedup_oracle())
def pipe_dedup_weights(spark, sf_dir):
    """Frequency-weighted soft deduplication (operators/dedup.py
    soft_dedup_weights; the SoftDeDup "down-weight, don't drop"
    policy, public literature): every member of an n-member near-dup
    cluster gets sampling weight 1/n — distinct content contributes
    one unit of expected gradient mass while keeping its copies'
    variance. One cluster-keyed count agg + join-back (the canonical/
    block skew-safe form). Oracle nests the connected-components
    replay; weight uses round_half_up so 1/2^k values (1/128 =
    0.0078125 is an exact 6dp tie) cannot flip cross-engine."""
    from impala_cut_spark.operators import dedup

    docs = t(spark, sf_dir, "documents")
    prs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2).select("id_a", "id_b")
    assignment = dedup.dedup_cluster_assignment(docs, prs)
    return dedup.soft_dedup_weights(docs, assignment)


# ---------------------------------------------------------------------------
# DSIR importance-resampling selection
# ---------------------------------------------------------------------------


def _dsir_oracle() -> str:
    from impala_cut_spark.operators.corpus import DSIR_BUCKETS, DSIR_TARGET_LANG
    from impala_cut_spark.plans._util import SQL_H60

    h = SQL_H60.format(x="tk[i-1] || chr(31) || tk[i]")
    b = DSIR_BUCKETS
    return f"""
WITH l AS (SELECT doc_id, lang = '{DSIR_TARGET_LANG}' AS is_target,
                  {_SQL_TOKS} AS tk
           FROM documents),
f0 AS (SELECT doc_id, is_target, tk,
              unnest(range(2, len(tk) + 1)) AS i
       FROM l WHERE len(tk) >= 2),
feats AS (SELECT doc_id, is_target, {h} % {b} AS bk FROM f0),
cnt AS (SELECT bk,
               sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
               count(*) AS cr
        FROM feats GROUP BY 1),
tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr
        FROM cnt),
sc AS (SELECT doc_id, count(*) AS n_feat,
              sum(CAST(round(ln(CAST(ct + 1 AS DOUBLE) / (tt + {b})), 6)
                       AS DECIMAL(18,6)))
              - sum(CAST(round(ln(CAST(cr + 1 AS DOUBLE) / (tr + {b})), 6)
                         AS DECIMAL(18,6))) AS s
       FROM feats JOIN cnt USING (bk) CROSS JOIN tot
       GROUP BY 1),
fin AS (SELECT doc_id,
               CAST(n_feat AS BIGINT) AS n_feat,
               CASE WHEN s >= 0
                    THEN floor(CAST(s AS DOUBLE) / n_feat * 1000000 + 0.5) / 1000000
                    ELSE -floor(-CAST(s AS DOUBLE) / n_feat * 1000000 + 0.5) / 1000000
               END AS avg_logratio
        FROM sc)
SELECT l.doc_id, l.is_target,
       coalesce(f.n_feat, 0) AS n_feat,
       f.avg_logratio,
       coalesce(f.avg_logratio > 0, false) AS keep
FROM l LEFT JOIN fin f USING (doc_id)
"""


@query("pipe_dsir_weights", oracle=_dsir_oracle())
def pipe_dsir_weights(spark, sf_dir):
    """DSIR importance-resampling selection (operators/corpus.py
    dsir_importance_weights; Xie et al. 2023, public literature):
    hashed-bigram features, add-one-smoothed target-vs-raw unigram
    feature distributions, per-doc mean log importance ratio — the
    'pick corpus slices that look like the target domain' selector.
    ONE tokenize pass; target and raw counts ride the SAME bucket
    aggregate as conditional sums; the bucket table is ≤4096 rows by
    construction so the scoring join broadcasts at any corpus size."""
    from impala_cut_spark.operators import corpus

    return corpus.dsir_importance_weights(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# n-gram novelty: the dedup-monitoring curve
# ---------------------------------------------------------------------------


def _novelty_oracle(n: int = 3) -> str:
    return f"""
WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, s FROM (
         SELECT doc_id,
                unnest(CASE WHEN len(t) >= {n}
                            THEN list_transform(range(1, len(t) - {n} + 2),
                                   i -> array_to_string(t[i : i + {n} - 1], ' '))
                            ELSE [] END) AS s
         FROM tk)),
first AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY 1),
agg AS (SELECT sh.doc_id, count(*) AS n_shingles,
               sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS n_novel
        FROM sh JOIN first f USING (s) GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(a.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(coalesce(a.n_novel, 0) AS BIGINT) AS n_novel,
       floor(CAST(a.n_novel AS DOUBLE) / a.n_shingles * 1000000 + 0.5) / 1000000
         AS novelty,
       coalesce(floor(CAST(a.n_novel AS DOUBLE) / a.n_shingles * 1000000 + 0.5)
                  / 1000000 > 0.5, false) AS keep
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@query("pipe_ngram_novelty", oracle=_novelty_oracle())
def pipe_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty (operators/dedup.py ngram_novelty):
    fraction of a doc's distinct 3-gram shingles whose FIRST corpus
    occurrence (min doc_id) is this doc — the dedup-monitoring curve a
    growing crawl tracks, and a keep-first signal for incremental
    ingest. One shingle-keyed min agg (map-side combine absorbs
    boilerplate) + join-back + doc agg — no windows, no pairs."""
    from impala_cut_spark.operators import dedup

    return dedup.ngram_novelty(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# ANN index-quality report: recall@k of IVF vs brute-force ground truth
# ---------------------------------------------------------------------------


def _ann_recall_oracle() -> str:
    from impala_cut_spark.plans.registry import REGISTRY

    bf = REGISTRY["pipe_ann_topk"].oracle.strip()
    ivf = REGISTRY["pipe_ann_ivf"].oracle.strip()
    return f"""
WITH bf AS (SELECT * FROM ({bf})),
ivf AS (SELECT * FROM ({ivf})),
hit AS (SELECT b.q_id, count(*) AS n_hit
        FROM bf b JOIN ivf i ON i.q_id = b.q_id AND i.n_id = b.n_id
        GROUP BY 1),
qs AS (SELECT DISTINCT q_id FROM bf)
SELECT q.q_id,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       floor(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5.0 * 1000000 + 0.5)
         / 1000000 AS recall_at_5
FROM qs q LEFT JOIN hit h USING (q_id)
"""


@query("pipe_ann_recall", oracle=_ann_recall_oracle())
def pipe_ann_recall(spark, sf_dir):
    """ANN index-quality report: per-query recall@5 of the IVF index
    (probe-4-of-16, frozen quantizer — pipe_ann_ivf's exact search)
    against the brute-force cosine ground truth (pipe_ann_topk) — the
    monitoring job every production vector index runs after a rebuild
    ("did the cell layout still cover the true neighbors?").  Pure
    composition of the two existing searches: one (q_id, n_id) equi
    join + per-query count; the oracle nests both components' full
    replays as CTE subqueries and computes the identical fraction."""
    from pyspark.sql import functions as F

    from impala_cut_spark.operators.text import round_half_up

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    bf = similarity.brute_force_topk(emb, queries, k=5).select("q_id", "n_id")
    ivf = similarity.ivf_topk_fixed(emb, queries, k=5).select("q_id", "n_id")
    hit = bf.join(ivf, ["q_id", "n_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        bf.select("q_id")
        .distinct()
        .join(hit, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
            round_half_up(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.lit(5.0), 6
            ).alias("recall_at_5"),
        )
    )


# ---------------------------------------------------------------------------
# codec round-trip conformance (round-8: PNG/GIF/PPM in-plan)
# ---------------------------------------------------------------------------


def _codec_roundtrip_oracle() -> str:
    """The codec paths under test are EXACT (PNG/GIF/PPM/TIFF/BMP
    lossless;
    the JPEG arm's flat even-valued blocks quantize losslessly at
    quality 50), so the oracle needs no image code: the expected mean
    pixel byte comes straight from md5(text)'s hex digest — all 16
    bytes for the lossless arms, the first 4 bytes with the low bit
    cleared for the JPEG arm."""
    return """
WITH h AS (SELECT doc_id, md5(coalesce(text, '')) AS hx FROM documents),
b AS (SELECT doc_id, hx, unnest(range(0, 16)) AS i FROM h),
v AS (SELECT doc_id, i,
             (strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INT), 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS byte
      FROM b)
SELECT doc_id,
       CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
            WHEN 2 THEN 'ppm' WHEN 3 THEN 'tiff' WHEN 4 THEN 'jpeg'
            ELSE 'bmp' END AS codec,
       CAST(CASE WHEN doc_id % 6 = 4 THEN 256 ELSE 16 END AS BIGINT) AS n_px,
       floor(avg(CASE WHEN doc_id % 6 = 4
                      THEN CASE WHEN i < 4 THEN CAST(byte - byte % 2 AS DOUBLE) END
                      ELSE CAST(byte AS DOUBLE) END) * 1000000 + 0.5) / 1000000
         AS mean_byte
FROM v
GROUP BY doc_id
"""


@query("pipe_multimodal_codec", oracle=_codec_roundtrip_oracle())
def pipe_multimodal_codec(spark, sf_dir):
    """Codec-conformance pass (round 8, JPEG+TIFF arms round 9): every
    document's md5 digest becomes a deterministic image, encoded with a
    REAL codec chosen by doc_id % 6 (PNG / GIF / PPM / TIFF-LZW+
    predictor / BMP — all lossless — plus the exact-by-construction JPEG arm:
    flat even-valued 8x8 blocks quantize losslessly at quality 50 while
    driving DC prediction, huffman coding and both T.81 scan layouts),
    decoded back through decode_image's signature dispatch, and reduced
    to the mean pixel byte.  Exactness makes the oracle codec-free:
    DuckDB parses md5(text)'s hex bytes and averages them - an encode
    or decode defect anywhere in the in-plan codec path breaks the hash
    match.  Scale: one Arrow-batched narrow map, no shuffle."""
    from impala_cut_spark.operators.multimodal import codec_roundtrip_features

    return codec_roundtrip_features(t(spark, sf_dir, "documents"))


def _video_meta_oracle() -> str:
    """The container round-trip is lossless struct packing, so the
    oracle replays the expected facts directly from the document
    columns the payload was built from."""
    return """
SELECT doc_id,
       'isom' AS brand,
       floor(CAST(n_chars AS DOUBLE) / 1000 * 1000000 + 0.5) / 1000000
         AS duration_sec,
       CAST(n_chars % 100 + 1 AS BIGINT) AS n_samples,
       CAST(n_chars % 7 + 1 AS BIGINT) AS n_keyframes,
       CAST(n_chars % 100 + 1 AS BIGINT) >= 10 AS keep
FROM documents
"""


@query("pipe_multimodal_video", oracle=_video_meta_oracle())
def pipe_multimodal_video(spark, sf_dir):
    """Round-8 video-container conformance + prune pass: each document
    fabricates a deterministic minimal MP4 (ISO/IEC 14496-12 box tree
    via multimodal.build_minimal_mp4 — duration n_chars ms, sample and
    keyframe counts derived from n_chars), parses it back through
    mp4_metadata (the prune-before-decode stage a 100 TB video
    pipeline runs), and emits the parsed facts plus a keyframe-budget
    keep gate.  The struct round-trip is lossless, so the oracle needs
    no container code: it recomputes the facts from n_chars.  Scale:
    one Arrow-batched narrow map, no shuffle."""
    import math

    import pandas as pd

    from impala_cut_spark.operators.multimodal import (
        build_minimal_mp4,
        mp4_metadata,
    )

    docs = t(spark, sf_dir, "documents")

    def _rt(batches):
        for pdf in batches:
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                n = int(n_chars)
                payload = build_minimal_mp4(
                    duration_ms=n, n_samples=n % 100 + 1, n_keyframes=n % 7 + 1
                )
                meta = mp4_metadata(payload)
                vid = next(t_ for t_ in meta["tracks"] if t_["handler"] == "vide")
                rows.append(
                    (
                        int(doc_id),
                        meta["brand"],
                        math.floor(meta["duration_sec"] * 1_000_000 + 0.5) / 1_000_000,
                        int(vid["n_samples"]),
                        int(vid["n_keyframes"]),
                        int(vid["n_samples"]) >= 10,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "brand", "duration_sec", "n_samples",
                    "n_keyframes", "keep",
                ],
            )

    return docs.select("doc_id", "n_chars").mapInPandas(
        _rt,
        schema=(
            "doc_id bigint, brand string, duration_sec double, "
            "n_samples bigint, n_keyframes bigint, keep boolean"
        ),
    )


def _warc_ingest_oracle() -> str:
    """The WARC round-trip is lossless framing, so the oracle replays
    record facts straight from the document columns the archive was
    built from (md5 proves content integrity byte-for-byte)."""
    return """
SELECT doc_id,
       'response' AS warc_type,
       'urn:doc:' || CAST(doc_id AS VARCHAR) AS target_uri,
       CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT)
         AS content_length,
       md5(coalesce(text, '')) AS content_md5,
       doc_id % 2 = 1 AS was_gzipped
FROM documents
"""


@query("pipe_warc_ingest", oracle=_warc_ingest_oracle())
def pipe_warc_ingest(spark, sf_dir):
    """Round-8 WARC ingest conformance (sources/warc.py — the ISO
    28500 container web crawls actually ship in): each document is
    serialized into a single-record WARC archive in-plan (gzipped with
    the crawl-standard one-member-per-record form for odd doc_ids,
    plain for even), parsed back through parse_warc, and reduced to
    the record facts + a content md5.  Lossless framing means the
    DuckDB oracle replays everything from the document columns with
    zero container code — any writer/reader defect breaks the hash
    match.  Scale: one Arrow-batched narrow map, no shuffle."""
    import hashlib

    import pandas as pd

    from impala_cut_spark.sources.warc import build_warc, parse_warc

    docs = t(spark, sf_dir, "documents")

    def _rt(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = text if isinstance(text, str) else ""
                content = s.encode("utf-8")
                gz = int(doc_id) % 2 == 1
                payload = build_warc(
                    [
                        {
                            "headers": {
                                "WARC-Type": "response",
                                "WARC-Target-URI": f"urn:doc:{int(doc_id)}",
                                "WARC-Record-ID": f"<urn:uuid:{int(doc_id):032x}>",
                                "Content-Type": "text/plain",
                            },
                            "content": content,
                        }
                    ],
                    gzipped=gz,
                )
                rec = parse_warc(payload)[0]
                hl = {k.lower(): v for k, v in rec["headers"].items()}
                rows.append(
                    (
                        int(doc_id),
                        hl["warc-type"],
                        hl["warc-target-uri"],
                        len(rec["content"]),
                        hashlib.md5(rec["content"]).hexdigest(),
                        gz,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "warc_type", "target_uri", "content_length",
                    "content_md5", "was_gzipped",
                ],
            )

    return docs.select("doc_id", "text").mapInPandas(
        _rt,
        schema=(
            "doc_id bigint, warc_type string, target_uri string, "
            "content_length bigint, content_md5 string, was_gzipped boolean"
        ),
    )


def _mp3_meta_oracle() -> str:
    """MP3 frame headers are pure table arithmetic (ISO 11172-3), so
    the oracle replays the expected facts from the same public tables
    the builder used — bitrate/sample-rate table lookups as DuckDB
    list indexing, duration as frames × 1152 / rate."""
    return """
SELECT doc_id,
       CAST(([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
            [CAST(doc_id % 14 AS INT) + 1] AS DOUBLE) AS bitrate_kbps,
       CAST(([44100,48000,32000])[CAST(doc_id % 3 AS INT) + 1] AS INT)
         AS sample_rate,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT) AS channels,
       CAST(n_chars % 40 + 1 AS BIGINT) AS n_frames,
       floor(CAST(n_chars % 40 + 1 AS DOUBLE) * 1152
             / ([44100,48000,32000])[CAST(doc_id % 3 AS INT) + 1]
             * 1000000 + 0.5) / 1000000 AS duration_sec,
       CAST(n_chars % 40 + 1 AS BIGINT) >= 20 AS keep
FROM documents
"""


@query("pipe_multimodal_audio", oracle=_mp3_meta_oracle())
def pipe_multimodal_audio(spark, sf_dir):
    """Round-9 MPEG-audio metadata conformance + prune pass: each
    document fabricates a deterministic MPEG1 Layer III stream
    (multimodal.build_mp3 — bitrate/sample-rate/channel-mode indices
    from doc_id, frame count from n_chars, an ID3v2 tag in front for
    every third doc), walks it back through mp3_metadata (frame-header
    arithmetic per ISO 11172-3 — the prune-before-decode stage an
    audio crawl runs), and emits the parsed facts plus a
    duration-budget keep gate.  Header parsing is exact table lookups,
    so the oracle needs no audio code: it replays the same public
    tables as DuckDB list indexing.  Scale: one Arrow-batched narrow
    map, no shuffle."""
    import pandas as pd

    from impala_cut_spark.operators.multimodal import build_mp3, mp3_metadata

    docs = t(spark, sf_dir, "documents")

    def _rt(batches):
        for pdf in batches:
            rows = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                d, n = int(doc_id), int(n_chars)
                payload = build_mp3(
                    n_frames=n % 40 + 1,
                    bitrate_idx=d % 14 + 1,
                    rate_idx=d % 3,
                    mono=d % 2 == 0,
                    id3_size=48 if d % 3 == 0 else 0,
                )
                m = mp3_metadata(payload)
                rows.append(
                    (
                        d,
                        float(m["bitrate_kbps"]),
                        int(m["sample_rate"]),
                        int(m["channels"]),
                        int(m["n_frames"]),
                        float(m["duration_sec"]),
                        int(m["n_frames"]) >= 20,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "bitrate_kbps", "sample_rate", "channels",
                    "n_frames", "duration_sec", "keep",
                ],
            )

    return docs.select("doc_id", "n_chars").mapInPandas(
        _rt,
        schema=(
            "doc_id bigint, bitrate_kbps double, sample_rate int, "
            "channels int, n_frames bigint, duration_sec double, "
            "keep boolean"
        ),
    )


def _crawl_images_oracle() -> str:
    """Every layer is exact (WARC framing, HTTP framing, the PNG/GIF/
    BMP round-trips), so the oracle replays the expected mean pixel
    byte from md5(text)'s hex digest — the codec-row arithmetic behind
    the full crawl transport."""
    return """
WITH h AS (SELECT doc_id, md5(coalesce(text, '')) AS hx FROM documents),
b AS (SELECT doc_id, hx, unnest(range(0, 16)) AS i FROM h),
v AS (SELECT doc_id, i,
             (strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INT), 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS byte
      FROM b)
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
            WHEN 1 THEN 'image/gif' ELSE 'image/bmp' END AS mime,
       CAST(200 AS INT) AS http_status,
       doc_id % 2 = 1 AS was_gzipped,
       floor(avg(CAST(byte AS DOUBLE)) * 1000000 + 0.5) / 1000000
         AS mean_byte
FROM v
GROUP BY doc_id
"""


@query("pipe_crawl_images", oracle=_crawl_images_oracle())
def pipe_crawl_images(spark, sf_dir):
    """Round-9 END-TO-END crawl-IMAGE path: each document becomes a
    deterministic image asset (md5 digest → 4x4 pixels, encoded
    PNG/GIF/BMP by doc_id % 3), framed as an HTTP/1.1 200 image
    response inside a (gzip-member for odd doc_ids) WARC record, then
    ingested back through the REAL pipeline a 100 TB image crawl
    runs: parse_warc → parse_http_response → decode_image (signature
    dispatch on the body bytes) → mean pixel byte.  Every layer is
    lossless, so the DuckDB oracle replays the expected mean straight
    from md5 hex — a defect in ANY of container framing, HTTP framing
    or the three codecs breaks the hash match.  Scale: one
    Arrow-batched narrow map, no shuffle; metadata (mime) prunes
    before decode in a real crawl."""
    import hashlib
    import math

    import numpy as np
    import pandas as pd

    from impala_cut_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        encode_gif,
        encode_png,
    )
    from impala_cut_spark.sources.warc import (
        build_warc,
        parse_http_response,
        parse_warc,
    )

    docs = t(spark, sf_dir, "documents")

    def _rt(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                s = text if isinstance(text, str) else ""
                px = np.frombuffer(
                    hashlib.md5(s.encode("utf-8")).digest(), dtype=np.uint8
                ).reshape(4, 4)
                rgb = np.repeat(px[:, :, None], 3, axis=2)
                kind = d % 3
                if kind == 0:
                    body, mime = encode_png(px), "image/png"
                elif kind == 1:
                    body, mime = encode_gif(rgb), "image/gif"
                else:
                    body, mime = encode_bmp(rgb), "image/bmp"
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: " + mime.encode()
                    + b"\r\nContent-Length: " + str(len(body)).encode()
                    + b"\r\n\r\n" + body
                )
                gz = d % 2 == 1
                payload = build_warc(
                    [{"headers": {"WARC-Type": "response",
                                  "WARC-Target-URI": f"urn:img:{d}"},
                      "content": http}],
                    gzipped=gz,
                )
                rec = parse_warc(payload)[0]
                status, headers, got_body = parse_http_response(rec["content"])
                img = decode_image(bytes(got_body))
                mean = float(img[:, :, 0].astype(np.int64).sum()) / 16.0
                rows.append(
                    (d, headers.get("content-type"), int(status), gz,
                     math.floor(mean * 1_000_000 + 0.5) / 1_000_000)
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "mime", "http_status", "was_gzipped",
                         "mean_byte"],
            )

    return docs.select("doc_id", "text").mapInPandas(
        _rt,
        schema=("doc_id bigint, mime string, http_status int, "
                "was_gzipped boolean, mean_byte double"),
    )


def _crawl_extract_oracle() -> str:
    """Every layer of the crawl front-end is lossless around the
    document text (WARC framing, HTTP framing, html.escape ↔ the
    entity-unescape chain, tag wrapping ↔ tag stripping), modulo the
    whitespace collapse — which DuckDB replays directly."""
    return """
SELECT doc_id,
       CAST(200 AS INT) AS http_status,
       'text/html; charset=utf-8' AS mime,
       md5(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')))
         AS text_md5,
       doc_id % 2 = 1 AS was_gzipped
FROM documents
"""


@query("pipe_crawl_extract", oracle=_crawl_extract_oracle())
def pipe_crawl_extract(spark, sf_dir):
    """Round-8 END-TO-END crawl front-end conformance: each document
    becomes a full synthetic crawl capture IN-PLAN — html.escape'd
    text wrapped in an HTML page (with a <script> subtree that must
    NOT leak into the extraction), framed as an HTTP/1.1 200 response,
    framed as a (gzip-member for odd doc_ids) WARC response record —
    then ingested back through the REAL pipeline: parse_warc →
    parse_http_response → text.html_text, where the HTML→text stage
    is a pure JVM expression chain (whole-stage codegen, no Python).
    Every layer is lossless around the text modulo whitespace
    collapse, so the DuckDB oracle is just md5 of the
    whitespace-collapsed document text — a defect in ANY layer breaks
    the strict hash match.  Scale: one Arrow-batched narrow map for
    the container layers + one codegen'd projection; no shuffle."""
    import html as html_mod

    import pandas as pd
    from pyspark.sql import functions as F

    from impala_cut_spark.operators.text import html_text
    from impala_cut_spark.sources.warc import (
        build_warc,
        parse_http_response,
        parse_warc,
    )

    docs = t(spark, sf_dir, "documents")

    def _capture(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = text if isinstance(text, str) else ""
                page = (
                    "<html><head><title></title>"
                    "<script type='text/javascript'>var x = 1 < 2;</script>"
                    "<style>p { color: red; }</style></head>"
                    "<body>\n<p>" + html_mod.escape(s) + "</p>\n</body></html>"
                ).encode("utf-8")
                http = (
                    b"HTTP/1.1 200 OK\r\n"
                    b"Content-Type: text/html; charset=utf-8\r\n"
                    b"Content-Length: " + str(len(page)).encode() + b"\r\n\r\n"
                ) + page
                gz = int(doc_id) % 2 == 1
                payload = build_warc(
                    [
                        {
                            "headers": {
                                "WARC-Type": "response",
                                "WARC-Target-URI": f"urn:doc:{int(doc_id)}",
                            },
                            "content": http,
                        }
                    ],
                    gzipped=gz,
                )
                rec = parse_warc(payload)[0]
                status, headers, body = parse_http_response(rec["content"])
                rows.append(
                    (
                        int(doc_id),
                        int(status),
                        headers.get("content-type"),
                        body.decode("utf-8"),
                        gz,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "http_status", "mime", "html", "was_gzipped"],
            )

    captured = docs.select("doc_id", "text").mapInPandas(
        _capture,
        schema=(
            "doc_id bigint, http_status int, mime string, html string, "
            "was_gzipped boolean"
        ),
    )
    return captured.select(
        "doc_id",
        "http_status",
        "mime",
        F.md5(html_text(F.col("html"))).alias("text_md5"),
        "was_gzipped",
    )


def _webp_roundtrip_oracle() -> str:
    """VP8L is lossless, so the oracle is codec-free: the expected mean
    pixel byte is the average of md5(text)'s 16 hex-pair bytes."""
    return """
WITH h AS (SELECT doc_id, md5(coalesce(text, '')) AS hx FROM documents),
b AS (SELECT doc_id, hx, unnest(range(0, 16)) AS i FROM h),
v AS (SELECT doc_id,
             (strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INT), 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS byte
      FROM b)
SELECT doc_id,
       'webp-lossless' AS codec,
       CAST(16 AS BIGINT) AS n_px,
       floor(avg(CAST(byte AS DOUBLE)) * 1000000 + 0.5) / 1000000
         AS mean_byte
FROM v
GROUP BY doc_id
"""


@query("pipe_multimodal_webp", oracle=_webp_roundtrip_oracle())
def pipe_multimodal_webp(spark, sf_dir):
    """Round-10 WebP-lossless conformance pass: every document's md5
    digest becomes a deterministic 4x4 gray image, encoded to a real
    RIFF/WEBP VP8L container (operators/vp8l.py encode_webp_lossless —
    canonical prefix codes over the spec's code-length code), decoded
    back through decode_image's RIFF signature dispatch (libwebp, an
    independent decoder), and reduced to the mean pixel byte.  VP8L is
    lossless, so the oracle replays the expected mean straight from
    md5 hex with zero image code — an entropy-coding or transform
    defect in EITHER direction breaks the hash match.  Scale: one
    Arrow-batched narrow map, no collect.  The round-trip costs
    ~0.7 ms/doc, nearly all of it the Python encoder (libwebp decodes
    in ~0.03 ms) — orders over the scan — so the input is
    repartitioned to the session's core count first (round 11: the
    single sf0.1 parquet split otherwise serializes the whole row
    onto one core; at 100 TB the files already split at
    maxPartitionBytes and this exchange moves only (doc_id, text))."""
    import hashlib
    import math

    import numpy as np
    import pandas as pd

    from impala_cut_spark.operators.multimodal import decode_image
    from impala_cut_spark.operators.vp8l import encode_webp_lossless

    docs = t(spark, sf_dir, "documents")

    def _rt(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = text if isinstance(text, str) else ""
                px = np.frombuffer(
                    hashlib.md5(s.encode("utf-8")).digest(), dtype=np.uint8
                ).reshape(4, 4)
                rgb = np.repeat(px[:, :, None], 3, axis=2)
                img = decode_image(encode_webp_lossless(rgb))
                mean = float(img[:, :, 0].astype(np.int64).sum()) / 16.0
                rows.append(
                    (int(doc_id), "webp-lossless", 16,
                     math.floor(mean * 1_000_000 + 0.5) / 1_000_000)
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "codec", "n_px", "mean_byte"]
            )

    narrow = docs.select("doc_id", "text")
    cores = spark.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < cores:
        narrow = narrow.repartition(cores)
    return narrow.mapInPandas(
        _rt,
        schema="doc_id bigint, codec string, n_px bigint, mean_byte double",
    )


def _crawl_encoded_oracle() -> str:
    """Every wire coding the crawl path undoes is lossless (chunked
    framing, gzip/deflate via zlib, br and zstd via sources/codecs.py),
    so the oracle replays the decoded body facts straight from the document
    text — any defect in the chunk walker or any of the four codecs
    breaks the strict hash match."""
    return """
SELECT doc_id,
       CASE CAST(doc_id % 5 AS INT)
            WHEN 0 THEN 'identity' WHEN 1 THEN 'gzip'
            WHEN 2 THEN 'deflate' WHEN 3 THEN 'br' ELSE 'zstd'
       END AS encoding,
       doc_id % 3 = 0 AS was_chunked,
       octet_length(encode(coalesce(text, ''))) AS body_bytes,
       md5(coalesce(text, '')) AS text_md5
FROM documents
"""


@query("pipe_crawl_encoded", oracle=_crawl_encoded_oracle())
def pipe_crawl_encoded(spark, sf_dir):
    """Round-11 END-TO-END encoded-crawl conformance: each document
    body is put ON THE WIRE the way real crawl captures store it —
    content-coded by doc_id % 5 (identity / gzip / deflate / br / zstd,
    the last two via sources/codecs.py), chunked-transfer-framed for
    doc_id % 3 == 0, framed as an HTTP/1.1 200 response inside a
    (gzip-member for odd doc_ids) WARC record — then ingested back
    through the REAL pipeline: parse_warc → parse_http_response →
    decode_http_body.
    Every coding is lossless, so the DuckDB oracle replays the decoded
    length and md5 straight from the document text; a defect in the
    chunk walker or ANY of the four content codecs breaks the strict
    hash match.  Scale: one Arrow-batched narrow map, no shuffle; at
    100 TB the decode runs where the scan runs (executor-side,
    one record in memory at a time)."""
    import hashlib
    import zlib as zlib_mod

    import pandas as pd

    from impala_cut_spark.sources import codecs
    from impala_cut_spark.sources.warc import (
        build_warc,
        decode_http_body,
        parse_http_response,
        parse_warc,
    )

    docs = t(spark, sf_dir, "documents")

    def _wire(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                raw = (text if isinstance(text, str) else "").encode("utf-8")
                arm = d % 5
                if arm == 0:
                    enc, body = "identity", raw
                elif arm == 1:
                    gz = zlib_mod.compressobj(wbits=31)
                    enc, body = "gzip", gz.compress(raw) + gz.flush()
                elif arm == 2:
                    enc, body = "deflate", zlib_mod.compress(raw)
                elif arm == 3:
                    enc, body = "br", codecs.compress("brotli", raw)
                else:
                    enc, body = "zstd", codecs.compress("zstd", raw)
                headers = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
                if enc != "identity":
                    headers += b"Content-Encoding: " + enc.encode() + b"\r\n"
                chunked = d % 3 == 0
                if chunked:
                    headers += b"Transfer-Encoding: chunked\r\n"
                    framed = bytearray()
                    for i in range(0, len(body), 1000):
                        piece = body[i : i + 1000]
                        framed += b"%x\r\n" % len(piece) + piece + b"\r\n"
                    framed += b"0\r\n\r\n"
                    body = bytes(framed)
                else:
                    headers += b"Content-Length: " + str(len(body)).encode() + b"\r\n"
                http = headers + b"\r\n" + body
                payload = build_warc(
                    [{"headers": {"WARC-Type": "response",
                                  "WARC-Target-URI": f"urn:doc:{d}"},
                      "content": http}],
                    gzipped=d % 2 == 1,
                )
                rec = parse_warc(payload)[0]
                _, hdrs, wire_body = parse_http_response(rec["content"])
                decoded, applied = decode_http_body(hdrs, wire_body)
                rows.append(
                    (d, applied, chunked, len(decoded),
                     hashlib.md5(decoded).hexdigest())
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "encoding", "was_chunked", "body_bytes",
                         "text_md5"],
            )

    return docs.select("doc_id", "text").mapInPandas(
        _wire,
        schema=("doc_id bigint, encoding string, was_chunked boolean, "
                "body_bytes bigint, text_md5 string"),
    )


def _anim_frames_oracle() -> str:
    """The animation layer is lossless for solid opaque frames with no
    blend/dispose (canvas after frame i = frame i), so the oracle
    replays every per-frame fact — count, timestamps, canvas mean —
    straight from md5(text) hex: frame i's color is digest bytes
    4i..4i+2, alpha 255."""
    return """
WITH h AS (SELECT doc_id, md5(coalesce(text, '')) AS hx,
                  CAST(2 + doc_id % 3 AS INT) AS k
           FROM documents),
f AS (SELECT doc_id, hx, k, CAST(unnest(range(0, k)) AS INT) AS i FROM h),
px AS (SELECT doc_id, k, i,
              (strpos('0123456789abcdef', substr(hx, 8*i+1, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(hx, 8*i+2, 1)) - 1) AS r,
              (strpos('0123456789abcdef', substr(hx, 8*i+3, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(hx, 8*i+4, 1)) - 1) AS g,
              (strpos('0123456789abcdef', substr(hx, 8*i+5, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(hx, 8*i+6, 1)) - 1) AS b
       FROM f)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'webp' ELSE 'gif' END AS codec,
       i AS frame_idx,
       CAST(5 * i * (i + 1) AS INT) AS ts_ms,
       CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
       CAST(r + g + b + 255 AS DOUBLE) / 4 AS mean_rgba,
       TRUE AS parse_ok
FROM px
"""


@query("pipe_multimodal_anim", oracle=_anim_frames_oracle())
def pipe_multimodal_anim(spark, sf_dir):
    """Round-11 animation round-trip: each document becomes a REAL
    animated asset — 2 + doc_id%3 solid 4x4 frames colored from the
    md5 digest (frame i = digest bytes 4i..4i+2, opaque), duration
    (i+1)*10 ms — muxed by the engine's own encoders (animated WebP:
    VP8X/ANIM/ANMF over losslessly-coded VP8L frames for even
    doc_ids; animated GIF89a with per-frame Graphic Control
    Extensions for odd), then decoded back through the REAL operator
    (multimodal.animation_frames: demux → per-frame libwebp/LZW decode →
    canvas composition → cumulative timestamps).  Solid opaque frames
    make every layer exact, so the DuckDB oracle replays frame count,
    timestamps and canvas means straight from md5 hex — a defect in
    either mux, either frame codec, or the composition rules breaks
    the strict hash match.  Scale: one Arrow-batched narrow map,
    ~3 rows out per asset, no shuffle."""
    import hashlib

    import numpy as np
    import pandas as pd

    from impala_cut_spark.operators.multimodal import (
        ANIM_FRAME_SCHEMA,
        animation_frames,
        encode_gif_anim,
    )
    from impala_cut_spark.operators.vp8l import encode_webp_anim

    docs = t(spark, sf_dir, "documents")

    def _mux(batches):
        for pdf in batches:
            ids, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                s = text if isinstance(text, str) else ""
                digest = hashlib.md5(s.encode("utf-8")).digest()
                k = 2 + d % 3
                rgb = [tuple(digest[4 * i : 4 * i + 3]) for i in range(k)]
                durs = [(i + 1) * 10 for i in range(k)]
                if d % 2 == 0:
                    frames = [
                        np.full((4, 4, 4), c + (255,), dtype=np.uint8)
                        for c in rgb
                    ]
                    payload = encode_webp_anim(frames, durs)
                else:
                    frames = [np.full((4, 4, 3), c, dtype=np.uint8) for c in rgb]
                    payload = encode_gif_anim(frames, [dr // 10 for dr in durs])
                ids.append(d)
                payloads.append(bytearray(payload))
            yield pd.DataFrame({"asset_id": pd.Series(ids, dtype="int64"),
                                "payload": pd.Series(payloads, dtype="object")})

    narrow = docs.select("doc_id", "text")
    cores = spark.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < cores:
        narrow = narrow.repartition(cores)
    assets = narrow.mapInPandas(
        _mux, schema="asset_id bigint, payload binary"
    )
    out = animation_frames(assets)
    return out.selectExpr(
        "asset_id AS doc_id", "codec", "frame_idx", "ts_ms",
        "width", "height", "mean_rgba", "parse_ok",
    )


def _heif_meta_oracle() -> str:
    """The HEIF muxer/parser pair is lossless for every metadata field,
    so the oracle replays the container facts straight from md5 hex."""
    return """
WITH h AS (SELECT doc_id, md5(coalesce(text, '')) AS hx FROM documents),
b AS (SELECT doc_id,
             (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS b0,
             (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) AS b1
      FROM h)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'avif' ELSE 'heic' END AS brand,
       CASE WHEN doc_id % 2 = 0 THEN 'av01' ELSE 'hvc1' END AS codec,
       CAST(16 + b0 AS INT) AS width,
       CAST(16 + b1 AS INT) AS height,
       CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 8 WHEN 1 THEN 10
            ELSE 12 END AS INT) AS bit_depth,
       CAST(90 * (doc_id % 4) AS INT) AS rotation,
       doc_id % 5 = 0 AS has_alpha,
       FALSE AS is_grid,
       TRUE AS parse_ok
FROM b
"""


@query("pipe_multimodal_heif", oracle=_heif_meta_oracle())
def pipe_multimodal_heif(spark, sf_dir):
    """Round-11 HEIF/AVIF metadata-prune conformance: each document
    becomes a HEIF item tree (build_minimal_avif — brand/codec by
    doc_id parity, dimensions from the md5 digest, bit depth / irot /
    alpha aux item cycling) and is read back through the REAL operator
    (image_container_metadata → heif_metadata: box walk, infe item
    table, ipma→ipco property association, auxl references).  Every
    field is lossless, so the DuckDB oracle replays the container
    facts from md5 hex.  The parser is additionally validated against
    real libheif x265/aom encoder output in tests/test_heif.py.
    Scale: one Arrow-batched narrow map, no shuffle — the route/filter
    step a 100 TB image crawl runs before any AV1/HEVC decode."""
    import hashlib

    import pandas as pd

    from impala_cut_spark.operators.multimodal import (
        build_minimal_avif,
        image_container_metadata,
    )

    docs = t(spark, sf_dir, "documents")

    def _mux(batches):
        for pdf in batches:
            ids, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                s = text if isinstance(text, str) else ""
                dg = hashlib.md5(s.encode("utf-8")).digest()
                payloads.append(bytearray(build_minimal_avif(
                    16 + dg[0], 16 + dg[1],
                    codec="av01" if d % 2 == 0 else "hvc1",
                    bit_depth=(8, 10, 12)[d % 3],
                    rotation=90 * (d % 4),
                    alpha=d % 5 == 0,
                )))
                ids.append(d)
            yield pd.DataFrame({"asset_id": pd.Series(ids, dtype="int64"),
                                "payload": pd.Series(payloads, dtype="object")})

    assets = docs.select("doc_id", "text").mapInPandas(
        _mux, schema="asset_id bigint, payload binary"
    )
    return image_container_metadata(assets).withColumnRenamed(
        "asset_id", "doc_id"
    )


def _pdf_extract_oracle() -> str:
    """The build_pdf writer twin and the extractor are lossless around
    the document text modulo whitespace normalization (the word-wrap
    into 12-word lines / 120-word pages only inserts line/page breaks
    at word boundaries), so the oracle replays the page count from the
    word count and the text md5 from the whitespace-collapsed text."""
    return """
WITH w AS (SELECT doc_id,
                  len(list_filter(string_split(coalesce(text, ''), ' '),
                                  x -> x <> '')) AS n_words,
                  trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))
                    AS norm
           FROM documents)
SELECT doc_id,
       '1.5' AS version,
       CAST(greatest(1, ceil(n_words / 120.0)) AS INT) AS n_pages,
       'impala-cut-spark' AS producer,
       md5(norm) AS text_md5,
       TRUE AS parse_ok
FROM w
"""


@query("pipe_pdf_extract", oracle=_pdf_extract_oracle())
def pipe_pdf_extract(spark, sf_dir):
    """Round-11 PDF ingestion conformance: each document is typeset
    into a REAL PDF by the engine's own writer (build_pdf — 12-word
    lines, 120-word pages, alternating classic-xref vs PDF 1.5
    xref-stream+ObjStm layout by doc_id parity, Flate vs stored
    content streams by doc_id%3) and read back through the REAL
    operator (pdf_extract: COS lexer → xref/ObjStm resolution →
    filters → page tree → content-stream text interpreter → WinAnsi
    font decode).  The wrap only inserts breaks at word boundaries,
    so the DuckDB oracle replays page counts and the
    whitespace-collapsed text md5 straight from the documents table —
    a defect in ANY layer (lexer, xref stream W-decode, ObjStm,
    FlateDecode, the text operators, the encoding tables) breaks the
    strict hash match.  The extractor is additionally validated on
    the container's real pdfTeX/Ghostscript documents in
    tests/test_pdf.py.  Scale: one Arrow-batched narrow map, no
    shuffle."""
    import pandas as pd
    from pyspark.sql import functions as F

    from impala_cut_spark.operators.pdf import build_pdf, pdf_extract

    docs = t(spark, sf_dir, "documents")

    def _typeset(batches):
        for pdf_batch in batches:
            ids, payloads = [], []
            for doc_id, text in zip(pdf_batch["doc_id"], pdf_batch["text"]):
                d = int(doc_id)
                words = [w for w in (text or "").split(" ") if w]
                lines = [" ".join(words[i : i + 12])
                         for i in range(0, len(words), 12)] or [""]
                pages = ["\n".join(lines[j : j + 10])
                         for j in range(0, len(lines), 10)] or [""]
                payloads.append(bytearray(build_pdf(
                    pages, use_objstm=d % 2 == 1, compress=d % 3 != 0)))
                ids.append(d)
            yield pd.DataFrame({"asset_id": pd.Series(ids, dtype="int64"),
                                "payload": pd.Series(payloads, dtype="object")})

    narrow = docs.select("doc_id", "text")
    cores = spark.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < cores:
        narrow = narrow.repartition(cores)
    assets = narrow.mapInPandas(_typeset, "asset_id bigint, payload binary")
    out = pdf_extract(assets)
    return out.select(
        F.col("asset_id").alias("doc_id"),
        "version", "n_pages", "producer",
        F.md5(F.trim(F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), r"\s+", " "))).alias("text_md5"),
        "parse_ok",
    )


def _exif_oracle() -> str:
    """Writer twin + parser are lossless for every EXIF field (GPS
    decomposed exactly into d/m/s·1e-4 rationals), so the oracle
    replays the facts from md5 hex; the stripped twin must read back
    empty — asserted in-plan, the oracle just pins FALSE."""
    return """
WITH h AS (SELECT doc_id, md5(coalesce(text, '')) AS hx FROM documents),
b AS (SELECT doc_id,
             (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS b0,
             (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) AS b1,
             (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 6, 1)) - 1) AS b2,
             (strpos('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 8, 1)) - 1) AS b3
      FROM h)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'png' END AS container,
       'cam_' || CAST(b0 AS VARCHAR) AS make,
       CAST(1 + b1 % 8 AS INT) AS orientation,
       doc_id % 3 = 0 AS has_gps,
       CASE WHEN doc_id % 3 = 0 THEN
         floor((CAST(b2 % 90 AS DOUBLE) + CAST(b3 % 60 AS DOUBLE) / 60)
               * 1000000 + 0.5) / 1000000
       END AS gps_lat,
       FALSE AS stripped_has_exif
FROM b
"""


@query("pipe_multimodal_exif", oracle=_exif_oracle())
def pipe_multimodal_exif(spark, sf_dir):
    """Round-11 EXIF provenance/privacy conformance: each document
    becomes a real engine-encoded image (JPEG via operators/jpeg.py
    for even doc_ids, PNG for odd) with an injected EXIF block
    (make/orientation from md5 bytes; GPS rationals for doc_id%3==0),
    then runs BOTH pipeline verbs — exif_metadata extraction and
    strip_exif privacy scrubbing (re-extracted to prove the GPS is
    gone; the image must still decode identically, pinned in
    tests/test_exif.py).  Every field is lossless (GPS decomposed
    exactly into d/m/s·1e-4 rationals), so the DuckDB oracle replays
    the facts straight from md5 hex.  Scale: one Arrow-batched narrow
    map, no shuffle — the route-or-scrub step before any training on
    crawled images."""
    import hashlib
    import math

    import numpy as np
    import pandas as pd

    from impala_cut_spark.operators.exif import (
        build_exif_segment,
        exif_metadata,
        insert_exif,
        strip_exif,
    )
    from impala_cut_spark.operators.jpeg import encode_jpeg
    from impala_cut_spark.operators.multimodal import encode_png

    docs = t(spark, sf_dir, "documents")

    def _run(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                s = text if isinstance(text, str) else ""
                dg = hashlib.md5(s.encode("utf-8")).digest()
                gps = None
                if d % 3 == 0:
                    gps = (dg[2] % 90 + (dg[3] % 60) / 60.0, 11.97)
                seg = build_exif_segment(
                    make=f"cam_{dg[0]}", orientation=1 + dg[1] % 8, gps=gps)
                px = np.frombuffer(dg, dtype=np.uint8).reshape(4, 4)
                rgb = np.repeat(px[:, :, None], 3, axis=2)
                base = encode_jpeg(rgb) if d % 2 == 0 else encode_png(px)
                tagged = insert_exif(base, seg)
                m = exif_metadata(tagged)
                stripped = exif_metadata(strip_exif(tagged))
                lat = m["gps_lat"]
                if lat is not None:
                    lat = math.floor(lat * 1_000_000 + 0.5) / 1_000_000
                rows.append(
                    (d, m["container"], m["make"], m["orientation"],
                     m["has_gps"], lat,
                     stripped["has_gps"] or stripped["make"] is not None)
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "container", "make", "orientation",
                         "has_gps", "gps_lat", "stripped_has_exif"],
            )

    narrow = docs.select("doc_id", "text")
    cores = spark.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < cores:
        narrow = narrow.repartition(cores)
    return narrow.mapInPandas(
        _run,
        schema=("doc_id bigint, container string, make string, "
                "orientation int, has_gps boolean, gps_lat double, "
                "stripped_has_exif boolean"),
    )


def _archive_oracle() -> str:
    """Both container grammars round-trip member facts losslessly, so
    the oracle replays path/size/md5 per member from the text."""
    return """
WITH h AS (SELECT doc_id, coalesce(text, '') AS txt,
                  CAST(1 + doc_id % 3 AS INT) AS k
           FROM documents),
m AS (SELECT doc_id, txt, CAST(unnest(range(0, k)) AS INT) AS i FROM h)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'zip' ELSE 'tar.gz' END AS kind,
       i AS member_index,
       'doc/part_' || CAST(i AS VARCHAR) || '.txt' AS path,
       octet_length(encode(txt || '#' || CAST(i AS VARCHAR))) AS size,
       md5(txt || '#' || CAST(i AS VARCHAR)) AS content_md5,
       TRUE AS parse_ok
FROM m
"""


@query("pipe_archive_ingest", oracle=_archive_oracle())
def pipe_archive_ingest(spark, sf_dir):
    """Round-11 archive-ingestion conformance: each document becomes a
    REAL archive — a deflate ZIP (stdlib writer) for even doc_ids, a
    GNU tar.gz for odd — holding 1 + doc_id%3 member files, then
    explodes back through the REAL operator (sources/archives.py
    archive_ingest: from-scratch EOCD/central-directory and ustar
    parsers, CRC-checked inflate, bomb guards).  Member facts are
    lossless, so the DuckDB oracle replays path/size/md5 per member
    straight from the text — and because the fixtures come from the
    STDLIB writers, the row is an independent-anchor check of the
    from-scratch readers on every run, not just in pytest.  Scale: one
    Arrow-batched narrow map, ~2 rows out per source, no shuffle; the
    member rows feed the text/dedup operators directly (the
    code-dataset ingest path)."""
    import hashlib
    import io
    import tarfile
    import zipfile

    import pandas as pd
    from pyspark.sql import functions as F

    from impala_cut_spark.sources.archives import archive_ingest

    docs = t(spark, sf_dir, "documents")

    def _pack(batches):
        for pdf in batches:
            ids, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                s = text if isinstance(text, str) else ""
                k = 1 + d % 3
                members = [(f"doc/part_{i}.txt", (s + f"#{i}").encode("utf-8"))
                           for i in range(k)]
                buf = io.BytesIO()
                if d % 2 == 0:
                    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
                        for path, content in members:
                            z.writestr(
                                zipfile.ZipInfo(path, (2020, 1, 1, 0, 0, 0)),
                                content)
                else:
                    with tarfile.open(fileobj=buf, mode="w:gz",
                                      format=tarfile.GNU_FORMAT) as tf:
                        for path, content in members:
                            ti = tarfile.TarInfo(path)
                            ti.size = len(content)
                            ti.mtime = 1_600_000_000
                            tf.addfile(ti, io.BytesIO(content))
                ids.append(d)
                payloads.append(bytearray(buf.getvalue()))
            yield pd.DataFrame({"source_id": pd.Series(ids, dtype="int64"),
                                "payload": pd.Series(payloads, dtype="object")})

    narrow = docs.select("doc_id", "text")
    cores = spark.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < cores:
        narrow = narrow.repartition(cores)
    sources = narrow.mapInPandas(_pack, "source_id bigint, payload binary")
    out = archive_ingest(sources)
    return out.select(
        F.col("source_id").alias("doc_id"),
        "kind", "member_index", "path", "size",
        F.md5(F.col("content")).alias("content_md5"),
        "parse_ok",
    )


def _license_oracle() -> str:
    """Detection is a pure contains/CASE chain, so the oracle applies
    the SAME phrase rules (precedence order inlined) to the SAME
    synthesized headers — a drift in either phrase set or precedence
    breaks the match."""
    return """
WITH lic AS (SELECT doc_id,
       CASE CAST(doc_id % 6 AS INT)
         WHEN 0 THEN 'Permission is hereby granted, free of charge, to any person'
         WHEN 1 THEN 'Licensed under the Apache License, Version 2.0 (the "License")'
         WHEN 2 THEN 'under the terms of the GNU General Public License as published'
         WHEN 3 THEN 'Redistribution and use in source and binary forms, with or without'
         WHEN 4 THEN 'Neither the name of the copyright holder nor the names'
         ELSE ''
       END || ' ' || coalesce(text, '') AS body
       FROM documents)
SELECT doc_id,
       CASE
         WHEN contains(lower(body), 'licensed under the apache license, version 2.0') THEN 'Apache-2.0'
         WHEN contains(lower(body), 'permission is hereby granted, free of charge') THEN 'MIT'
         WHEN contains(lower(body), 'this is free and unencumbered software') THEN 'Unlicense'
         WHEN contains(lower(body), 'permission to use, copy, modify, and/or distribute this software') THEN 'ISC'
         WHEN contains(lower(body), 'mozilla public license') THEN 'MPL-2.0'
         WHEN contains(lower(body), 'gnu lesser general public license') THEN 'LGPL'
         WHEN contains(lower(body), 'gnu affero general public license') THEN 'AGPL-3.0'
         WHEN contains(lower(body), 'gnu general public license') THEN 'GPL'
         WHEN contains(lower(body), 'neither the name') THEN 'BSD-3-Clause'
         WHEN contains(lower(body), 'redistribution and use in source and binary forms') THEN 'BSD'
         ELSE 'none'
       END AS license,
       CASE
         WHEN contains(lower(body), 'licensed under the apache license, version 2.0') THEN TRUE
         WHEN contains(lower(body), 'permission is hereby granted, free of charge') THEN TRUE
         WHEN contains(lower(body), 'this is free and unencumbered software') THEN TRUE
         WHEN contains(lower(body), 'permission to use, copy, modify, and/or distribute this software') THEN TRUE
         WHEN contains(lower(body), 'mozilla public license') THEN FALSE
         WHEN contains(lower(body), 'gnu lesser general public license') THEN FALSE
         WHEN contains(lower(body), 'gnu affero general public license') THEN FALSE
         WHEN contains(lower(body), 'gnu general public license') THEN FALSE
         WHEN contains(lower(body), 'neither the name') THEN TRUE
         WHEN contains(lower(body), 'redistribution and use in source and binary forms') THEN TRUE
         ELSE NULL
       END AS permissive
FROM lic
"""


@query("pipe_license_detect", oracle=_license_oracle())
def pipe_license_detect(spark, sf_dir):
    """Round-11 code-dataset license gate: documents get canonical
    license headers synthesized by doc_id%6 (MIT / Apache-2.0 / GPL /
    BSD / BSD-3 / none — the BSD pair exercises the containment-
    precedence rule), then classify through the REAL operator
    (text.license_detect: a pure lower+contains+CASE codegen chain, no
    Python on the data path).  The oracle applies the same phrase
    rules in DuckDB, so a drift in phrases or precedence breaks the
    strict match.  Scale: one narrow projection, no shuffle, whole-
    stage codegen end to end — the cheapest possible 100 TB gate."""
    from pyspark.sql import functions as F

    from impala_cut_spark.operators.text import license_detect

    docs = t(spark, sf_dir, "documents")
    headers = [
        'Permission is hereby granted, free of charge, to any person',
        'Licensed under the Apache License, Version 2.0 (the "License")',
        "under the terms of the GNU General Public License as published",
        "Redistribution and use in source and binary forms, with or without",
        "Neither the name of the copyright holder nor the names",
        "",
    ]
    hdr = F.element_at(
        F.array(*[F.lit(h) for h in headers]),
        (F.col("doc_id") % 6).cast("int") + 1,
    )
    body = F.concat(hdr, F.lit(" "), F.coalesce(F.col("text"), F.lit("")))
    cols = license_detect(body)
    return docs.select(
        "doc_id",
        cols["license"].alias("license"),
        cols["permissive"].alias("permissive"),
    )


def _audio_containers_oracle() -> str:
    """Container grammars are lossless for the header facts and the
    fixture durations are integral seconds (no rounding ties), so the
    oracle replays everything from md5 hex."""
    return """
WITH h AS (SELECT doc_id, md5(coalesce(text, '')) AS hx FROM documents),
b AS (SELECT doc_id,
             (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS b0,
             (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) AS b1,
             (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, 6, 1)) - 1) AS b2
      FROM h)
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'flac'
            WHEN 1 THEN 'vorbis' ELSE 'opus' END AS codec,
       CAST(1 + b1 % 2 AS INT) AS channels,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 48000
                 WHEN b2 % 3 = 0 THEN 16000
                 WHEN b2 % 3 = 1 THEN 44100 ELSE 48000 END AS INT)
         AS sample_rate,
       CAST(1 + b0 % 30 AS DOUBLE) AS duration_sec,
       TRUE AS parse_ok
FROM b
"""


@query("pipe_audio_containers", oracle=_audio_containers_oracle())
def pipe_audio_containers(spark, sf_dir):
    """Round-11 audio-container prune conformance: each document
    becomes a FLAC stream head (doc_id%3==0), an OGG/Vorbis stream
    (1) or an OGG/Opus stream (2) with md5-derived parameters —
    integral-second durations so no rounding ties exist — muxed by the
    engine's own CRC-stamping writers, then read back through the REAL
    walkers (flac_metadata STREAMINFO bit unpack; ogg_metadata page
    walk with the spec's unreflected CRC-32 verified per page, id
    header parse, granule→duration).  The DuckDB oracle replays every
    fact from md5 hex.  Sample DATA stays the documented codec stub
    boundary (the mp3_metadata contract).  Scale: one Arrow-batched
    narrow map, no shuffle."""
    import hashlib

    import pandas as pd

    from impala_cut_spark.operators.multimodal import (
        build_flac_header,
        build_ogg_header,
        flac_metadata,
        ogg_metadata,
    )

    docs = t(spark, sf_dir, "documents")

    def _run(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                s = text if isinstance(text, str) else ""
                dg = hashlib.md5(s.encode("utf-8")).digest()
                secs = 1 + dg[0] % 30
                ch = 1 + dg[1] % 2
                rate = (16000, 44100, 48000)[dg[2] % 3]
                if d % 3 == 0:
                    payload = build_flac_header(rate, ch, 16, rate * secs)
                    m = flac_metadata(payload)
                    rows.append((d, "flac", m["channels"], m["sample_rate"],
                                 float(m["duration_sec"]), True))
                else:
                    codec = "vorbis" if d % 3 == 1 else "opus"
                    if codec == "opus":
                        rate = 48000  # opus granules always run at 48 kHz
                    payload = build_ogg_header(
                        codec, ch, rate, rate * secs,
                        n_data_pages=1 + dg[3] % 4)
                    m = ogg_metadata(payload)
                    rows.append((d, m["codec"], m["channels"],
                                 m["sample_rate"],
                                 float(m["duration_sec"]), True))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "codec", "channels", "sample_rate",
                         "duration_sec", "parse_ok"],
            )

    return docs.select("doc_id", "text").mapInPandas(
        _run,
        schema=("doc_id bigint, codec string, channels int, "
                "sample_rate int, duration_sec double, parse_ok boolean"),
    )


def _epub_oracle() -> str:
    """Container + spine + tag-strip are all lossless around the text
    (modulo whitespace collapse), and the fixture spine REVERSES file
    order, so the oracle reconstructs each book as its chapters joined
    in reverse — a consumer that reads file order instead of the OPF
    spine breaks the hash."""
    return """
WITH h AS (SELECT doc_id,
                  trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))
                    AS norm,
                  CAST(1 + doc_id % 3 AS INT) AS k
           FROM documents),
seg AS (SELECT doc_id, norm, k,
               'ch0' || CASE WHEN norm = '' THEN '' ELSE ' ' || norm END AS s0,
               'ch1' || CASE WHEN norm = '' THEN '' ELSE ' ' || norm END AS s1,
               'ch2' || CASE WHEN norm = '' THEN '' ELSE ' ' || norm END AS s2
        FROM h)
SELECT doc_id, k AS n_chapters,
       md5(CASE k WHEN 1 THEN s0
                  WHEN 2 THEN s1 || ' ' || s0
                  ELSE s2 || ' ' || s1 || ' ' || s0 END) AS book_md5
FROM seg
"""


@query("pipe_epub_extract", oracle=_epub_oracle())
def pipe_epub_extract(spark, sf_dir):
    """Round-11 EPUB (books) ingestion — a genuinely DISTRIBUTED
    composition over this round's pieces: each document becomes a real
    EPUB (build_epub: OCF stored-mimetype member, container.xml, OPF
    manifest + a spine that REVERSES file order) with 1 + doc_id%3
    xhtml chapters; ingestion then runs the plan a 100 TB books
    pipeline would: an Arrow-batched demux map (from-scratch zip read
    + OPF spine walk → one row per chapter), the HTML→text stage as
    the PURE-CODEGEN html_text expression (including a <script>
    subtree that must not leak), and ONE doc_id shuffle that
    reassembles books in spine order (array_sort over (pos, text)
    structs — no window, no driver).  The DuckDB oracle rebuilds every
    book in reversed chapter order, so ignoring the spine — or any
    container/strip defect — breaks the strict hash.  Scale: demux and
    strip are narrow; the single shuffle carries one row per chapter."""
    import html as html_mod

    import pandas as pd
    from pyspark.sql import functions as F

    from impala_cut_spark.operators.text import html_text
    from impala_cut_spark.sources.archives import build_epub, epub_spine

    docs = t(spark, sf_dir, "documents")

    def _demux(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                s = text if isinstance(text, str) else ""
                k = 1 + d % 3
                chapters = [
                    (f"<html><head><script>no()</script></head><body>"
                     f"<p>ch{i}</p><p>{html_mod.escape(s)}</p>"
                     f"</body></html>").encode("utf-8")
                    for i in range(k)
                ]
                payload = build_epub(chapters)  # spine reversed
                for pos, (_path, xhtml) in enumerate(epub_spine(payload)):
                    rows.append((d, k, pos, xhtml.decode("utf-8")))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_chapters", "spine_pos", "xhtml"])

    narrow = docs.select("doc_id", "text")
    cores = spark.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < cores:
        narrow = narrow.repartition(cores)
    chapters = narrow.mapInPandas(
        _demux,
        schema="doc_id bigint, n_chapters int, spine_pos int, xhtml string",
    )
    stripped = chapters.select(
        "doc_id", "n_chapters", "spine_pos",
        html_text(F.col("xhtml")).alias("txt"),
    )
    books = stripped.groupBy("doc_id").agg(
        F.first("n_chapters").alias("n_chapters"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("spine_pos", "txt"))),
                lambda x: x.getField("txt"),
            ),
            " ",
        ).alias("book"),
    )
    return books.select(
        "doc_id", "n_chapters", F.md5(F.col("book")).alias("book_md5"))


def _markdown_oracle() -> str:
    """The fixture decorations (heading/quote/list markers, bold,
    links, a fenced block holding only the literal word CODE) all
    strip back to the original words, so the oracle replays the md5 of
    the whitespace-collapsed text directly — any under- or
    over-stripping breaks the hash."""
    return """
SELECT doc_id,
       md5(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')))
         AS text_md5
FROM documents
"""


@query("pipe_markdown_extract", oracle=_markdown_oracle())
def pipe_markdown_extract(spark, sf_dir):
    """Round-11 markdown extraction: each document is typeset into
    markdown IN-PLAN (lines decorated round-robin as headings,
    blockquotes, list items, bold-every-3rd-word, and link-wrapped
    lines, plus a fenced code block that must NOT leak), then
    recovered through the REAL operator (text.markdown_text — a pure
    whole-stage-codegen regex chain, html_text's twin).  Every
    decoration strips losslessly, so the DuckDB oracle is just the
    md5 of the whitespace-collapsed document text.  Scale: typeset is
    one Arrow-batched narrow map; the strip is a codegen projection;
    no shuffle."""
    import pandas as pd
    from pyspark.sql import functions as F

    from impala_cut_spark.operators.text import markdown_text

    docs = t(spark, sf_dir, "documents")

    def _typeset(batches):
        for pdf in batches:
            ids, mds = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                words = [w for w in (text or "").split(" ") if w]
                lines = [" ".join(words[i : i + 10])
                         for i in range(0, len(words), 10)] or [""]
                out = []
                for j, line in enumerate(lines):
                    kind = j % 5
                    if kind == 0:
                        out.append(f"## {line}")
                    elif kind == 1:
                        out.append(f"> {line}")
                    elif kind == 2:
                        out.append(f"- {line}")
                    elif kind == 3:
                        ws = line.split(" ")
                        out.append(" ".join(
                            f"**{w}**" if i % 3 == 0 else w
                            for i, w in enumerate(ws)))
                    else:
                        out.append(f"[{line}](http://example.com/{d}/{j})")
                out.append("```\nthis fenced block must not leak\n```")
                ids.append(d)
                mds.append("\n".join(out))
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "md": pd.Series(mds, dtype="object")})

    assets = docs.select("doc_id", "text").mapInPandas(
        _typeset, schema="doc_id bigint, md string")
    return assets.select(
        "doc_id", F.md5(markdown_text(F.col("md"))).alias("text_md5"))


def _code_pipeline_oracle() -> str:
    """Member synthesis is deterministic (k = 2 + doc_id%3 files;
    file i carries extension .py/.rs/.md by i%3 and an MIT header on
    even i), so the per-repo aggregate replays in SQL."""
    return """
WITH h AS (SELECT doc_id, coalesce(text, '') AS txt,
                  CAST(2 + doc_id % 3 AS INT) AS k
           FROM documents),
m AS (SELECT doc_id, txt, k, CAST(unnest(range(0, k)) AS INT) AS i FROM h),
f AS (SELECT doc_id, k, i,
             CASE CAST(i % 3 AS INT) WHEN 0 THEN 'py'
                  WHEN 1 THEN 'rs' ELSE 'md' END AS ext,
             i % 2 = 0 AS permissive,
             octet_length(encode(
               CASE WHEN i % 2 = 0
                 THEN 'Permission is hereby granted, free of charge. '
                      || txt || '#' || CAST(i AS VARCHAR)
                 ELSE txt || '#' || CAST(i AS VARCHAR) END)) AS sz
      FROM m)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN ext = 'py' THEN 1 ELSE 0 END) AS BIGINT) AS n_py,
       CAST(sum(CASE WHEN permissive THEN 1 ELSE 0 END) AS BIGINT)
         AS n_permissive,
       CAST(sum(sz) AS BIGINT) AS total_bytes,
       sum(CASE WHEN permissive THEN 0 ELSE 1 END) = 0 AS all_permissive
FROM f GROUP BY doc_id
"""


@query("pipe_code_pipeline", oracle=_code_pipeline_oracle())
def pipe_code_pipeline(spark, sf_dir):
    """Round-11 code-dataset pipeline COMPOSITION — the end-to-end
    plan a source-code corpus runs, built entirely from this round's
    pieces: each document becomes a tar.gz 'repository' (stdlib
    writer) of 2 + doc_id%3 source files (.py/.rs/.md by position,
    MIT headers on even members), exploded by the REAL archive_ingest
    (from-scratch ustar reader), classified per member by the REAL
    license_detect codegen chain + an extension extractor, then
    aggregated per repo in ONE doc-keyed shuffle (file counts,
    per-language counts, permissive share, byte totals — the
    route/filter facts a training run keys on).  The DuckDB oracle
    replays the aggregate from the deterministic synthesis.  Scale:
    explode and classify are narrow; the single shuffle carries one
    row per member file."""
    import io
    import tarfile

    import pandas as pd
    from pyspark.sql import functions as F

    from impala_cut_spark.operators.text import license_detect
    from impala_cut_spark.sources.archives import archive_ingest

    docs = t(spark, sf_dir, "documents")
    MIT = "Permission is hereby granted, free of charge. "

    def _pack(batches):
        for pdf in batches:
            ids, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                s = text if isinstance(text, str) else ""
                k = 2 + d % 3
                buf = io.BytesIO()
                with tarfile.open(fileobj=buf, mode="w:gz",
                                  format=tarfile.GNU_FORMAT) as tf:
                    for i in range(k):
                        ext = ("py", "rs", "md")[i % 3]
                        body = ((MIT if i % 2 == 0 else "")
                                + s + f"#{i}").encode("utf-8")
                        ti = tarfile.TarInfo(f"repo/src_{i}.{ext}")
                        ti.size = len(body)
                        ti.mtime = 1_600_000_000
                        tf.addfile(ti, io.BytesIO(body))
                ids.append(d)
                payloads.append(bytearray(buf.getvalue()))
            yield pd.DataFrame({"source_id": pd.Series(ids, dtype="int64"),
                                "payload": pd.Series(payloads, dtype="object")})

    narrow = docs.select("doc_id", "text")
    cores = spark.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < cores:
        narrow = narrow.repartition(cores)
    repos = narrow.mapInPandas(_pack, "source_id bigint, payload binary")
    members = archive_ingest(repos).where(F.col("parse_ok"))
    lic = license_detect(F.col("content").cast("string"))
    classified = members.select(
        F.col("source_id").alias("doc_id"),
        F.element_at(F.split(F.col("path"), r"\."), -1).alias("ext"),
        F.coalesce(lic["permissive"], F.lit(False)).alias("permissive"),
        F.length(F.col("content")).alias("sz"),
    )
    return classified.groupBy("doc_id").agg(
        F.count("*").alias("n_files"),
        F.sum(F.when(F.col("ext") == "py", 1).otherwise(0)).alias("n_py"),
        F.sum(F.when(F.col("permissive"), 1).otherwise(0)).alias("n_permissive"),
        F.sum("sz").alias("total_bytes"),
        (F.sum(F.when(F.col("permissive"), 0).otherwise(1)) == 0)
        .alias("all_permissive"),
    )


def _html_meta_oracle() -> str:
    """The typeset head fields replay in SQL from the text's leading
    words and md5 hex."""
    return """
WITH w AS (SELECT doc_id,
                  list_filter(string_split(coalesce(text, ''), ' '),
                              x -> x <> '') AS tk,
                  md5(coalesce(text, '')) AS hx
           FROM documents)
SELECT doc_id,
       CASE WHEN len(tk) = 0 THEN 'untitled'
            ELSE array_to_string(tk[1:3], ' ') END AS title,
       CASE WHEN len(tk) <= 3 THEN NULL
            ELSE array_to_string(tk[4:9], ' ') END AS meta_description,
       'http://example.com/canon/' || CAST(doc_id AS VARCHAR)
         AS canonical_url,
       CASE CAST((strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) % 4
                 AS INT)
         WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'fr' ELSE 'ja'
       END AS lang
FROM w
"""


@query("pipe_html_meta", oracle=_html_meta_oracle())
def pipe_html_meta(spark, sf_dir):
    """Round-11 crawl routing signals: each document is typeset into a
    full HTML page head (title from its leading words, meta
    description, canonical link, a lang attribute from md5) and the
    signals are read back through the REAL operator
    (text.html_metadata — pure codegen regexp_extracts).  These fields
    feed canonical-URL dedup and language routing BEFORE body
    extraction; the DuckDB oracle replays them from the text.  Scale:
    typeset is a narrow map, extraction a codegen projection, no
    shuffle."""
    import hashlib

    import pandas as pd
    from pyspark.sql import functions as F

    from impala_cut_spark.operators.text import html_metadata

    docs = t(spark, sf_dir, "documents")

    def _typeset(batches):
        for pdf in batches:
            ids, pages = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                words = [w for w in (text or "").split(" ") if w]
                title = " ".join(words[:3]) or "untitled"
                desc = " ".join(words[3:9])
                lang = ("en", "de", "fr", "ja")[
                    hashlib.md5((text or "").encode()).digest()[0] % 4]
                head = (f'<html lang="{lang}"><head><title>{title}</title>')
                if desc:
                    head += f'<meta name="description" content="{desc}">'
                head += (f'<link rel="canonical" '
                         f'href="http://example.com/canon/{d}">')
                pages.append(head + "</head><body>body text</body></html>")
                ids.append(d)
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "html": pd.Series(pages, dtype="object")})

    assets = docs.select("doc_id", "text").mapInPandas(
        _typeset, schema="doc_id bigint, html string")
    m = html_metadata(F.col("html"))
    return assets.select(
        "doc_id", m["title"].alias("title"),
        m["meta_description"].alias("meta_description"),
        m["canonical_url"].alias("canonical_url"),
        m["lang"].alias("lang"),
    )


def _subtitle_oracle() -> str:
    """The cue framing strips losslessly, so the oracle replays the
    collapsed-text md5 and the cue count from the word count."""
    return """
WITH w AS (SELECT doc_id,
                  len(list_filter(string_split(coalesce(text, ''), ' '),
                                  x -> x <> '')) AS n_words,
                  trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))
                    AS norm
           FROM documents)
SELECT doc_id,
       CAST(greatest(1, ceil(n_words / 8.0)) AS INT) AS n_cues,
       md5(norm) AS text_md5
FROM w
"""


@query("pipe_subtitle_extract", oracle=_subtitle_oracle())
def pipe_subtitle_extract(spark, sf_dir):
    """Round-11 subtitle ingestion: each document is typeset into an
    SRT file (even doc_ids) or a WebVTT file with a NOTE block (odd) —
    8 words per cue, running timestamps — and the dialog recovers
    through the REAL operator (text.subtitle_text, a pure codegen
    strip).  Subtitles are the high-quality conversational text a
    crawl yields from video pages; the framing strips losslessly, so
    the DuckDB oracle replays the collapsed-text md5 and cue counts.
    Scale: narrow map + codegen projection, no shuffle."""
    import pandas as pd
    from pyspark.sql import functions as F

    from impala_cut_spark.operators.text import subtitle_text

    docs = t(spark, sf_dir, "documents")

    def _typeset(batches):
        for pdf in batches:
            ids, subs, counts = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                words = [w for w in (text or "").split(" ") if w]
                cues = [" ".join(words[i : i + 8])
                        for i in range(0, len(words), 8)] or [""]
                lines = []
                vtt = d % 2 == 1
                if vtt:
                    lines.append("WEBVTT")
                    lines.append("")
                    lines.append("NOTE typeset fixture")
                    lines.append("")
                for j, cue in enumerate(cues):
                    if not vtt:
                        lines.append(str(j + 1))
                    t0, t1 = j * 4, j * 4 + 3
                    if vtt:
                        lines.append(f"00:{t0 // 60:02d}:{t0 % 60:02d}.000 --> "
                                     f"00:{t1 // 60:02d}:{t1 % 60:02d}.500")
                    else:
                        lines.append(f"00:{t0 // 60:02d}:{t0 % 60:02d},000 --> "
                                     f"00:{t1 // 60:02d}:{t1 % 60:02d},500")
                    lines.append(cue)
                    lines.append("")
                ids.append(d)
                subs.append("\n".join(lines))
                counts.append(len(cues))
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "n_cues": pd.Series(counts, dtype="int32"),
                                "sub": pd.Series(subs, dtype="object")})

    assets = docs.select("doc_id", "text").mapInPandas(
        _typeset, schema="doc_id bigint, n_cues int, sub string")
    return assets.select(
        "doc_id", "n_cues",
        F.md5(subtitle_text(F.col("sub"))).alias("text_md5"),
    )
