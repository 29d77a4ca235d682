"""Invariant tests for the pipeline operators (dedup / similarity /
text / multimodal) on the documents + embeddings tables at sf0.001.

These complement the oracle comparisons in test_correctness.py with
semantic properties an oracle can't express (recall of LSH vs exact,
canonical pair order, stub behavior).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from impala_cut_spark.operators import corpus, dedup, multimodal, similarity
from impala_cut_spark.sources.catalog import load_table

EMB_DIM = 64


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


class TestCorpus:
    def test_hash_split_partitions_and_is_stable_under_growth(self, docs):
        out = corpus.hash_split(docs)
        rows = {r.doc_id: r.split for r in out.collect()}
        assert len(rows) == docs.count()
        assert set(rows.values()) <= {"train", "val", "test"}
        # growth stability: splitting HALF the corpus assigns the same
        # splits those rows get in the full corpus (no reshuffling on
        # incremental builds — the property random splits lack)
        from pyspark.sql import functions as F

        half = docs.filter(F.col("doc_id") % 2 == 0)
        sub = {r.doc_id: r.split for r in corpus.hash_split(half).collect()}
        assert all(rows[d] == s for d, s in sub.items())

    def test_stratified_sample_rate_per_stratum(self, docs):
        from pyspark.sql import functions as F

        frac = 0.2
        got = corpus.stratified_sample(docs, frac)
        per = {
            r.lang: r.n
            for r in got.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
        tot = {
            r.lang: r.n
            for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
        # binomial tolerance: ±4·sqrt(n·p(1-p)) per stratum
        for lang, n in tot.items():
            mu = n * frac
            tol = 4 * (n * frac * (1 - frac)) ** 0.5 + 1
            assert abs(per.get(lang, 0) - mu) <= tol, (lang, per.get(lang, 0), mu)
        # deterministic: a second call returns the identical set
        again = corpus.stratified_sample(docs, frac)
        assert sorted(r.doc_id for r in got.collect()) == sorted(
            r.doc_id for r in again.collect()
        )

    def test_pack_greedy_invariants(self, docs):
        from impala_cut_spark.operators.packing import pack_greedy, pack_stats

        max_tokens = 128
        packed = pack_greedy(docs, max_tokens=max_tokens, n_groups=16)
        rows = packed.collect()
        assert len(rows) == docs.count()
        # replay the fold per group and check bin fills + contiguity
        by_grp: dict[int, list] = {}
        for r in rows:
            by_grp.setdefault(r.grp, []).append(r)
        for grp, members in by_grp.items():
            members.sort(key=lambda r: r.doc_id)
            packs = [r.pack_id for r in members]
            assert packs[0] == 0
            assert all(b - a in (0, 1) for a, b in zip(packs, packs[1:]))
            fills: dict[int, list[int]] = {}
            for r in members:
                fills.setdefault(r.pack_id, []).append(r.n_tok)
            for toks in fills.values():
                # a bin exceeds max_tokens only as a single oversized doc
                assert sum(toks) <= max_tokens or len(toks) == 1
        stats = pack_stats(packed, max_tokens=max_tokens)
        assert stats.count() == len({(r.grp, r.pack_id) for r in rows})

    def test_distribution_stats_match_numpy_linear_percentile(self, docs):
        import numpy as np
        from pyspark.sql import functions as F

        out = {r.lang: r for r in corpus.distribution_stats(docs, F.col("n_chars")).collect()}
        vals: dict[str, list[int]] = {}
        for r in docs.select("lang", "n_chars").collect():
            vals.setdefault(r.lang, []).append(r.n_chars)
        for lang, xs in vals.items():
            r = out[lang]
            assert r.n == len(xs)
            for p, col in ((25, r.p25), (50, r.p50), (75, r.p75), (95, r.p95)):
                want = float(np.percentile(xs, p))  # numpy default = linear rule
                assert abs(col - want) < 1e-4, (lang, p, col, want)


class TestDedup:
    def test_exact_keep_first_is_idempotent(self, docs):
        once = dedup.exact_dedup_keep_first(docs)
        twice = dedup.exact_dedup_keep_first(once)
        assert once.count() == twice.count()

    def test_exact_groups_account_for_every_row(self, docs):
        total = docs.count()
        groups = dedup.exact_dedup_groups(docs)
        assert groups.agg({"n_dups": "sum"}).collect()[0][0] == total
        assert dedup.exact_dedup_keep_first(docs).count() == groups.count()

    def test_jaccard_pairs_are_canonical_and_thresholded(self, docs):
        rows = dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()
        assert rows, "expected some near-dup pairs in synthetic corpus"
        for r in rows:
            assert r.id_a < r.id_b  # canonical order, no mirrored pairs
            assert 0.2 <= r.jaccard <= 1.0

    def test_minhash_lsh_recall_against_exact_jaccard(self, docs):
        # banded LSH (16 bands × 4) at j ≥ 0.5: candidate probability
        # 1-(1-j^4)^16 ≥ 0.65, and verification keeps only true pairs —
        # so approx ⊆ exact, with high recall at the high-sim end
        exact = {
            (r.id_a, r.id_b)
            for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
        }
        approx = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_dedup_pairs(docs, threshold=0.5).collect()
        }
        assert approx <= exact, "LSH must verify candidates exactly (no false positives)"
        if exact:
            recall = len(approx) / len(exact)
            assert recall >= 0.6, f"minhash recall {recall:.2f} over {len(exact)} pairs"

    def test_minhash_md5_band_keys_match_exact_tuples(self, docs):
        """The md5-60bit band key (narrow shuffle rows, registered
        path) must yield the same verified pairs as zero-collision raw
        minhash tuple keys — a 60-bit collision between non-matching
        band tuples is the only way they could differ."""
        from pyspark.sql import functions as F
        from pyspark import StorageLevel

        sh = dedup.shingles(docs, 3)
        pre, aggs = dedup._minhash_pre_aggs(sh, dedup.NUM_HASHES, "md5_affine")
        pd = (
            pre.groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("shset"), *aggs)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            got = {}
            for mode in ("md5", "exact"):
                cands = dedup.lsh_candidate_pairs(pd, band_key=mode)
                out = dedup._verify_with_docsets(
                    pd.select("doc_id", "shset"), cands, 0.2
                )
                got[mode] = {(r.id_a, r.id_b) for r in out.collect()}
        finally:
            pd.unpersist()
        assert got["md5"] == got["exact"]
        assert got["md5"], "expected some near-dup pairs in synthetic corpus"

    def test_candidate_pairs_drop_overcap_null_keyed_group(self, spark):
        """groupBy puts NULL keys in one group, but a plain anti-join
        never matches NULL (NULL != NULL) — the count-then-collect cap
        must use a null-safe join so an over-cap NULL-keyed bucket is
        dropped like any other (it was the OOM the two-phase form
        exists to stop).  Below-cap NULL groups still pair up."""
        rows = (
            [("k1", i) for i in range(3)]  # normal group, over cap
            + [(None, 100 + i) for i in range(4)]  # NULL group, over cap
            + [("k2", 200), ("k2", 201)]  # normal group, under cap
        )
        keyed = spark.createDataFrame(rows, "band string, doc_id long")
        got = {
            (r.id_a, r.id_b)
            for r in dedup.candidate_pairs_from_groups(keyed, max_group=2).collect()
        }
        assert got == {(200, 201)}
        # NULL group below the cap still produces its pairs
        keyed2 = spark.createDataFrame(
            [(None, 1), (None, 2), ("k", 3), ("k", 4)], "band string, doc_id long"
        )
        got2 = {
            (r.id_a, r.id_b)
            for r in dedup.candidate_pairs_from_groups(keyed2, max_group=2).collect()
        }
        assert got2 == {(1, 2), (3, 4)}

    def test_connected_components_match_union_find(self, spark):
        """Star-algorithm components equal a driver-side union-find on
        random graphs: cliques, chains (worst case for label
        propagation), rings, singleton edges, and a cross-component
        bridge — seeded, 3 shapes."""
        import random

        for seed in (1, 7, 42):
            rng = random.Random(seed)
            edges: list[tuple[int, int]] = []
            # chains stress convergence; cliques stress pair volume
            base = 0
            for _ in range(rng.randint(2, 4)):
                n = rng.randint(2, 12)
                ids = list(range(base, base + n))
                base += n + rng.randint(1, 3)  # gaps → ids aren't dense
                shape = rng.choice(["chain", "clique", "ring"])
                if shape == "chain":
                    edges += list(zip(ids, ids[1:]))
                elif shape == "ring":
                    edges += list(zip(ids, ids[1:])) + [(ids[-1], ids[0])]
                else:
                    edges += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]]
            rng.shuffle(edges)

            # ground truth: union-find
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                while parent.setdefault(x, x) != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            truth = {x: find(x) for x in parent}

            pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
            got = {
                (r.node, r.root)
                for r in dedup.connected_components(pairs).collect()
            }
            assert got == set(truth.items())

    def test_cluster_assignment_covers_corpus_once(self, docs):
        pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2).select("id_a", "id_b")
        assign = dedup.dedup_cluster_assignment(docs, pairs)
        rows = assign.collect()
        assert len(rows) == docs.count()
        # exactly one keeper per cluster, and the keeper is the min id
        by_cluster: dict[int, list] = {}
        for r in rows:
            by_cluster.setdefault(r.cluster_id, []).append(r)
        for cid, members in by_cluster.items():
            assert sum(m.is_keeper for m in members) == 1
            assert min(m.doc_id for m in members) == cid

    def test_simhash_is_deterministic_64bit(self, docs):
        a = {(r.doc_id, r.sig) for r in dedup.simhash(docs).collect()}
        b = {(r.doc_id, r.sig) for r in dedup.simhash(docs).collect()}
        assert a == b

    def test_simhash_pairs_within_hamming_budget(self, docs):
        for r in dedup.simhash_pairs(docs, max_hamming=3).collect():
            assert r.id_a < r.id_b
            assert 0 <= r.hamming <= 3

    def test_simhash_packed_lanes_match_per_bit_formula(self, docs):
        """The 16 packed-lane sums (4 bit-position counts per BIGINT,
        round 9) must reproduce the definitional per-bit form — 64
        separate sum(when(bit_i, +1, -1)) aggregates — bit-for-bit, in
        BOTH hash families (the md5 family is also oracle-pinned by
        pipe_dedup_simhash, so a lane bug would double-fail)."""
        from pyspark.sql import functions as F

        def reference_sig(docs, fam):
            n_bits = 60 if fam == "md5_affine" else 64
            tok = docs.select(
                "doc_id",
                F.explode(F.array_distinct(dedup.tokens(F.col("text")))).alias("tok"),
            )
            h = dedup.md5_hash60(F.col("tok")) if fam == "md5_affine" else F.xxhash64("tok")
            tok = tok.withColumn("h", h)

            def _bit(i):
                return F.lit(1 << i if i < 63 else -(1 << 63)).cast("bigint")

            sums = tok.groupBy("doc_id").agg(
                *[
                    F.sum(
                        F.when(F.col("h").bitwiseAND(_bit(i)) != 0, 1).otherwise(-1)
                    ).alias(f"s_{i}")
                    for i in range(n_bits)
                ]
            )
            sig = F.lit(0).cast("bigint")
            for i in range(n_bits):
                sig = sig + F.when(F.col(f"s_{i}") > 0, _bit(i)).otherwise(
                    F.lit(0).cast("bigint")
                )
            return sums.select("doc_id", sig.alias("sig"))

        for fam in ("xxhash64", "md5_affine"):
            want = {(r.doc_id, r.sig) for r in reference_sig(docs, fam).collect()}
            got = {(r.doc_id, r.sig) for r in dedup.simhash(docs, fam).collect()}
            assert got == want, fam

    def test_simhash_lane_capacity_guard(self, spark):
        """r9 verdict #4: ≥65,536 distinct tokens per document would
        carry into the neighbouring 16-bit lane and silently corrupt
        the signature — the plan must fail loudly instead.  Boundary:
        exactly 65,535 distinct tokens still computes."""
        cap = 0xFFFF

        def doc(n):
            text = " ".join(f"t{i}" for i in range(n))
            return spark.createDataFrame([(1, text)], "doc_id long, text string")

        ok = dedup.simhash(doc(cap)).collect()
        assert len(ok) == 1 and ok[0].sig is not None
        with pytest.raises(Exception, match="packed-lane capacity"):
            dedup.simhash(doc(cap + 1)).collect()


class TestSimilarity:
    def test_brute_force_topk_shape_and_order(self, emb):
        k = 5
        probe = emb.limit(2)
        rows = similarity.brute_force_topk(emb, probe, k=k).collect()
        by_query = {}
        for r in rows:
            by_query.setdefault(r.q_id, []).append(r)
        assert len(by_query) == 2
        for neighbors in by_query.values():
            assert len(neighbors) <= k
            ranks = sorted(n.rank for n in neighbors)
            assert ranks == list(range(1, len(neighbors) + 1))
            sims = [n.cos for n in sorted(neighbors, key=lambda x: x.rank)]
            assert sims == sorted(sims, reverse=True)

    def test_l2_normalize_unit_length(self, emb):
        out = similarity.l2_normalize(emb).select("vec_id", "unit_vec").collect()
        assert len(out) == emb.count()
        for r in out[:50]:
            n2 = sum(x * x for x in r.unit_vec)
            assert abs(n2 - 1.0) < 1e-4, (r.vec_id, n2)

    def test_label_centroids_match_numpy(self, emb):
        import numpy as np

        got = {r.label: (r.n, r.centroid) for r in similarity.label_centroids(emb).collect()}
        rows = emb.select("label", "embedding").collect()
        by_label: dict[int, list] = {}
        for r in rows:
            by_label.setdefault(r.label, []).append(np.array(r.embedding, dtype=np.float64))
        for label, vecs in by_label.items():
            n, cent = got[label]
            assert n == len(vecs)
            want = np.mean(np.vstack(vecs), axis=0)
            assert np.allclose(np.array(cent), want, atol=1e-5), label

    def test_lsh_topk_subset_of_exact_scores(self, emb):
        # every LSH result must carry the exact cosine the brute-force
        # path would compute for that (query, neighbor) pair
        probe = emb.limit(3)
        brute = {
            (r.q_id, r.n_id): r.cos
            for r in similarity.brute_force_topk(emb, probe, k=500).collect()
        }
        lsh = similarity.lsh_topk(emb, probe, dim=EMB_DIM, k=5).collect()
        assert lsh, "LSH should return neighbors for in-corpus probes"
        for r in lsh:
            assert brute[(r.q_id, r.n_id)] == r.cos

    def test_lsh_multiprobe_recall_dominates_single_probe(self, emb):
        """Multi-probe LSH (flip the b nearest-to-hyperplane bits) must
        find a superset-or-equal of the single-probe candidate mass and
        at least match its recall vs exact brute force."""
        probe = emb.limit(5)
        exact = {
            (r.q_id, r.n_id)
            for r in similarity.brute_force_topk(emb, probe, k=5).collect()
        }
        single = {
            (r.q_id, r.n_id)
            for r in similarity.lsh_topk(emb, probe, dim=EMB_DIM, k=5).collect()
        }
        multi = {
            (r.q_id, r.n_id)
            for r in similarity.lsh_topk(
                emb, probe, dim=EMB_DIM, k=5, multi_probe=2
            ).collect()
        }
        recall_single = len(single & exact) / len(exact)
        recall_multi = len(multi & exact) / len(exact)
        assert recall_multi >= recall_single, (recall_multi, recall_single)
        # every multi-probe result still carries the exact cosine rank
        # semantics (rank 1..k, descending cosine) — spot check count
        assert len(multi) >= len(single)


#: PNG Adam7 pass origins and steps (spec §8.2): (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


class TestMultimodal:
    def test_decode_image_stub_for_remaining_codecs(self):
        # Both WebP codings decode through libwebp; it rejects corrupt
        # VP8 payloads, junk containers and inter frames, which surface
        # as ValueError inside the _DECODE_ERRORS degrade contract
        with pytest.raises(ValueError):
            multimodal.decode_image(
                b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd"
            )
        with pytest.raises(ValueError):
            multimodal.decode_image(b"RIFF\x00\x00\x00\x00WEBPwebp-ish")
        with pytest.raises(ValueError):  # inter-frame tag bit
            multimodal.decode_image(
                b"RIFF\x1a\x00\x00\x00WEBPVP8 \x12\x00\x00\x00"
                b"\x01\x00\x00\x9d\x01\x2a\x10\x00\x10\x00" + b"\x00" * 8
            )

    def test_tiff_roundtrip_all_compressions(self):
        """Lossless round-trips across none / LZW(+predictor) /
        Deflate / PackBits, gray and RGB, both through decode_image's
        dispatch."""
        import numpy as np

        from impala_cut_spark.operators.tiff import encode_tiff

        rng = np.random.default_rng(3)
        for comp in (1, 5, 8, 32773):
            for pred in ((1, 2) if comp == 5 else (1,)):
                for ch in (1, 3):
                    shape = (13, 9) if ch == 1 else (13, 9, 3)
                    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
                    got = multimodal.decode_image(
                        encode_tiff(img, compression=comp, predictor=pred)
                    )
                    want = (
                        np.repeat(img[:, :, None], 3, axis=2) if ch == 1 else img
                    )
                    assert (got == want).all(), (comp, pred, ch)

    def test_tiff_matches_jvm_imageio_both_directions(self, spark, tmp_path):
        """Write LZW / PackBits / Deflate TIFFs with the JVM ImageIO
        codec and decode them here bit-exactly; then encode here and
        have the JVM decode bit-exactly — true external conformance in
        both directions."""
        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_tiff
        from impala_cut_spark.operators.tiff import encode_tiff

        jvm = spark._jvm
        rng = np.random.default_rng(11)
        h, w = 23, 17
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        bi = jvm.java.awt.image.BufferedImage(w, h, 1)  # TYPE_INT_RGB
        for y in range(h):
            for x in range(w):
                r, g, b = (int(v) for v in img[y, x])
                bi.setRGB(x, y, (r << 16) | (g << 8) | b)
        for ctype in ("LZW", "PackBits", "Deflate"):
            path = str(tmp_path / f"ref_{ctype}.tif")
            wr = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
            param = wr.getDefaultWriteParam()
            param.setCompressionMode(2)  # MODE_EXPLICIT
            param.setCompressionType(ctype)
            ios = jvm.javax.imageio.ImageIO.createImageOutputStream(jvm.java.io.File(path))
            wr.setOutput(ios)
            wr.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
            ios.close()
            got = decode_tiff(open(path, "rb").read())
            assert (got == img).all(), ctype
        # reverse: the JVM decodes OUR LZW+predictor output bit-exactly
        mine = str(tmp_path / "mine.tif")
        open(mine, "wb").write(encode_tiff(img, compression=5, predictor=2))
        row = spark.read.format("image").load(mine).collect()[0]["image"]
        ref = np.frombuffer(bytes(row["data"]), dtype=np.uint8).reshape(
            row["height"], row["width"], row["nChannels"]
        )[..., ::-1]
        assert (ref == img).all()

    def test_tiff_real_world_and_unsupported_variants(self):
        import os

        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_tiff
        from impala_cut_spark.operators.tiff import encode_tiff

        p = "/root/.pyenv/versions/3.13.0/lib/python3.13/test/test_email/data/python.tiff"
        if os.path.exists(p):  # real-world RGBA uncompressed, foreign writer
            img = decode_tiff(open(p, "rb").read())
            assert img.shape == (16, 16, 3) and img.dtype == np.uint8
            assert img.std() > 0
        # odd sample depths stay a documented boundary: libtiff's RGBA
        # reader refuses them
        import struct as st

        base = bytearray(encode_tiff(np.zeros((4, 4), dtype=np.uint8)))
        # patch BitsPerSample (258) value from 8 to 12
        idx = bytes(base).find(st.pack("<HHI", 258, 3, 1))
        base[idx + 8 : idx + 10] = st.pack("<H", 12)
        with pytest.raises(ValueError, match="12-bit"):
            decode_tiff(bytes(base))

    def test_tiff_16bit_gray_matches_jvm_imageio(self, spark, tmp_path):
        """A 16-bit grayscale TIFF written by the JVM ImageIO codec
        (TYPE_USHORT_GRAY raster with known samples) decodes to the
        high byte of each sample."""
        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_tiff

        jvm = spark._jvm
        rng = np.random.default_rng(13)
        h, w = 9, 14
        s16 = rng.integers(0, 65536, size=(h, w), dtype=np.uint16)
        bi = jvm.java.awt.image.BufferedImage(w, h, 11)  # TYPE_USHORT_GRAY
        raster = bi.getRaster()
        for y in range(h):
            for x in range(w):
                raster.setSample(x, y, 0, int(s16[y, x]))
        path = str(tmp_path / "g16.tif")
        ok = jvm.javax.imageio.ImageIO.write(bi, "tiff", jvm.java.io.File(path))
        assert ok
        got = decode_tiff(open(path, "rb").read())
        want = np.repeat((s16 >> 8).astype(np.uint8)[:, :, None], 3, axis=2)
        assert (got == want).all()

    def test_tiff_tiled_layout_matches_jvm_imageio(self, spark, tmp_path):
        """Explicitly-TILED TIFFs (TIFF 6.0 §15) written by the JVM
        ImageIO codec decode bit-exactly — tile grid paste, edge-tile
        clipping (image dims deliberately not tile multiples), LZW and
        Deflate tile compression."""
        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_tiff

        jvm = spark._jvm
        rng = np.random.default_rng(12)
        h, w = 37, 29  # NOT multiples of the 16x16 tile grid
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        bi = jvm.java.awt.image.BufferedImage(w, h, 1)  # TYPE_INT_RGB
        for y in range(h):
            for x in range(w):
                r, g, b = (int(v) for v in img[y, x])
                bi.setRGB(x, y, (r << 16) | (g << 8) | b)
        for ctype in ("LZW", "Deflate", "PackBits"):
            path = str(tmp_path / f"tiled_{ctype}.tif")
            wr = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
            param = wr.getDefaultWriteParam()
            param.setCompressionMode(2)  # MODE_EXPLICIT
            param.setCompressionType(ctype)
            param.setTilingMode(2)  # MODE_EXPLICIT
            param.setTiling(16, 16, 0, 0)
            ios = jvm.javax.imageio.ImageIO.createImageOutputStream(
                jvm.java.io.File(path)
            )
            wr.setOutput(ios)
            wr.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
            ios.close()
            got = decode_tiff(open(path, "rb").read())
            assert (got == img).all(), ctype

    def test_gif_roundtrip_lossless(self):
        """GIF is lossless for <=256-color images: encode_gif →
        decode_gif must reproduce the exact pixels, across palette
        sizes (1-bit to 8-bit code widths) and a table-growth image."""
        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_gif

        rng = np.random.default_rng(9)
        for ncolors in (2, 5, 16, 200):
            pal = rng.integers(0, 256, size=(ncolors, 3), dtype=np.uint8)
            idx = rng.integers(0, ncolors, size=(21, 17))
            img = pal[idx]
            got = decode_gif(multimodal.encode_gif(img))
            assert (got == img).all(), ncolors

    def test_gif_matches_jvm_imageio_bit_exact(self, spark):
        """Decoding real-world GIFs (foreign encoder, palette + LZW +
        sub-block framing) must be BIT-EXACT against the JVM ImageIO
        decode — GIF is lossless, so no tolerance."""
        import os

        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_gif

        paths = [
            "/usr/share/doc/libxslt1-dev/html/Libxslt-Logo-180x168.gif",
            "/usr/share/doc/libxslt1-dev/html/contexts.gif",
        ]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            pytest.skip("libxslt doc GIFs not present")
        for row in spark.read.format("image").load(paths).collect():
            im = row["image"]
            nc = im["nChannels"]
            ref = np.frombuffer(bytes(im["data"]), dtype=np.uint8).reshape(
                im["height"], im["width"], nc
            )
            ref_rgb = ref[..., :3][..., ::-1] if nc >= 3 else np.repeat(ref, 3, axis=2)
            local = "/" + im["origin"].split("file:", 1)[-1].lstrip("/")
            mine = decode_gif(open(local, "rb").read())
            assert (mine == ref_rgb).all(), im["origin"]

    def test_png_roundtrip_every_filter_and_layout(self):
        """encode_png forward-filters with each of the five spec
        filters; decode_png must invert all of them for gray, RGB and
        RGBA layouts (alpha dropped, gray replicated to RGB)."""
        import numpy as np

        rng = np.random.default_rng(7)
        for ch in (1, 3, 4):
            img = rng.integers(0, 256, size=(13, 9, ch), dtype=np.uint8)
            want = {
                1: np.repeat(img, 3, axis=2),
                3: img,
                4: img[..., :3],
            }[ch]
            for ft in range(5):
                got = multimodal.decode_image(
                    multimodal.encode_png(img, filter_type=ft)
                )
                assert got.shape == (13, 9, 3)
                assert (got == want).all(), (ch, ft)

    @pytest.mark.parametrize(
        "path",
        [
            # real-world PNGs written by FOREIGN encoders (mixed
            # filters, RGBA and palette): spec conformance beyond the
            # self-round-trip
            "/usr/share/doc/python3-dev/_static/file.png",  # RGBA
            "/usr/share/gitweb/static/git-logo.png",  # palette
        ],
    )
    def test_png_decodes_real_world_files(self, path):
        import os

        import numpy as np

        if not os.path.exists(path):
            pytest.skip(f"{path} not present")
        img = multimodal.decode_image(open(path, "rb").read())
        assert img.ndim == 3 and img.shape[2] == 3 and img.dtype == np.uint8
        assert img.size > 0 and img.std() > 0  # decoded real content

    def test_png_hypothesis_roundtrip(self):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        import numpy as np

        @settings(
            max_examples=40,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(
            w=st.integers(1, 12),
            h=st.integers(1, 12),
            ch=st.sampled_from([1, 3, 4]),
            ft=st.integers(0, 4),
            seed=st.integers(0, 2**31 - 1),
        )
        def roundtrip(w, h, ch, ft, seed):
            rng = np.random.default_rng(seed)
            img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
            got = multimodal.decode_image(multimodal.encode_png(img, filter_type=ft))
            want = img if ch == 3 else (
                np.repeat(img, 3, axis=2) if ch == 1 else img[..., :3]
            )
            assert (got == want).all()

        roundtrip()

    @staticmethod
    def _build_png(samples, depth, ctype, interlace=0, plte=None):
        """Hand-assemble a conformant PNG from a (h, w, ch) sample
        array (uint16 for depth 16, small ints otherwise), filter 0
        rows, optional Adam7 pass splitting — an independent encoder
        for variants encode_png doesn't emit."""
        import struct
        import zlib

        import numpy as np

        h, w, ch = samples.shape

        def pack_row(row):  # row: flat (w*ch,) sample vector
            if depth == 8:
                return row.astype(np.uint8).tobytes()
            if depth == 16:
                return row.astype(">u2").tobytes()
            acc = n = 0
            buf = bytearray()
            for v in row:
                acc = (acc << depth) | int(v)
                n += depth
                if n == 8:
                    buf.append(acc)
                    acc = n = 0
            if n:
                buf.append(acc << (8 - n))
            return bytes(buf)

        def emit(region):  # region: (rh, rw, ch) → filtered scanlines
            out = bytearray()
            for y in range(region.shape[0]):
                out.append(0)  # filter None
                out += pack_row(region[y].reshape(-1))
            return out

        raw = bytearray()
        if interlace:
            for x0, y0, dx, dy in _ADAM7:
                sub = samples[y0::dy, x0::dx]
                if sub.size:
                    raw += emit(sub)
        else:
            raw += emit(samples)
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
        body = multimodal.PNG_SIG + multimodal._png_chunk(b"IHDR", ihdr)
        if plte is not None:
            body += multimodal._png_chunk(b"PLTE", plte.astype(np.uint8).tobytes())
        body += multimodal._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        return body + multimodal._png_chunk(b"IEND", b"")

    def test_png_adam7_interlace_rgb_and_gray(self):
        import numpy as np

        rng = np.random.default_rng(11)
        for h, w in ((1, 1), (2, 3), (7, 7), (11, 5), (16, 16), (9, 23)):
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            got = multimodal.decode_image(self._build_png(img, 8, 2, interlace=1))
            assert (got == img).all(), (h, w)
            gray = rng.integers(0, 256, size=(h, w, 1), dtype=np.uint8)
            got = multimodal.decode_image(self._build_png(gray, 8, 0, interlace=1))
            assert (got == np.repeat(gray, 3, axis=2)).all(), (h, w)

    def test_png_adam7_matches_jvm_imageio(self, spark, tmp_path):
        """An Adam7 RGB PNG assembled by the independent in-test
        encoder must decode identically through our decoder and the
        JVM's ImageIO (spark image source)."""
        import numpy as np

        rng = np.random.default_rng(4)
        img = rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
        path = str(tmp_path / "adam7.png")
        open(path, "wb").write(self._build_png(img, 8, 2, interlace=1))
        row = spark.read.format("image").load(path).collect()[0]["image"]
        assert row["height"] == 13 and row["width"] == 17
        ref = np.frombuffer(bytes(row["data"]), dtype=np.uint8).reshape(
            13, 17, row["nChannels"]
        )[..., :3][..., ::-1]  # ImageIO hands BGR
        assert (ref == img).all()
        assert (multimodal.decode_image(open(path, "rb").read()) == img).all()

    def test_png_16bit_reduces_by_libpng_rounding(self):
        """16-bit samples reduce to 8 bits by libpng's rounding,
        (v + 128) // 257, whatever gAMA the file declares; alpha is
        dropped without premultiplying the colour samples.  Adam7
        images read as 16-bit linear samples (libpng's 8-bit read of
        them is wrong), which libpng premultiplies: divided back out,
        the colour is within 1 of the rounding wherever the alpha is
        at least 129 (8-bit alpha above 0)."""
        import struct

        import numpy as np

        def to8(v):
            return ((v.astype(np.int64) + 128) // 257).astype(np.uint8)

        rng = np.random.default_rng(5)
        s16 = rng.integers(0, 65536, size=(6, 5, 3), dtype=np.uint16)
        got = multimodal.decode_image(self._build_png(s16, 16, 2))
        assert (got == to8(s16)).all()
        # 16-bit gray + Adam7 combined
        g16 = rng.integers(0, 65536, size=(9, 4, 1), dtype=np.uint16)
        got = multimodal.decode_image(self._build_png(g16, 16, 0, interlace=1))
        assert (got == np.repeat(to8(g16), 3, axis=2)).all()
        # RGBA with a linear gAMA chunk: colour-space chunks are ignored
        a16 = rng.integers(0, 65536, size=(64, 64, 4), dtype=np.uint16)
        png = self._build_png(a16, 16, 6)
        i = png.index(b"IDAT") - 4
        png = (png[:i] + multimodal._png_chunk(b"gAMA", struct.pack(">I", 100000))
               + png[i:])
        assert (multimodal.decode_image(png) == to8(a16[..., :3])).all()
        # Adam7: RGB exact in every pass; RGBA and gray+alpha within 1
        # of the stored colour, over the whole alpha range
        got = multimodal.decode_image(self._build_png(a16[:17, :13, :3], 16, 2, interlace=1))
        assert (got == to8(a16[:17, :13, :3])).all()
        a16[..., 3] = np.arange(64 * 64).reshape(64, 64) * 16
        alpha = a16[:17, :13, 3]
        for ctype, samples in ((6, a16[:17, :13]), (4, a16[:17, :13, 2:])):
            got = multimodal.decode_image(self._build_png(samples, 16, ctype, interlace=1))
            want = to8(np.broadcast_to(samples[..., :-1], (17, 13, 3)))
            diff = np.abs(got.astype(np.int64) - want)
            assert diff[alpha >= 129].max() <= 1 and (got[alpha == 0] == 0).all(), ctype

    def test_png_sub_byte_gray_scales_to_full_range(self):
        import numpy as np

        rng = np.random.default_rng(6)
        for depth, scale in ((1, 255), (2, 85), (4, 17)):
            v = rng.integers(0, 1 << depth, size=(7, 11, 1), dtype=np.uint8)
            got = multimodal.decode_image(self._build_png(v, depth, 0))
            assert (got == np.repeat(v * scale, 3, axis=2)).all(), depth

    def test_png_sub_byte_palette_plain_and_interlaced(self):
        import numpy as np

        rng = np.random.default_rng(8)
        plte = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        idx = rng.integers(0, 16, size=(10, 9, 1), dtype=np.uint8)
        for il in (0, 1):
            got = multimodal.decode_image(
                self._build_png(idx, 4, 3, interlace=il, plte=plte)
            )
            assert (got == plte[idx.reshape(10, 9)]).all(), il

    def test_png_gray_alpha_and_unsupported_variants(self):
        import struct
        import zlib

        import numpy as np

        # gray+alpha (color type 4): hand-built container (encode_png
        # maps 1-channel input to plain gray)
        base = np.random.default_rng(3).integers(0, 256, size=(5, 4, 2), dtype=np.uint8)
        lines = bytearray()
        for y in range(5):
            lines.append(0)
            lines += base[y].tobytes()
        ihdr = struct.pack(">IIBBBBB", 4, 5, 8, 4, 0, 0, 0)
        payload = (
            multimodal.PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(b"IDAT", zlib.compress(bytes(lines)))
            + multimodal._png_chunk(b"IEND", b"")
        )
        got = multimodal.decode_image(payload)
        assert (got == np.repeat(base[..., :1], 3, axis=2)).all()
        # truncated scanline payloads still raise a clear error (these
        # were the pre-round-9 16-bit/Adam7 stub boundaries — both now
        # decode for real, but a 13-byte IDAT is short either way)
        for depth, interlace in ((16, 0), (8, 1)):
            ihdr = struct.pack(">IIBBBBB", 2, 2, depth, 2, 0, 0, interlace)
            bad = (
                multimodal.PNG_SIG
                + multimodal._png_chunk(b"IHDR", ihdr)
                + multimodal._png_chunk(b"IDAT", zlib.compress(b"\x00" * 13))
                + multimodal._png_chunk(b"IEND", b"")
            )
            with pytest.raises(ValueError):
                multimodal.decode_image(bad)

    def test_jpeg_roundtrip_within_lossy_tolerance(self):
        """Baseline JPEG is lossy — the round-trip must stay within
        quantization tolerance at quality 95, with and without restart
        markers (the RSTn/DRI resync path), RGB and grayscale."""
        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_jpeg
        from impala_cut_spark.operators.jpeg import encode_jpeg

        rng = np.random.default_rng(5)
        yy, xx = np.mgrid[0:40, 0:56]
        base = ((xx * 3 + yy * 2) % 256).astype(np.uint8)
        img = np.stack([base, 255 - base, (base * 2) % 256], axis=2)
        img = np.clip(img.astype(int) + rng.integers(-6, 7, img.shape), 0, 255).astype(np.uint8)
        for ri in (0, 3):
            dec = decode_jpeg(encode_jpeg(img, quality=95, restart_interval=ri))
            d = np.abs(dec.astype(int) - img.astype(int))
            assert d.mean() < 4 and d.max() < 40, (ri, d.mean(), d.max())
        dg = decode_jpeg(encode_jpeg(base, quality=95))
        dd = np.abs(dg[:, :, 0].astype(int) - base.astype(int))
        assert dd.mean() < 2  # smooth grayscale compresses near-losslessly

    def test_jpeg_matches_jvm_imageio_on_real_photos(self, spark):
        """Decode Spark's bundled real-world photos (baseline 4:2:0,
        written by a foreign encoder) and compare against the JVM's
        ImageIO decode (spark.read.format('image')): bit-exact, since
        libjpeg and ImageIO share the slow-integer IDCT and fancy
        chroma upsampling."""
        import os

        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_jpeg

        paths = [
            "/opt/spark/data/mllib/images/origin/kittens/54893.jpg",
            "/opt/spark/data/mllib/images/origin/kittens/DP802813.jpg",
        ]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            pytest.skip("Spark mllib image test data not present")
        for row in spark.read.format("image").load(paths).collect():
            im = row["image"]
            ref = np.frombuffer(bytes(im["data"]), dtype=np.uint8).reshape(
                im["height"], im["width"], im["nChannels"]
            )[..., ::-1]  # ImageIO hands BGR
            local = im["origin"].split("file:", 1)[-1].lstrip("/")
            mine = decode_jpeg(open("/" + local, "rb").read())
            d = np.abs(mine.astype(int) - ref.astype(int))
            assert mine.shape == ref.shape
            assert d.max() == 0, (im["origin"], d.mean(), d.max())

    def test_jpeg_progressive_matches_jvm_imageio(self, spark):
        """Real-world PROGRESSIVE JPEGs (SOF2: spectral-selection +
        successive-approximation scans, color and grayscale) decode
        bit-exactly against the JVM ImageIO reference."""
        import os

        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_jpeg

        paths = [
            "/usr/share/doc/nodejs/thin-white-stripe.jpg",
            "/usr/share/doc/nodejs/full-white-stripe.jpg",
            "/opt/spark/data/mllib/images/origin/multi-channel/grayscale.jpg",
        ]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            pytest.skip("progressive fixtures not present")
        for row in spark.read.format("image").load(paths).collect():
            im = row["image"]
            nc = im["nChannels"]
            ref = np.frombuffer(bytes(im["data"]), dtype=np.uint8).reshape(
                im["height"], im["width"], nc
            )
            ref_rgb = ref[..., :3][..., ::-1] if nc >= 3 else np.repeat(ref, 3, axis=2)
            local = "/" + im["origin"].split("file:", 1)[-1].lstrip("/")
            mine = decode_jpeg(open(local, "rb").read())
            d = np.abs(mine.astype(int) - ref_rgb.astype(int))
            assert d.max() == 0, (im["origin"], d.max(), d.mean())

    def test_jpeg_multiscan_baseline(self, spark, tmp_path):
        """T.81 lets a sequential frame spread its components over
        several non-interleaved scans.  encode_jpeg(interleave=False)
        emits that layout (one SOS per component); decode_jpeg must
        accumulate coefficients across scans and match the interleaved
        decode BIT-EXACTLY, and the JVM ImageIO decoder must agree on
        our multi-scan file (true external conformance)."""
        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_jpeg
        from impala_cut_spark.operators.jpeg import encode_jpeg

        rng = np.random.default_rng(7)
        img = (
            np.linspace(0, 255, 40 * 48 * 3).reshape(40, 48, 3)
            + rng.integers(0, 30, (40, 48, 3))
        ).clip(0, 255).astype(np.uint8)
        multi = encode_jpeg(img, quality=92, interleave=False)
        single = encode_jpeg(img, quality=92, interleave=True)
        assert (decode_jpeg(multi) == decode_jpeg(single)).all()
        # grayscale + odd dimensions through the same path
        odd = img[:33, :29]
        assert (
            decode_jpeg(encode_jpeg(odd, interleave=False))
            == decode_jpeg(encode_jpeg(odd))
        ).all()
        g = img[:, :, 1]
        assert (
            decode_jpeg(encode_jpeg(g, interleave=False))
            == decode_jpeg(encode_jpeg(g))
        ).all()
        # the JVM decodes our multi-scan file to the same pixels
        path = str(tmp_path / "multiscan.jpg")
        open(path, "wb").write(multi)
        row = spark.read.format("image").load(path).collect()[0]["image"]
        ref = np.frombuffer(bytes(row["data"]), dtype=np.uint8).reshape(
            row["height"], row["width"], row["nChannels"]
        )[..., ::-1]
        d = np.abs(decode_jpeg(multi).astype(int) - ref.astype(int))
        assert d.max() == 0, (d.max(), d.mean())

    def test_tiff_palette_matches_jvm_imageio(self, spark, tmp_path):
        """Palette (photometric 3) TIFF written by the JVM ImageIO
        codec decodes bit-exactly — ColorMap is a SHORT-typed tag, so
        the parsed ints are used directly (the r8 form re-unpacked them
        as bytes and crashed on every palette file)."""
        import numpy as np

        jvm = spark._jvm
        h, w = 11, 13
        rng = np.random.default_rng(5)
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        bi = jvm.java.awt.image.BufferedImage(w, h, 13)  # TYPE_BYTE_INDEXED
        for y in range(h):
            for x in range(w):
                r, g, b = (int(v) for v in img[y, x])
                bi.setRGB(x, y, (r << 16) | (g << 8) | b)
        path = str(tmp_path / "palette.tif")
        wr = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(jvm.java.io.File(path))
        wr.setOutput(ios)
        wr.write(None, jvm.javax.imageio.IIOImage(bi, None, None), wr.getDefaultWriteParam())
        ios.close()
        data = open(path, "rb").read()
        import struct as st

        from impala_cut_spark.operators.imagelibs import decode_tiff

        bo = "<" if data[:2] == b"II" else ">"
        (ifd,) = st.unpack_from(bo + "I", data, 4)
        (n,) = st.unpack_from(bo + "H", data, ifd)
        entries = [st.unpack_from(bo + "HHIH", data, ifd + 2 + 12 * i)
                   for i in range(n)]
        assert (262, 3, 1, 3) in entries  # really palette photometric
        got = decode_tiff(data)
        # ground truth = what the JVM itself reads back (indexed quantizes)
        row = spark.read.format("image").load(path).collect()[0]["image"]
        ref = np.frombuffer(bytes(row["data"]), dtype=np.uint8).reshape(
            row["height"], row["width"], row["nChannels"]
        )[..., ::-1]
        assert (got == ref).all()

    def test_extract_features_degrades_on_corrupt_assets(self, spark):
        """The never-fail contract: corrupt/truncated payloads that
        surface zlib.error (PNG IDAT), EOFError/IndexError (truncated
        JPEG entropy data) or KeyError (missing tables) degrade to the
        byte-feature fallback instead of failing the job."""
        import numpy as np

        from impala_cut_spark.operators.jpeg import encode_jpeg

        yy, xx = np.mgrid[0:24, 0:32]
        img = np.stack([(xx * 5) % 256, (yy * 7) % 256, (yy * 3) % 256], axis=2).astype(np.uint8)
        png = bytearray(multimodal.encode_png(img))
        i = bytes(png).find(b"IDAT")
        png[i + 4 : i + 14] = b"\x00" * 10  # corrupt the zlib stream
        jp = encode_jpeg(img, quality=90)
        rows = [
            (1, "image", "image/png", 32, 24, png),
            (2, "image", "image/jpeg", 32, 24, bytearray(jp[: len(jp) // 2])),
        ]
        assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        feats = {r.asset_id: np.array(r.features) for r in multimodal.extract_features(assets).collect()}
        assert np.allclose(feats[1], multimodal.fake_features(bytes(rows[0][5])))
        assert np.allclose(feats[2], multimodal.fake_features(bytes(rows[1][5])))

    def test_jpeg_dc_overflow_degrades_to_byte_features(self, spark):
        """One flipped byte in the DC Huffman table (category 7 → 255)
        puts a symbol above category 15 in a DC table, which libjpeg
        rejects when it builds the table.  The ValueError is a decode
        error, so extract_features emits byte features instead of
        failing the job."""
        import numpy as np

        from impala_cut_spark.operators.jpeg import encode_jpeg

        yy, xx = np.mgrid[0:16, 0:16]
        img = np.stack([(xx * 16) % 256, (yy * 16) % 256, ((xx + yy) * 8) % 256],
                       axis=2).astype(np.uint8)
        jp = bytearray(encode_jpeg(img, quality=90))
        dht = bytes(jp).index(b"\xff\xc4")
        symbols = dht + 2 + 2 + 1 + 16  # marker, length, class/id, counts
        assert jp[symbols + 7] == 7
        jp[symbols + 7] = 0xFF
        with pytest.raises(ValueError):
            multimodal.decode_image(bytes(jp))
        assets = spark.createDataFrame(
            [(1, "image", "image/jpeg", 16, 16, jp)], multimodal.ASSET_SCHEMA
        )
        (row,) = multimodal.extract_features(assets).collect()
        assert np.allclose(row.features, multimodal.fake_features(bytes(jp)))

    def test_jpeg_bare_sof9_header_raises(self):
        """A stream that ends after its SOF9 (arithmetic sequential)
        frame header raises ValueError."""
        import struct

        from impala_cut_spark.operators.imagelibs import decode_jpeg

        sof9 = struct.pack(">BHHB", 8, 2, 2, 1) + bytes([1, 0x11, 0])
        payload = b"\xff\xd8" + b"\xff\xc9" + struct.pack(">H", 2 + len(sof9)) + sof9
        with pytest.raises(ValueError):
            decode_jpeg(payload)

    def test_extract_features_uses_real_jpeg_path(self, spark):
        """A JPEG payload flows through the mapInPandas extractor via
        the real decode — features near-identical to the same pixels
        as lossless PPM (JPEG is lossy, so allclose with tolerance),
        and nothing like the fake byte-level fallback."""
        import numpy as np

        from impala_cut_spark.operators.jpeg import encode_jpeg

        yy, xx = np.mgrid[0:24, 0:32]
        img = np.stack([(xx * 5) % 256, (yy * 7) % 256, ((xx + yy) * 3) % 256], axis=2).astype(np.uint8)
        rows = [
            (1, "image", "image/jpeg", 32, 24, bytearray(encode_jpeg(img, quality=95))),
            (2, "image", "image/x-portable-pixmap", 32, 24, bytearray(multimodal.encode_ppm(img))),
        ]
        assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        feats = {r.asset_id: np.array(r.features) for r in multimodal.extract_features(assets).collect()}
        assert np.allclose(feats[1], feats[2], atol=0.05)
        assert not np.allclose(feats[1], multimodal.fake_features(bytes(rows[0][5])), atol=0.05)

    @staticmethod
    def _build_mp4(duration_scale=(5400, 1000), n_samples=48, n_keyframes=4,
                   with_stss=True, largesize_moov=False):
        """Minimal valid ISO BMFF tree per ISO/IEC 14496-12: ftyp +
        moov[mvhd, trak[mdia[hdlr(vide), minf[stbl[stsd(avc1), stsz,
        stss?]]]], trak[...hdlr(soun), stsd(mp4a)...]]."""
        import struct

        def box(typ, payload):
            return struct.pack(">I", 8 + len(payload)) + typ + payload

        dur, scale = duration_scale
        mvhd = box(b"mvhd", b"\x00" + b"\x00" * 3 + b"\x00" * 8
                   + struct.pack(">II", scale, dur) + b"\x00" * 80)
        avc1 = struct.pack(">I", 8 + 78) + b"avc1" + b"\x00" * 24 + struct.pack(">HH", 640, 360) + b"\x00" * 50
        stsd_v = box(b"stsd", struct.pack(">II", 0, 1) + avc1)
        stsz_v = box(b"stsz", struct.pack(">III", 0, 0, n_samples))
        stbl_children = stsd_v + stsz_v
        if with_stss:
            stbl_children += box(b"stss", struct.pack(">II", 0, n_keyframes)
                                 + b"\x00\x00\x00\x01" * n_keyframes)
        trak_v = box(b"trak", box(b"mdia",
            box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
            + box(b"minf", box(b"stbl", stbl_children))))
        mp4a = struct.pack(">I", 8 + 28) + b"mp4a" + b"\x00" * 28
        trak_a = box(b"trak", box(b"mdia",
            box(b"hdlr", b"\x00" * 8 + b"soun" + b"\x00" * 12)
            + box(b"minf", box(b"stbl",
                box(b"stsd", struct.pack(">II", 0, 1) + mp4a)
                + box(b"stsz", struct.pack(">III", 0, 0, 200))))))
        moov_payload = mvhd + trak_v + trak_a
        if largesize_moov:
            moov = struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 16 + len(moov_payload)) + moov_payload
        else:
            moov = box(b"moov", moov_payload)
        return box(b"ftyp", b"isom" + b"\x00\x00\x02\x00" + b"isomiso2avc1") + moov

    def test_mp4_metadata_box_tree(self):
        from impala_cut_spark.operators.multimodal import mp4_metadata

        meta = mp4_metadata(self._build_mp4())
        assert meta["brand"] == "isom"
        assert meta["duration_sec"] == 5.4
        assert meta["n_tracks"] == 2
        vid = meta["tracks"][0]
        assert vid == {"handler": "vide", "codec": "avc1", "width": 640,
                       "height": 360, "n_samples": 48, "n_keyframes": 4}
        aud = meta["tracks"][1]
        assert (aud["handler"], aud["codec"], aud["n_samples"]) == ("soun", "mp4a", 200)
        # stss absent => every sample is a sync sample (spec 8.6.2)
        meta2 = mp4_metadata(self._build_mp4(with_stss=False))
        assert meta2["tracks"][0]["n_keyframes"] == 48
        # 64-bit largesize boxes parse too
        meta3 = mp4_metadata(self._build_mp4(largesize_moov=True))
        assert meta3["duration_sec"] == 5.4 and meta3["n_tracks"] == 2
        with pytest.raises(ValueError):
            mp4_metadata(b"\x00\x00\x00\x08free not-bmff")

    def test_video_metadata_dataframe(self, spark):
        """The mapInPandas prune stage: parseable payloads yield their
        container facts; garbage yields parse_ok=false, not a crash."""
        from impala_cut_spark.operators.multimodal import video_metadata

        rows = [
            (1, "video", "video/mp4", 640, 360, bytearray(self._build_mp4())),
            (2, "video", "video/mp4", 0, 0, bytearray(b"not a video at all")),
        ]
        assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        got = {r.asset_id: r for r in video_metadata(assets).collect()}
        ok = got[1]
        assert ok.parse_ok and ok.brand == "isom" and ok.video_codec == "avc1"
        assert (ok.width, ok.height, ok.n_samples, ok.n_keyframes) == (640, 360, 48, 4)
        assert abs(ok.duration_sec - 5.4) < 1e-9 and ok.n_tracks == 2
        assert not got[2].parse_ok

    def test_g711_wav_decode_matches_stdlib_reference(self):
        """μ-law / A-law WAV (format tags 7/6) expand exactly per
        ITU-T G.711 — verified against the stdlib audioop reference on
        ALL 256 code bytes, plus an end-to-end RIFF container decode."""
        import struct

        import numpy as np

        audioop = pytest.importorskip("audioop")  # removed in py3.13
        from impala_cut_spark.operators.multimodal import (
            _alaw_expand,
            _ulaw_expand,
            decode_wav,
        )

        codes = np.arange(256, dtype=np.uint8)
        ref_u = np.frombuffer(audioop.ulaw2lin(bytes(codes), 2), dtype="<i2")
        ref_a = np.frombuffer(audioop.alaw2lin(bytes(codes), 2), dtype="<i2")
        assert (_ulaw_expand(codes) == ref_u.astype(np.float64)).all()
        assert (_alaw_expand(codes) == ref_a.astype(np.float64)).all()

        # end-to-end: a μ-law RIFF container built from a real sine
        t = np.linspace(0, 0.05, 400, endpoint=False)
        lin16 = (0.7 * np.sin(2 * np.pi * 440 * t) * 32767).astype("<i2")
        ulaw = audioop.lin2ulaw(lin16.tobytes(), 2)
        fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(ulaw)) + ulaw
        payload = b"RIFF" + struct.pack("<I", len(body)) + body
        rate, ch, samples = decode_wav(payload)
        assert (rate, ch) == (8000, 1)
        want = np.frombuffer(audioop.ulaw2lin(ulaw, 2), dtype="<i2") / 32768.0
        assert np.allclose(samples[:, 0], want)

    def test_extract_features_uses_real_png_path(self, spark):
        """A PNG payload flows through the mapInPandas feature
        extractor via the REAL decode (identical features to the same
        pixels as PPM), not the fake byte-level fallback."""
        import numpy as np

        img = np.random.default_rng(11).integers(0, 256, size=(8, 6, 3), dtype=np.uint8)
        rows = [
            (1, "image", "image/png", 6, 8, bytearray(multimodal.encode_png(img, filter_type=4))),
            (2, "image", "image/x-portable-pixmap", 6, 8, bytearray(multimodal.encode_ppm(img))),
        ]
        assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        feats = {r.asset_id: r.features for r in multimodal.extract_features(assets).collect()}
        assert np.allclose(feats[1], feats[2])
        assert not np.allclose(feats[1], multimodal.fake_features(bytes(rows[0][5])))

    def test_feature_extraction_plumbing(self, docs):
        assets = multimodal.assets_from_documents(docs)
        feats = multimodal.extract_features(assets.limit(20))
        rows = feats.collect()
        assert rows
        dims = {len(r.features) for r in rows}
        assert dims == {multimodal.FEATURE_DIM}

    def test_fake_features_deterministic(self):
        import numpy as np

        a = multimodal.fake_features(b"payload")
        b = multimodal.fake_features(b"payload")
        assert np.allclose(a, b)


@pytest.mark.slow
class TestIvf:
    def test_ivf_scores_exact_and_recall(self, emb):
        probe = emb.filter("vec_id < 5")
        brute = {
            (r.q_id, r.n_id): r.cos
            for r in similarity.brute_force_topk(emb, probe, k=500).collect()
        }
        top5 = {}
        for (q, n), c in brute.items():
            top5.setdefault(q, []).append((c, n))
        exact_sets = {
            q: {n for _, n in sorted(v, reverse=True)[:5]} for q, v in top5.items()
        }
        ivf = similarity.ivf_topk(emb, probe, dim=EMB_DIM, k=5).collect()
        assert ivf
        for r in ivf:
            # every reported neighbor carries the exact cosine
            assert brute[(r.q_id, r.n_id)] == r.cos
        got_sets: dict = {}
        for r in ivf:
            got_sets.setdefault(r.q_id, set()).add(r.n_id)
        recall = sum(
            len(got_sets.get(q, set()) & exact_sets[q]) for q in exact_sets
        ) / sum(len(s) for s in exact_sets.values())
        assert recall >= 0.5, f"IVF recall@5 = {recall:.2f}"


@pytest.mark.slow
class TestNeardupBanded:
    """embedding_neardup_pairs is banded sign-LSH + exact verify (the
    registered, scale-safe form); ground truth is the quadratic
    embedding_neardup_pairs_exact. The synthetic corpus has no pairs
    above cos 0.52, so recall is measured on constructed near-dups."""

    @pytest.fixture(scope="class")
    def cluster_emb(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        base = rng.normal(size=(20, EMB_DIM)).astype(np.float32)
        rows = []
        vid = 0
        for i in range(len(base)):
            rows.append((vid, [float(x) for x in base[i]])); vid += 1
            # two tight perturbations → true near-dups (cos > 0.99)
            for _ in range(2):
                pert = base[i] + rng.normal(scale=0.02, size=EMB_DIM).astype(np.float32)
                rows.append((vid, [float(x) for x in pert])); vid += 1
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_banded_subset_of_exact_with_same_cos(self, cluster_emb):
        exact = {
            (r.id_a, r.id_b): r.cos
            for r in similarity.embedding_neardup_pairs_exact(cluster_emb, 0.9).collect()
        }
        banded = similarity.embedding_neardup_pairs(cluster_emb, 0.9).collect()
        assert exact, "constructed corpus must contain true near-dups"
        for r in banded:
            assert (r.id_a, r.id_b) in exact  # verify step → no false positives
            assert exact[(r.id_a, r.id_b)] == r.cos  # identical exact cosine
        recall = len(banded) / len(exact)
        assert recall >= 0.8, f"banded neardup recall {recall:.2f}"

    def test_registered_corpus_has_no_900_pairs(self, emb):
        # documents the 0-row result at the contract threshold on the
        # synthetic corpus (max pair cosine ≈ 0.51)
        assert similarity.embedding_neardup_pairs(emb, 0.9).count() == 0


class TestMultimodalRealDecode:
    """PPM/BMP are codec-free — decode/resize/features are REAL for
    them; codec-bearing formats stay behind the documented stub."""

    def _img(self):
        import numpy as np

        rng = np.random.RandomState(3)
        return rng.randint(0, 256, size=(12, 8, 3), dtype=np.uint8)

    def test_ppm_roundtrip(self):
        import numpy as np

        img = self._img()
        back = multimodal.decode_image(multimodal.encode_ppm(img))
        assert np.array_equal(img, back)

    def test_bmp_decode(self):
        import numpy as np
        import struct

        img = self._img()
        h, w = img.shape[:2]
        stride = (w * 3 + 3) & ~3
        body = bytearray()
        for row in img[::-1]:  # bottom-up
            bgr = row[:, ::-1].tobytes()
            body += bgr + b"\x00" * (stride - len(bgr))
        header = (
            b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
        )
        back = multimodal.decode_image(bytes(header) + bytes(body))
        assert np.array_equal(img, back)

    def test_ppm_16bit_and_odd_maxval(self):
        import numpy as np

        rng = np.random.default_rng(14)
        s16 = rng.integers(0, 65536, size=(5, 7, 3), dtype=np.uint16)
        payload = b"P6\n7 5\n65535\n" + s16.astype(">u2").tobytes()
        got = multimodal.decode_image(payload)
        want = (s16.astype(np.float64) * (255.0 / 65535) + 0.5).astype(np.uint8)
        assert (got == want).all()
        # 1000-maxval two-byte samples scale by 255/1000
        s = rng.integers(0, 1001, size=(3, 4, 3), dtype=np.uint16)
        got = multimodal.decode_image(b"P6\n4 3\n1000\n" + s.astype(">u2").tobytes())
        assert (got == (s * (255.0 / 1000) + 0.5).astype(np.uint8)).all()
        # odd single-byte maxval scales to full range
        s8 = rng.integers(0, 16, size=(3, 4, 3), dtype=np.uint8)
        got = multimodal.decode_image(b"P6\n4 3\n15\n" + s8.tobytes())
        assert (got == s8 * 17).all()

    @staticmethod
    def _build_bmp(img, bpp, top_down=False, pal=None):
        """Hand-assemble a BI_RGB BMP at 8/24/32 bpp."""
        import struct

        import numpy as np

        h, w = img.shape[:2]
        nb = bpp // 8
        stride = (w * nb + 3) & ~3
        rows = img if top_down else img[::-1]
        body = bytearray()
        for row in rows:
            if bpp == 8:
                line = row.tobytes()  # palette indices
            elif bpp == 24:
                line = row[:, ::-1].tobytes()  # RGB → BGR
            else:  # 32: BGRA with a marker alpha byte
                bgra = np.concatenate(
                    [row[:, ::-1], np.full((w, 1), 0xAB, np.uint8)], axis=1
                )
                line = bgra.tobytes()
            body += line + b"\x00" * (stride - len(line))
        paldata = b""
        ncol = 0
        if pal is not None:
            ncol = len(pal)
            quads = np.concatenate(
                [pal[:, ::-1], np.zeros((ncol, 1), np.uint8)], axis=1
            )
            paldata = quads.tobytes()
        off = 54 + len(paldata)
        hdr = (
            b"BM"
            + struct.pack("<IHHI", off + len(body), 0, 0, off)
            + struct.pack(
                "<IiiHHIIiiII",
                40, w, (-h if top_down else h), 1, bpp, 0,
                len(body), 0, 0, ncol, 0,
            )
        )
        return bytes(hdr) + paldata + bytes(body)

    def test_bmp_32bit_palette_and_topdown(self, spark, tmp_path):
        import numpy as np

        rng = np.random.default_rng(15)
        img = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
        # 32-bit BGRA, bottom-up and top-down
        for td in (False, True):
            got = multimodal.decode_image(self._build_bmp(img, 32, top_down=td))
            assert (got == img).all(), td
        # 8-bit palette
        pal = rng.integers(0, 256, size=(17, 3), dtype=np.uint8)
        idx = rng.integers(0, 17, size=(6, 5), dtype=np.uint8)
        got = multimodal.decode_image(self._build_bmp(idx, 8, pal=pal))
        assert (got == pal[idx]).all()
        # conformance: the JVM ImageIO decodes the same hand-built
        # palette BMP to the same pixels
        path = str(tmp_path / "pal.bmp")
        open(path, "wb").write(self._build_bmp(idx, 8, pal=pal))
        row = spark.read.format("image").load(path).collect()[0]["image"]
        ref = np.frombuffer(bytes(row["data"]), dtype=np.uint8).reshape(
            6, 5, row["nChannels"]
        )[..., :3][..., ::-1]
        assert (ref == pal[idx]).all()

    @staticmethod
    def _build_bmp_bitfields(img, masks):
        """32-bit BI_BITFIELDS BMP: 40-byte info header + 3 mask DWORDs.
        ``masks`` = (R, G, B) bit masks; pixels packed accordingly."""
        import struct

        import numpy as np

        h, w = img.shape[:2]
        shifts = [max(0, m.bit_length() - 8) for m in masks]
        px = np.zeros((h, w), np.uint32)
        for c, sh in enumerate(shifts):
            px |= img[..., c].astype(np.uint32) << sh
        body = px[::-1].astype("<u4").tobytes()  # bottom-up, stride = 4w
        off = 54 + 12
        hdr = (
            b"BM"
            + struct.pack("<IHHI", off + len(body), 0, 0, off)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 32, 3,
                          len(body), 0, 0, 0, 0)
            + struct.pack("<III", *masks)
        )
        return bytes(hdr) + body

    def test_bmp_bitfields_masks(self):
        """BI_BITFIELDS channel masks are honored (ADVICE r9): RGBA-order
        masks decode un-swapped; default BGRA masks match BI_RGB; a
        non-byte-aligned (565-style) mask set raises instead of lying."""
        import numpy as np

        rng = np.random.default_rng(16)
        img = rng.integers(0, 256, size=(4, 7, 3), dtype=np.uint8)
        # default BGRA layout expressed as explicit masks
        got = multimodal.decode_image(
            self._build_bmp_bitfields(img, (0x00FF0000, 0x0000FF00, 0x000000FF))
        )
        assert (got == img).all()
        # RGBA byte order — pre-fix this decoded with R/B swapped
        got = multimodal.decode_image(
            self._build_bmp_bitfields(img, (0x000000FF, 0x0000FF00, 0x00FF0000))
        )
        assert (got == img).all()
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(
                self._build_bmp_bitfields(img, (0xF800, 0x07E0, 0x001F))
            )

    def test_resize_real_pixels(self, spark):
        import numpy as np

        img = self._img()
        df = spark.createDataFrame(
            [(1, "image", "image/x-portable-pixmap", 8, 12, bytearray(multimodal.encode_ppm(img)))],
            multimodal.ASSET_SCHEMA,
        )
        out = multimodal.resize_stub(df, 4, 6).collect()[0]
        resized = multimodal.decode_image(bytes(out.payload))
        assert resized.shape == (6, 4, 3)
        assert np.array_equal(resized, multimodal.resize_image(img, 4, 6))

    def test_features_use_pixels_when_decodable(self):
        import numpy as np

        img = self._img()
        real = multimodal.image_features(img)
        fake = multimodal.fake_features(multimodal.encode_ppm(img))
        assert len(real) == multimodal.FEATURE_DIM
        assert not np.allclose(real, fake)
        # channel means land in [0,1]
        assert (0 <= real[:6]).all() and (real[:6] <= 1).all()


class TestAsofJoin:
    """asof_join (operators/temporal.py) vs hand-computed point-in-time
    semantics; the registered pipe_asof is hash-checked against
    DuckDB's native ASOF JOIN in test_correctness."""

    def test_semantics(self, spark):
        import datetime

        T = lambda m: datetime.datetime(2024, 1, 1, 0, m)
        left = spark.createDataFrame(
            [(1, 1, T(5)), (2, 1, T(10)), (3, 1, T(2)), (4, 2, T(7))],
            "event_id long, user_id long, ts timestamp",
        )
        right = spark.createDataFrame(
            [(1, T(4), 10.0), (1, T(10), 20.0), (2, T(9), 99.0)],
            "user_id long, ts timestamp, purchase_value double",
        )
        from impala_cut_spark.operators.temporal import asof_join

        got = {
            r.event_id: r.asof_purchase_value
            for r in asof_join(left, right, value_cols=["purchase_value"]).collect()
        }
        assert got[1] == 10.0  # latest preceding (T4 < T5)
        assert got[2] == 20.0  # simultaneous right included (inclusive as-of)
        assert got[3] is None  # nothing precedes T2
        assert got[4] is None  # user 2's purchase is later (T9 > T7)

    def test_single_shuffle_plan(self, spark):
        import datetime

        T = lambda m: datetime.datetime(2024, 1, 1, 0, m)
        left = spark.createDataFrame([(1, 1, T(5))], "event_id long, user_id long, ts timestamp")
        right = spark.createDataFrame([(1, T(4), 1.0)], "user_id long, ts timestamp, v double")
        from impala_cut_spark.operators.temporal import asof_join

        df = asof_join(left, right, value_cols=["v"])
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        # one hash shuffle on the key (the window), never a join node
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan


class TestIvfIndex:
    """Materialized IVF index: the at-scale form — inverted lists as a
    cid-partitioned parquet table, queries scan only probed lists."""

    def test_index_prunes_partitions_and_matches_live_ivf(self, spark, emb, tmp_path):
        path = str(tmp_path / "ivf_index")
        cents = similarity.build_ivf_index(emb, path, dim=EMB_DIM, n_centroids=8)
        probe = emb.filter("vec_id < 5")

        df = similarity.ivf_topk_from_index(spark, path, cents, probe, k=5, n_probe=2)
        rows = df.collect()
        assert rows

        # partition pruning visible in the executed scan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "cid" in plan.split("PartitionFilters")[1][:120]

        # same results as the non-materialized operator with the same
        # quantizer geometry (both verify with exact cosine)
        live = {
            (r.q_id, r.n_id): r.cos
            for r in similarity.ivf_topk(
                emb, probe, dim=EMB_DIM, k=5, n_centroids=8, n_probe=2
            ).collect()
        }
        for r in rows:
            assert live[(r.q_id, r.n_id)] == r.cos


import numpy as np


class TestAudioWav:
    """Real RIFF/WAVE PCM decode beside the PPM/BMP image path —
    codec-free audio, same stub boundary policy for compressed
    containers."""

    def test_wav_roundtrip_16bit(self):
        t = np.linspace(0, 1, 16000, endpoint=False)
        sig = 0.5 * np.sin(2 * np.pi * 440 * t)
        payload = multimodal.encode_wav(sig, rate=16000)
        rate, ch, samples = multimodal.decode_wav(payload)
        assert (rate, ch) == (16000, 1)
        assert samples.shape == (16000, 1)
        assert np.max(np.abs(samples[:, 0] - sig)) < 1e-3  # 16-bit quantization

    def test_wav_truncated_chunk_rejected(self):
        """A RIFF size field pointing past the payload must fail loudly
        at the container layer, not silently shorten the data chunk
        (round-11 hardening, same policy as the vp8l walker)."""
        sig = np.zeros(1000)
        payload = multimodal.encode_wav(sig, rate=8000)
        with pytest.raises(ValueError, match="truncated chunk"):
            multimodal.decode_wav(payload[:-5])

    def test_wav_stereo_and_features(self):
        t = np.linspace(0, 0.5, 4000, endpoint=False)
        stereo = np.stack([np.sin(2 * np.pi * 220 * t), np.zeros_like(t)], axis=1)
        payload = multimodal.encode_wav(stereo, rate=8000)
        rate, ch, samples = multimodal.decode_wav(payload)
        assert (rate, ch) == (8000, 2)
        f = multimodal.audio_features(rate, ch, samples)
        assert len(f) == multimodal.FEATURE_DIM
        assert abs(f[0] - 0.5) < 1e-9  # duration
        # mono mix halves the unit sine: amplitude 0.5 → rms 0.5/sqrt(2)
        assert abs(f[1] - 0.5 / np.sqrt(2)) < 1e-2
        assert 0.0 < f[3] < 1.0  # zero-crossing rate

    def test_wav_wide_pcm_and_float_formats(self):
        """24/32-bit PCM, IEEE float32/64, and the EXTENSIBLE wrapper
        decode to the same normalized signal."""
        import struct

        rng = np.random.default_rng(16)
        sig = np.clip(rng.normal(scale=0.3, size=256), -1, 1)

        def wav(tag, bits, data, extensible=False):
            if extensible:
                sub = struct.pack("<H", tag) + b"\x00\x00" + bytes(12)
                fmt = struct.pack(
                    "<HHIIHHHHI", 0xFFFE, 1, 8000, 0, 0, bits, 22, bits, 3
                ) + sub
            else:
                fmt = struct.pack("<HHIIHH", tag, 1, 8000, 0, 0, bits)
            c = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            c += b"data" + struct.pack("<I", len(data)) + data
            return b"RIFF" + struct.pack("<I", len(c)) + c

        # 24-bit packed int
        v24 = (sig * 8388607).astype(np.int64)
        d24 = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in v24)
        _, _, s24 = multimodal.decode_wav(wav(1, 24, d24))
        assert np.max(np.abs(s24[:, 0] - v24 / 8388608.0)) < 1e-12
        # 32-bit int
        v32 = (sig * 2147483000).astype("<i4")
        _, _, s32 = multimodal.decode_wav(wav(1, 32, v32.tobytes()))
        assert np.max(np.abs(s32[:, 0] - v32 / 2147483648.0)) < 1e-12
        # float32 / float64
        _, _, f32 = multimodal.decode_wav(wav(3, 32, sig.astype("<f4").tobytes()))
        assert np.max(np.abs(f32[:, 0] - sig)) < 1e-6
        _, _, f64 = multimodal.decode_wav(wav(3, 64, sig.astype("<f8").tobytes()))
        assert (f64[:, 0] == sig).all()
        # EXTENSIBLE wrapper around 24-bit PCM
        _, _, se = multimodal.decode_wav(wav(1, 24, d24, extensible=True))
        assert (se == s24).all()

    def test_compressed_container_is_stubbed(self):
        with pytest.raises(NotImplementedError):
            multimodal.decode_wav(b"ID3\x04mp3-ish payload")

    def test_extract_features_uses_real_wav_path(self, spark):
        t = np.linspace(0, 0.25, 4000, endpoint=False)
        wav = multimodal.encode_wav(0.9 * np.sin(2 * np.pi * 100 * t), rate=16000)
        assets = spark.createDataFrame(
            [(1, "audio", "audio/wav", 0, 0, bytearray(wav))],
            "asset_id long, modality string, mime string, width int, height int, payload binary",
        )
        row = multimodal.extract_features(assets).collect()[0]
        # feature[0] is the real decoded duration, not a byte histogram
        assert abs(row.features[0] - 0.25) < 1e-9

    def test_corrupt_wav_falls_back_not_crashes(self, spark):
        """channels=0 fmt chunk must raise ValueError (caught by the
        extractor's fallback), not ZeroDivisionError the Spark job."""
        import struct

        fmt = struct.pack("<HHIIHH", 1, 0, 16000, 0, 0, 16)
        bad = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
               + b"fmt " + struct.pack("<I", len(fmt)) + fmt
               + b"data" + struct.pack("<I", 4) + b"\x00\x00\x00\x00")
        with pytest.raises(ValueError, match="channel"):
            multimodal.decode_wav(bad)
        assets = spark.createDataFrame(
            [(1, "audio", "audio/wav", 0, 0, bytearray(bad))],
            "asset_id long, modality string, mime string, width int, height int, payload binary",
        )
        row = multimodal.extract_features(assets).collect()[0]
        assert abs(sum(row.features) - 1.0) < 1e-9  # byte-histogram fallback

    def test_single_sample_wav_has_no_nan_features(self):
        payload = multimodal.encode_wav(np.array([0.5]), rate=8000)
        rate, ch, samples = multimodal.decode_wav(payload)
        f = multimodal.audio_features(rate, ch, samples)
        assert not np.isnan(f).any()
        assert f[3] == 0.0

    def test_wav_roundtrip_property(self):
        """Randomized round-trip: any float signal in [-1,1], any
        rate/channel combo survives encode→decode within 16-bit
        quantization error."""
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from hypothesis.extra.numpy import arrays

        @settings(max_examples=50, deadline=None)
        @given(
            sig=arrays(
                float,
                st.tuples(st.integers(1, 200), st.integers(1, 4)),
                elements=st.floats(-1.0, 1.0, allow_nan=False),
            ),
            rate=st.sampled_from([8000, 16000, 44100]),
        )
        def check(sig, rate):
            payload = multimodal.encode_wav(sig, rate=rate)
            r, ch, out = multimodal.decode_wav(payload)
            assert (r, ch) == (rate, sig.shape[1])
            assert out.shape == sig.shape
            assert np.max(np.abs(out - sig)) < 2e-4

        check()

    def test_feature_extractor_never_raises_on_garbage(self):
        """The mapInPandas fallback chain must absorb ANY payload —
        random bytes, truncated headers, lying magic numbers — and
        yield a finite feature vector (a raised exception here kills
        the whole Spark job; see the channels=0 regression)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        magics = [b"", b"P6", b"BM", b"RIFF", b"RIFF1234WAVE", b"P6\n9999 9999\n255\n"]

        @settings(max_examples=150, deadline=None)
        @given(prefix=st.sampled_from(magics), body=st.binary(max_size=200))
        def check(prefix, body):
            import struct

            p = prefix + body
            try:
                f = multimodal.image_features(multimodal.decode_image(p))
            except (NotImplementedError, ValueError, IndexError, struct.error):
                try:
                    f = multimodal.audio_features(*multimodal.decode_wav(p))
                except (NotImplementedError, ValueError, IndexError, struct.error):
                    f = multimodal.fake_features(p)
            assert len(f) == multimodal.FEATURE_DIM
            assert np.all(np.isfinite(f))

        check()


class TestUrlOps:
    def test_canonicalize_url_collapses_variants(self, spark):
        from pyspark.sql import functions as F

        from impala_cut_spark.operators.text import canonicalize_url

        cases = [
            ("HTTP://WWW.Example.COM:80/A/B/?q=1#frag", "http://www.example.com/A/B"),
            ("https://example.com", "https://example.com/"),
            ("https://example.com/", "https://example.com/"),
            ("https://example.com:443/x/", "https://example.com/x"),
            ("http://a.b/path?x=2", "http://a.b/path"),
            # cross-scheme ports are REAL origins, not cosmetic
            # variants — never stripped (ADVICE r3 #2)
            ("http://example.com:443/x", "http://example.com:443/x"),
            ("https://example.com:80/x", "https://example.com:80/x"),
            ("http://example.com:8080/x", "http://example.com:8080/x"),
        ]
        df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
        got = [r[0] for r in df.select(canonicalize_url(F.col("url"))).collect()]
        assert got == [w for _, w in cases]

    def test_url_parts_extraction(self, spark):
        from pyspark.sql import functions as F

        from impala_cut_spark.operators.text import url_parts

        df = spark.createDataFrame(
            [("https://www.sub.example.com/a/b?x=1",)], "url string"
        )
        p = url_parts(F.col("url"))
        row = df.select(
            p["host"].alias("h"), p["domain"].alias("d"),
            p["path"].alias("p"), p["query"].alias("q"),
        ).collect()[0]
        assert (row.h, row.d, row.p, row.q) == (
            "www.sub.example.com", "example.com", "/a/b", "x=1"
        )

    def test_canonicalize_url_is_idempotent(self, spark):
        """canonical(canonical(u)) == canonical(u) for constructed URL
        variants — the fixed-point property a dedup key needs."""
        from pyspark.sql import functions as F

        from impala_cut_spark.operators.text import canonicalize_url

        import itertools

        schemes = ["http", "HTTPS"]
        hosts = ["Example.COM", "a.b.c", "X.org:443"]
        paths = ["", "/", "/p", "/p/", "/P/q/"]
        tails = ["", "?x=1", "#f", "?x=1#f"]
        urls = [
            f"{s}://{h}{p}{t}"
            for s, h, p, t in itertools.product(schemes, hosts, paths, tails)
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        once = df.select(canonicalize_url(F.col("url")).alias("c1"))
        twice = once.select(
            F.col("c1"), canonicalize_url(F.col("c1")).alias("c2")
        ).collect()
        for r in twice:
            assert r.c1 == r.c2, (r.c1, r.c2)


@pytest.mark.slow
class TestSemDeDup:
    def test_semdedup_matches_brute_force_contract(self, spark, sf_dir):
        """keep=0 ⇔ some lower-id same-cluster vector has
        round(cos,6) ≥ τ — verified against a driver-side brute-force
        replay of the assignment + pairwise cosine at sf0.001."""
        import numpy as np

        from impala_cut_spark.operators import similarity

        from pyspark.sql import functions as F

        base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        # inject exact copies at shifted ids so τ=0.9 has guaranteed
        # dups even on the tiny corpus (copies land in the same cell
        # and cosine 1.0 with their originals)
        copies = base.filter(F.col("vec_id") % 7 == 3).withColumn(
            "vec_id", F.col("vec_id") + 100000
        )
        emb = base.unionByName(copies)
        out = {r.vec_id: r for r in similarity.semdedup(emb, threshold=0.9).collect()}

        rows = sorted(emb.collect(), key=lambda r: r.vec_id)
        ids = [r.vec_id for r in rows]
        M = np.array([r.embedding for r in rows], dtype=np.float64)
        cents = M[[ids.index(i) for i in similarity.IVF_FIXED_CENTROID_IDS]]
        # same rounded assignment arithmetic as the operator
        d = np.round(
            (cents * cents).sum(axis=1)[None, :] - 2.0 * (M @ cents.T), 6
        )
        cid = d.argmin(axis=1) + 1  # ties -> lowest cid, argmin is first-min
        nm = np.sqrt((M * M).sum(axis=1))
        cos = np.round((M @ M.T) / np.outer(nm, nm), 6)

        n_dup = 0
        for j, vj in enumerate(ids):
            similar_lower = [
                i for i in range(j) if cid[i] == cid[j] and cos[i, j] >= 0.9
            ]
            want_keep = 0 if similar_lower else 1
            assert out[vj].keep == want_keep, (vj, similar_lower[:3])
            assert out[vj].cid == cid[j]
            n_dup += 1 - want_keep
        assert n_dup > 0, "synthetic corpus should contain semantic dups"


@pytest.mark.slow
class TestProductQuantization:
    """PQ encode + ADC (similarity.pq_encode_fixed / pq_adc_topk_fixed):
    semantic properties the DuckDB oracle can't express — distortion
    quality and ADC-vs-exact recall."""

    def test_codes_shape_and_range(self, emb):
        out = similarity.pq_encode_fixed(emb).collect()
        assert len(out) == emb.count()
        for r in out:
            codes = [int(c) for c in r.codes.split(",")]
            assert len(codes) == similarity.PQ_SUBSPACES
            assert all(1 <= c <= 16 for c in codes)
            assert r.recon_err >= 0

    def test_codebook_rows_encode_to_themselves(self, emb):
        """A vector that IS codebook row j must encode to code j in
        every subspace with ~zero distortion (the round-6 affine
        argmin can't miss its own subvector)."""
        out = {
            r.vec_id: r
            for r in similarity.pq_encode_fixed(emb)
            .filter(F.col("vec_id").isin(list(similarity.PQ_FIXED_CODE_IDS)))
            .collect()
        }
        for j, vid in enumerate(similarity.PQ_FIXED_CODE_IDS, start=1):
            codes = [int(c) for c in out[vid].codes.split(",")]
            assert codes == [j] * similarity.PQ_SUBSPACES, (vid, codes)
            assert abs(out[vid].recon_err) < 1e-3

    def test_distortion_beats_degenerate_codebook(self, emb):
        """Mean reconstruction error with the 16-entry codebook must
        beat a 1-entry codebook (everything mapped to one centroid) —
        i.e. the per-subspace argmin is actually selective."""
        full = (
            similarity.pq_encode_fixed(emb)
            .agg(F.avg("recon_err"))
            .collect()[0][0]
        )
        one = (
            similarity.pq_encode_fixed(
                emb, code_ids=(similarity.PQ_FIXED_CODE_IDS[0],) * 1
            )
            .agg(F.avg("recon_err"))
            .collect()[0][0]
        )
        assert full < one, (full, one)

    def test_adc_ranking_beats_chance(self, emb):
        """ADC over 8×16 codes must rank true neighbors far better
        than chance.  The synthetic embeddings are near-uniform on the
        sphere (even a 15-iteration per-subspace Lloyd's codebook
        leaves ~54% distortion and recall@5 ≈ 0.08 — measured), so a
        production-style recall floor is unattainable ON THIS DATA by
        ANY 32-bit PQ; what is testable is better-than-chance
        neighborhood preservation.  Chance recall@5-of-499 ≈ 0.01;
        the frozen codebook measures 0.16 at @5 and 0.30 for
        exact-top5 ⊆ adc-top-25.  Exactness of the encode/ADC math is
        separately oracle-checked bit-for-bit (pipe_embed_pq /
        pipe_ann_pq)."""
        probe = emb.filter(F.col("vec_id") < 10)
        exact = {
            (r.q_id, r.n_id)
            for r in similarity.brute_force_topk(emb, probe, k=5).collect()
        }
        adc5 = {
            (r.q_id, r.n_id)
            for r in similarity.pq_adc_topk_fixed(emb, probe, k=5).collect()
        }
        adc25 = {
            (r.q_id, r.n_id)
            for r in similarity.pq_adc_topk_fixed(emb, probe, k=25).collect()
        }
        assert len(adc5 & exact) / len(exact) >= 0.05  # ≥5× chance
        assert len(adc25 & exact) / len(exact) >= 0.15

    def test_adc_is_plan_narrow(self, emb):
        """The corpus side of ADC must carry codes only (no embedding
        column after the code projection) and the query table must
        broadcast — the 100 TB contract."""
        plan = similarity.pq_adc_topk_fixed(emb, emb.limit(3))._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


@pytest.mark.slow
class TestIvfPq:
    """ivfpq_topk_fixed: composition contract with its two parts."""

    def test_adc_values_match_full_adc(self, emb):
        """Every IVF-PQ result pair must carry the IDENTICAL adc value
        the unpruned PQ-ADC path computes for that pair — pruning may
        drop candidates, never change scores."""
        probe = emb.filter(F.col("vec_id") < 5)
        full = {
            (r.q_id, r.n_id): r.adc
            for r in similarity.pq_adc_topk_fixed(emb, probe, k=499).collect()
        }
        got = similarity.ivfpq_topk_fixed(emb, probe, k=5).collect()
        assert len(got) == 5 * probe.count()
        for r in got:
            assert full[(r.q_id, r.n_id)] == r.adc

    def test_neighbors_come_from_probed_cells_only(self, emb):
        """Cell pruning is real: every returned neighbor lives in one
        of its query's n_probe nearest cells (recomputed independently
        with numpy from the same frozen centroids)."""
        import numpy as np

        rows = {r.vec_id: np.array(r.embedding, dtype=np.float64)
                for r in emb.collect()}
        cents = np.vstack(
            [rows[i] for i in sorted(similarity.IVF_FIXED_CENTROID_IDS)]
        )
        cc = np.array([(c * c).sum() for c in cents])

        def dists(v):
            return np.round(cc - 2.0 * (cents @ v), 6)

        probe = emb.filter(F.col("vec_id") < 5)
        got = similarity.ivfpq_topk_fixed(emb, probe, k=5).collect()
        for r in got:
            d_q = dists(rows[r.q_id])
            probed = set(np.argsort(d_q, kind="stable")[: similarity.IVF_FIXED_N_PROBE] + 1)
            cell_n = int(np.argmin(dists(rows[r.n_id]))) + 1
            assert cell_n in probed, (r.q_id, r.n_id, cell_n, probed)


@pytest.mark.slow
class TestTrainedPq:
    def test_trained_distortion_dominates_frozen(self, emb):
        """Lloyd's-trained codebooks must reconstruct better than the
        frozen corpus-row codebook (the point of training)."""
        frozen = (
            similarity.pq_encode_fixed(emb).agg(F.avg("recon_err")).collect()[0][0]
        )
        trained = (
            similarity.pq_encode_trained(emb).agg(F.avg("recon_err")).collect()[0][0]
        )
        assert trained < frozen, (trained, frozen)

    def test_trained_codes_well_formed(self, emb):
        out = similarity.pq_encode_trained(emb).limit(50).collect()
        for r in out:
            codes = [int(c) for c in r.codes.split(",")]
            assert len(codes) == similarity.PQ_SUBSPACES
            assert all(1 <= c <= 16 for c in codes)


class TestBloomDecontaminate:
    def test_equals_exact_and_prefilters(self, docs):
        """decontaminate_bloom must return EXACTLY decontaminate's
        rows (Bloom has no false negatives; exact verify kills false
        positives), while its bitmap prefilter rejects most
        non-benchmark corpus shingles."""
        bench = docs.filter(F.col("source") == "src0")
        train = docs.filter(F.col("source") != "src0")
        exact = {
            tuple(r)
            for r in corpus.decontaminate(train, bench, n=3, min_overlap=5).collect()
        }
        bloom = {
            tuple(r)
            for r in corpus.decontaminate_bloom(
                train, bench, n=3, min_overlap=5
            ).collect()
        }
        assert bloom == exact
        # with a tiny bitmap the prefilter saturates and passes ~all
        # shingles; the default 2^17 bits must stay selective: FP rate
        # measured directly against the exact membership
        from impala_cut_spark.operators.dedup import shingles

        bench_set = {r.shingle for r in shingles(bench, 3).select("shingle").distinct().collect()}
        doc_sh = shingles(train, 3)
        total = doc_sh.count()
        true_hits = doc_sh.filter(F.col("shingle").isin(bench_set)).count() if bench_set else 0
        # re-run just the prefilter by calling the bloom path with
        # min_overlap=1 and comparing n_overlap sums is indirect;
        # instead assert via the public contract: identical output
        # (above) AND the bitmap is far from saturated
        n_bits = 1 << 17
        import math

        k, n = 5, len(bench_set)
        fill = 1 - math.exp(-k * n / n_bits)
        assert fill < 0.7, f"bitmap saturated: fill≈{fill:.2f} (n={n})"
        assert true_hits < total  # sanity: prefiltering has headroom


class TestMp3Metadata:
    """MPEG audio frame-header walker (multimodal.mp3_metadata) — the
    ISO 11172-3 header tables, framing arithmetic and tag skipping."""

    def test_cbr_roundtrip_all_table_entries(self):
        for bidx in range(1, 15):
            for ridx in range(3):
                p = multimodal.build_mp3(7, bitrate_idx=bidx, rate_idx=ridx)
                m = multimodal.mp3_metadata(p)
                assert m["version"] == "MPEG1" and m["layer"] == 3
                assert m["bitrate_kbps"] == multimodal._MP3_BITRATES[(True, 3)][bidx - 1]
                assert m["sample_rate"] == multimodal._MP3_RATES[3][ridx]
                assert m["n_frames"] == 7 and not m["vbr"]
                assert m["duration_sec"] == round(7 * 1152 / m["sample_rate"], 6)

    def test_channels_and_id3v2_skip(self):
        mono = multimodal.mp3_metadata(multimodal.build_mp3(3, mono=True, id3_size=200))
        stereo = multimodal.mp3_metadata(multimodal.build_mp3(3, mono=False))
        assert mono["channels"] == 1 and stereo["channels"] == 2
        assert mono["n_frames"] == 3

    def test_id3v1_trailer_ignored(self):
        p = multimodal.build_mp3(4) + b"TAG" + bytes(125)
        assert multimodal.mp3_metadata(p)["n_frames"] == 4

    def test_vbr_mean_bitrate(self):
        p = multimodal.build_mp3(2, bitrate_idx=5) + multimodal.build_mp3(
            2, bitrate_idx=9
        )
        m = multimodal.mp3_metadata(p)
        assert m["vbr"] and m["n_frames"] == 4
        t3 = multimodal._MP3_BITRATES[(True, 3)]
        assert m["bitrate_kbps"] == round((t3[4] * 2 + t3[8] * 2) / 4, 3)

    def test_mpeg2_layer3_half_rate_frames(self):
        # hand-built MPEG2 Layer III frame: version bits 10, layer 01
        # → 72000*kbps/rate frame length, 576 samples per frame
        import numpy as np  # noqa: F401

        bidx, ridx = 4, 1  # 32 kbps, 24000 Hz
        kbps = multimodal._MP3_BITRATES[(False, 3)][bidx - 1]
        rate = multimodal._MP3_RATES[2][ridx]
        flen = 72000 * kbps // rate
        hdr = bytes([0xFF, 0xF3, (bidx << 4) | (ridx << 2), 0x04])
        p = (hdr + bytes(flen - 4)) * 5
        m = multimodal.mp3_metadata(p)
        assert m["version"] == "MPEG2" and m["n_frames"] == 5
        assert m["sample_rate"] == rate
        assert m["duration_sec"] == round(5 * 576 / rate, 6)

    def test_truncated_final_frame_dropped(self):
        p = multimodal.build_mp3(3)
        m = multimodal.mp3_metadata(p[: len(p) - 10])
        assert m["n_frames"] == 2

    def test_leading_garbage_resync_and_no_frames(self):
        p = b"\x00\xffjunk" + multimodal.build_mp3(2)
        assert multimodal.mp3_metadata(p)["n_frames"] == 2
        with pytest.raises(ValueError):
            multimodal.mp3_metadata(b"not audio at all")
        with pytest.raises(ValueError):
            multimodal.mp3_metadata(b"")


class TestWebpMetadata:
    """WebP RIFF container metadata (multimodal.webp_metadata) — the
    prune-before-decode stage, validated on the stdlib test corpus's
    real python.webp (VP8X + ALPH + VP8 key frame)."""

    REAL = "/root/.pyenv/versions/3.13.0/lib/python3.13/test/test_email/data/python.webp"

    def test_real_world_extended_file(self):
        import os

        if not os.path.exists(self.REAL):
            pytest.skip("stdlib python.webp not present")
        m = multimodal.webp_metadata(open(self.REAL, "rb").read())
        assert m["format"] == "extended"
        assert (m["width"], m["height"]) == (16, 16)
        assert m["has_alpha"] and not m["has_animation"]
        assert m["chunks"] == ["VP8X", "ALPH", "VP8 "]

    @staticmethod
    def _riff(chunks):
        import struct

        body = b"WEBP"
        for fourcc, payload in chunks:
            body += fourcc + struct.pack("<I", len(payload)) + payload
            if len(payload) & 1:
                body += b"\x00"
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def test_vp8l_header_dimensions_and_alpha(self):
        # 14-bit w-1 / h-1 + alpha bit packed little-endian after 0x2F
        w, h = 300, 77
        bits = (w - 1) | ((h - 1) << 14) | (1 << 28)
        p = self._riff([(b"VP8L", bytes([0x2F]) + bits.to_bytes(4, "little"))])
        m = multimodal.webp_metadata(p)
        assert m["format"] == "lossless"
        assert (m["width"], m["height"], m["has_alpha"]) == (300, 77, True)

    def test_plain_lossy_key_frame(self):
        import struct

        tag = (0 | (0 << 1) | (1 << 4) | (100 << 5)).to_bytes(3, "little")
        frame = tag + b"\x9d\x01\x2a" + struct.pack("<HH", 640, 480) + b"\x00" * 4
        m = multimodal.webp_metadata(self._riff([(b"VP8 ", frame)]))
        assert m["format"] == "lossy"
        assert (m["width"], m["height"]) == (640, 480)

    def test_canvas_mismatch_and_corrupt_raise(self):
        import struct

        vp8x = bytes([0x00]) + b"\x00" * 3 + (15).to_bytes(3, "little") + (15).to_bytes(3, "little")
        tag = (1 << 4).to_bytes(3, "little")
        frame = tag + b"\x9d\x01\x2a" + struct.pack("<HH", 99, 99) + b"\x00" * 4
        with pytest.raises(ValueError, match="disagrees"):
            multimodal.webp_metadata(self._riff([(b"VP8X", vp8x), (b"VP8 ", frame)]))
        with pytest.raises(ValueError):
            multimodal.webp_metadata(b"RIFF\x00\x00\x00\x00WAVE")
        with pytest.raises(ValueError):
            multimodal.webp_metadata(self._riff([(b"EXIF", b"x")]))


class TestTiffSubByte:
    """1/2/4-bit TIFF decode (libtiff through imagelibs.decode_tiff) —
    bilevel scans and low-depth palettes, with the JVM ImageIO's
    1-bit TIFF writer as the independent anchor."""

    def test_bilevel_matches_jvm_imageio(self, spark, tmp_path):
        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_tiff

        jvm = spark._jvm
        rng = np.random.default_rng(21)
        h, w = 17, 23  # width NOT a byte multiple: row padding exercised
        bits = rng.integers(0, 2, size=(h, w), dtype=np.uint8)
        bi = jvm.java.awt.image.BufferedImage(w, h, 12)  # TYPE_BYTE_BINARY
        for y in range(h):
            for x in range(w):
                v = 0xFFFFFF if bits[y, x] else 0
                bi.setRGB(x, y, v)
        path = str(tmp_path / "bilevel.tif")
        wr = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
        param = wr.getDefaultWriteParam()
        param.setCompressionMode(2)  # MODE_EXPLICIT
        param.setCompressionType("Deflate")  # default would be CCITT
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(
            jvm.java.io.File(path)
        )
        wr.setOutput(ios)
        wr.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
        ios.close()
        got = decode_tiff(open(path, "rb").read())
        want = np.repeat((bits * 255)[:, :, None], 3, axis=2)
        assert (got == want).all()

    @staticmethod
    def _build(depth, photo, samples, bo="<", plte=None):
        """Hand-assemble a strip TIFF at a sub-byte depth."""
        import struct as st

        import numpy as np

        h, w = samples.shape
        stride = (w * depth + 7) // 8
        rows = bytearray()
        for y in range(h):
            acc = n = 0
            row = bytearray()
            for v in samples[y]:
                acc = (acc << depth) | int(v)
                n += depth
                if n == 8:
                    row.append(acc)
                    acc = n = 0
            if n:
                row.append(acc << (8 - n))
            rows += row.ljust(stride, b"\x00")
        entries = [
            (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, depth),
            (259, 3, 1, 1), (262, 3, 1, photo), (273, 4, 1, None),
            (277, 3, 1, 1), (278, 3, 1, h), (279, 4, 1, len(rows)),
        ]
        extra = bytearray()
        if plte is not None:
            entries.append((320, 3, len(plte) * 3, None))
        entries.sort()
        ifd_size = 2 + len(entries) * 12 + 4
        extra_base = 8 + ifd_size
        out = bytearray(b"II*\x00" + st.pack("<I", 8))
        out += st.pack("<H", len(entries))
        strip_pos = None
        for tag, typ, cnt, val in entries:
            out += st.pack("<HHI", tag, typ, cnt)
            if tag == 273:
                strip_pos = len(out)
                out += st.pack("<I", 0)
            elif tag == 320:
                out += st.pack("<I", extra_base + len(extra))
                cm = np.concatenate([plte[:, 0], plte[:, 1], plte[:, 2]])
                extra += (cm.astype(np.uint32) * 257).astype("<u2").tobytes()
            elif typ == 3:
                out += st.pack("<HH", val, 0)
            else:
                out += st.pack("<I", val)
        out += st.pack("<I", 0)
        out += extra
        st.pack_into("<I", out, strip_pos, len(out))
        out += rows
        return bytes(out)

    def test_gray_depths_scale_to_full_range(self):
        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_tiff

        rng = np.random.default_rng(22)
        for depth, scale in ((1, 255), (2, 85), (4, 17)):
            s = rng.integers(0, 1 << depth, size=(9, 13), dtype=np.uint8)
            got = decode_tiff(self._build(depth, 1, s))
            want = np.repeat((s * scale)[:, :, None], 3, axis=2)
            assert (got == want).all(), depth
            # white-is-zero inverts
            got0 = decode_tiff(self._build(depth, 0, s))
            assert (got0 == 255 - want).all(), depth

    def test_4bit_palette(self):
        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_tiff

        rng = np.random.default_rng(23)
        pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        idx = rng.integers(0, 16, size=(7, 10), dtype=np.uint8)
        got = decode_tiff(self._build(4, 3, idx, plte=pal))
        assert (got == pal[idx]).all()


class TestTiffCcitt:
    """CCITT fax decode (libtiff through imagelibs.decode_tiff):
    Modified Huffman (comp 2), T.4 1D/2D (comp 3), Group 4 / T.6
    (comp 4) — every mode anchored on the JVM ImageIO CCITT writers."""

    @staticmethod
    def _write(jvm, bits01, ctype, path):
        h, w = bits01.shape
        bi = jvm.java.awt.image.BufferedImage(w, h, 12)  # TYPE_BYTE_BINARY
        for y in range(h):
            for x in range(w):
                bi.setRGB(x, y, 0xFFFFFF if bits01[y, x] else 0)
        wr = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
        p = wr.getDefaultWriteParam()
        p.setCompressionMode(2)
        p.setCompressionType(ctype)
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(
            jvm.java.io.File(path)
        )
        wr.setOutput(ios)
        wr.write(None, jvm.javax.imageio.IIOImage(bi, None, None), p)
        ios.close()

    @pytest.mark.parametrize("ctype", ["CCITT RLE", "CCITT T.4", "CCITT T.6"])
    def test_matches_jvm_imageio(self, spark, tmp_path, ctype):
        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_tiff

        jvm = spark._jvm
        rng = np.random.default_rng(31)
        cases = [
            rng.integers(0, 2, size=(21, 37), dtype=np.uint8),  # dense noise
            (rng.random((30, 64)) < 0.05).astype(np.uint8),     # sparse marks
            np.kron((rng.random((8, 16)) < 0.3).astype(np.uint8),
                    np.ones((4, 4), np.uint8)),                 # glyph blocks
            np.zeros((9, 25), np.uint8),                        # all white
            np.ones((9, 25), np.uint8),                         # all black
            (rng.random((4, 2700)) < 0.01).astype(np.uint8),    # >2560 makeups
        ]
        for i, img in enumerate(cases):
            path = str(tmp_path / f"c_{i}.tif")
            self._write(jvm, img, ctype, path)
            got = decode_tiff(open(path, "rb").read())
            want = np.repeat((img * 255)[:, :, None], 3, axis=2)
            assert got.shape == want.shape and (got == want).all(), i

    @staticmethod
    def _wrap(strip, w, h, comp):
        """A one-strip 1-bit WhiteIsZero TIFF around a CCITT strip."""
        import struct as st

        entries = [(256, 4, w), (257, 4, h), (258, 3, 1), (259, 3, comp),
                   (262, 3, 0), (273, 4, 122), (277, 3, 1), (278, 4, h),
                   (279, 4, len(strip))]  # strip at 8 + 2 + 9 * 12 + 4
        out = b"II*\x00" + st.pack("<IH", 8, len(entries))
        for tag, typ, val in entries:
            out += st.pack("<HHI", tag, typ, 1)
            out += st.pack("<HH", val, 0) if typ == 3 else st.pack("<I", val)
        return out + st.pack("<I", 0) + strip

    def test_handwritten_mh_row(self):
        """A hand-assembled Modified-Huffman row decodes to the spec's
        run lengths: white 4 (1011), black 2 (11), white 1000 =
        makeup 960 (011010100) + terminating 40 (00101001)…"""
        import numpy as np

        from impala_cut_spark.operators.imagelibs import decode_tiff

        bits = "1011" + "11" + "011010100" + "00101001" + "11"  # w4 b2 w1000 b2
        padded = bits + "0" * (-len(bits) % 8)
        data = bytes(int(padded[i : i + 8], 2) for i in range(0, len(padded), 8))
        got = decode_tiff(self._wrap(data, 4 + 2 + 1000 + 2, 1, 2))
        want = np.repeat([255, 0, 255, 0], [4, 2, 1000, 2]).astype(np.uint8)
        assert (got == want[None, :, None]).all()

    def test_corrupt_ccitt_raises(self):
        import struct as st

        from impala_cut_spark.operators.imagelibs import decode_tiff

        with pytest.raises(ValueError):  # MH runs exceed the width
            decode_tiff(self._wrap(b"\xff\xff\xff", 10, 1, 2))
        with pytest.raises(ValueError):  # invalid MH code
            decode_tiff(self._wrap(st.pack(">I", 0), 10, 1, 2))
        with pytest.raises(ValueError):  # G4 strip ends after 16 of 40 rows
            decode_tiff(self._wrap(b"\xff\xff", 16, 40, 4))
        with pytest.raises(ValueError):  # invalid G4 mode code
            decode_tiff(self._wrap(b"\x00" * 8, 16, 4, 4))
        with pytest.raises(ValueError):  # no EOL / invalid T.4 code
            decode_tiff(self._wrap(b"\x00" * 8, 16, 2, 3))
        with pytest.raises(ValueError):  # 0x0 image
            decode_tiff(self._wrap(b"\x35\x00", 0, 0, 2))


class TestLicenseDetect:
    def test_phrases_and_precedence(self, spark):
        from impala_cut_spark.operators.text import license_detect

        cases = [
            ("Permission is hereby granted, free of charge, to anyone", "MIT", True),
            ("licensed under the Apache License, Version 2.0", "Apache-2.0", True),
            ("under the GNU General Public License v2", "GPL", False),
            ("the GNU Lesser General Public License applies", "LGPL", False),
            ("the GNU Affero General Public License applies", "AGPL-3.0", False),
            ("Redistribution and use in source and binary forms ok", "BSD", True),
            ("Redistribution and use in source and binary forms; "
             "Neither the name of X nor", "BSD-3-Clause", True),
            ("This is free and unencumbered software released", "Unlicense", True),
            ("subject to the Mozilla Public License 2.0", "MPL-2.0", False),
            ("plain text with no license at all", "none", None),
            (None, "none", None),
        ]
        df = spark.createDataFrame(
            [(i, t) for i, (t, _, _) in enumerate(cases)], "id int, text string")
        from pyspark.sql import functions as F

        cols = license_detect(F.col("text"))
        rows = {r.id: r for r in df.select(
            "id", cols["license"].alias("lic"),
            cols["permissive"].alias("perm")).collect()}
        for i, (_, lic, perm) in enumerate(cases):
            assert rows[i].lic == lic, (i, rows[i].lic)
            assert rows[i].perm == perm, (i, rows[i].perm)

    def test_pure_codegen_plan(self, spark):
        """No Python/Arrow stage: the gate must stay a JVM projection."""
        from pyspark.sql import functions as F

        from impala_cut_spark.operators.text import license_detect

        df = spark.range(10).select(
            F.concat(F.lit("x "), F.col("id").cast("string")).alias("text"))
        cols = license_detect(F.col("text"))
        plan = df.select(cols["license"])._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Arrow" not in plan


class TestAudioContainers:
    def test_flac_streaminfo_roundtrip(self):
        from impala_cut_spark.operators.multimodal import (
            build_flac_header, flac_metadata)

        for rate, ch, bps, secs in [(44100, 2, 16, 95), (8000, 1, 8, 1),
                                    (192000, 8, 24, 3600)]:
            m = flac_metadata(build_flac_header(rate, ch, bps, rate * secs))
            assert (m["sample_rate"], m["channels"],
                    m["bits_per_sample"]) == (rate, ch, bps)
            assert m["duration_sec"] == float(secs)
        import pytest as _pt

        with _pt.raises(ValueError):
            flac_metadata(b"not flac")
        with _pt.raises(ValueError):
            flac_metadata(b"fLaC\x80\x00\x00\x10" + b"\x00" * 16)  # short SI

    def test_ogg_page_walk_and_crc(self):
        from impala_cut_spark.operators.multimodal import (
            build_ogg_header, ogg_metadata)
        import pytest as _pt

        m = ogg_metadata(build_ogg_header("vorbis", 2, 48000, 48000 * 7,
                                          n_data_pages=3))
        assert m == {"codec": "vorbis", "channels": 2, "sample_rate": 48000,
                     "n_pages": 4, "duration_sec": 7.0}
        m = ogg_metadata(build_ogg_header("opus", 1, 48000, 48000 * 3))
        assert m["codec"] == "opus" and m["duration_sec"] == 3.0
        p = bytearray(build_ogg_header("vorbis", 2, 48000, 480))
        p[40] ^= 1
        with _pt.raises(ValueError, match="CRC"):
            ogg_metadata(bytes(p))
        with _pt.raises(ValueError):
            ogg_metadata(b"OggS\x01" + b"\x00" * 40)  # bad version


class TestMarkdownText:
    def test_strip_matrix(self, spark):
        from pyspark.sql import functions as F

        from impala_cut_spark.operators.text import markdown_text

        cases = [
            ("# Heading words", "Heading words"),
            ("## Deep  heading", "Deep heading"),
            ("> quoted line", "quoted line"),
            ("- item one\n* item two\n+ item three\n2. item four",
             "item one item two item three item four"),
            ("**bold** and _ital_ and ~~gone~~", "bold and ital and gone"),
            ("a [link text](http://x.y/z) b", "a link text b"),
            ("pre ![alt words](img.png) post", "pre alt words post"),
            ("keep `inline code` spans", "keep inline code spans"),
            ("before\n```py\nsecret()\n```\nafter", "before after"),
            ("html <b>tags</b> go", "html tags go"),
            (None, ""),
        ]
        df = spark.createDataFrame(
            [(i, s) for i, (s, _) in enumerate(cases)], "id int, md string")
        rows = {r.id: r.txt for r in df.select(
            "id", markdown_text(F.coalesce(F.col("md"), F.lit(""))).alias("txt")
        ).collect()}
        for i, (_, want) in enumerate(cases):
            assert rows[i] == want, (i, rows[i])

    def test_pure_codegen_plan(self, spark):
        from pyspark.sql import functions as F

        from impala_cut_spark.operators.text import markdown_text

        df = spark.range(5).select(F.lit("# h").alias("md"))
        plan = df.select(markdown_text(F.col("md")))._jdf \
            .queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Arrow" not in plan


class TestCrawlSignals:
    def test_html_metadata_fields_and_absence(self, spark):
        from pyspark.sql import functions as F

        from impala_cut_spark.operators.text import html_metadata

        page = ('<html lang="en-GB"><head><title>A   Title</title>'
                '<meta name="description" content="the desc">'
                '<link rel="canonical" href="http://x/y"></head>'
                "<body>hi</body></html>")
        df = spark.createDataFrame([(0, page), (1, "<html><body>bare")],
                                   "id int, h string")
        m = html_metadata(F.col("h"))
        rows = {r.id: r for r in df.select(
            "id", m["title"].alias("t"), m["meta_description"].alias("d"),
            m["canonical_url"].alias("c"), m["lang"].alias("l")).collect()}
        assert rows[0].t == "A Title" and rows[0].d == "the desc"
        assert rows[0].c == "http://x/y" and rows[0].l == "en-GB"
        assert rows[1].t is None and rows[1].c is None and rows[1].l is None

    def test_subtitle_text_srt_and_vtt(self, spark):
        from pyspark.sql import functions as F

        from impala_cut_spark.operators.text import subtitle_text

        srt = ("1\n00:00:01,000 --> 00:00:04,000\nHello <i>there</i>!\n\n"
               "2\n00:00:05,000 --> 00:00:07,500 position:50%\nGeneral Kenobi.")
        vtt = ("WEBVTT\n\nNOTE a comment\nspanning\n\n"
               "00:01.000 --> 00:04.000\n<v Roger>Line one\n\n"
               "00:05.000 --> 00:06.000\nLine two")
        df = spark.createDataFrame([(0, srt), (1, vtt)], "id int, s string")
        rows = {r.id: r.t for r in df.select(
            "id", subtitle_text(F.col("s")).alias("t")).collect()}
        assert rows[0] == "Hello there ! General Kenobi."
        assert rows[1] == "Line one Line two"

    def test_pure_codegen(self, spark):
        from pyspark.sql import functions as F

        from impala_cut_spark.operators.text import html_metadata, subtitle_text

        df = spark.range(3).select(F.lit("<title>x</title>").alias("h"))
        m = html_metadata(F.col("h"))
        plan = df.select(m["title"], subtitle_text(F.col("h")))._jdf \
            .queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Arrow" not in plan
