"""Operator-level invariants for the round-7 pipeline operators
(√N-sized SemDeDup, inter-document block-repetition filter, soft
dedup weights, DSIR importance weights). Registry/oracle equivalence
is covered by tests/test_correctness.py; these pin semantics the SQL
oracle can't express — the cell-sizing rule, boilerplate geometry,
weight algebra and target-vs-raw monotonicity.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from impala_cut_spark.operators import corpus, dedup, similarity


# -- semdedup_auto ----------------------------------------------------------


def test_semdedup_cells_rule():
    assert similarity.semdedup_cells(0) == 1
    assert similarity.semdedup_cells(1) == 1
    assert similarity.semdedup_cells(100) == 10
    assert similarity.semdedup_cells(10_001) == 100
    # exact isqrt, not float sqrt (floor(sqrt()) would be tempted to
    # round k²−1 up for huge k)
    assert similarity.semdedup_cells(99) == 9
    # paper-scale cap
    assert similarity.semdedup_cells(10**12) == similarity.SEMDEDUP_MAX_CELLS


def test_semdedup_auto_matches_fixed_semantics(spark, sf_dir):
    """Both variants agree on WHAT a duplicate is — a kept vector has
    no lower-id ≥τ-cosine neighbor in ITS cell — they differ only in
    cell sizing. Pin the auto variant's exactness: every keep=0 row
    must have a lower-id same-cell row, every cell's lowest id kept."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.semdedup_auto(emb, threshold=0.9)
    rows = out.collect()
    n = emb.count()
    assert len(rows) == n
    cells = similarity.semdedup_cells(n)
    assert 1 <= len({r["cid"] for r in rows}) <= cells
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["cid"], []).append(r)
    for members in by_cell.values():
        lowest = min(m["vec_id"] for m in members)
        assert next(m for m in members if m["vec_id"] == lowest)["keep"] == 1


def test_semdedup_auto_no_driver_collect_of_vectors(spark, sf_dir):
    """The assignment is a broadcast JOIN, not literal centroid
    expressions: the executed plan must contain a broadcast exchange
    and must NOT balloon with per-centroid array literals."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = (
        similarity.semdedup_auto(emb)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan


# -- dup_block_share --------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_dup_block_share_geometry(spark):
    """8 tokens = 1 block. Doc 1 and 2 share their first block; doc 3
    is unique; doc 4 repeats doc 1 entirely (2/2 blocks shared)."""
    blk = "a b c d e f g h"
    rows = [
        (1, blk + " x1 x2 x3 x4 x5 x6 x7 x8"),
        (2, blk + " y1 y2 y3 y4 y5 y6 y7 y8"),
        (3, "u1 u2 u3 u4 u5 u6 u7 u8"),
        (4, blk + " x1 x2 x3 x4 x5 x6 x7 x8"),
    ]
    got = {r["doc_id"]: r for r in dedup.dup_block_share(_docs(spark, rows)).collect()}
    assert (got[1]["n_blocks"], got[1]["n_shared"]) == (2, 2)  # both blocks in doc 4
    assert (got[2]["n_blocks"], got[2]["n_shared"]) == (2, 1)
    assert (got[3]["n_blocks"], got[3]["n_shared"]) == (1, 0)
    assert got[3]["keep"] and not got[1]["keep"]
    assert got[2]["dup_share"] == 0.5


def test_dup_block_share_no_window_no_pairs(spark):
    """Plan shape: aggregate + join-back — no Window node (hot-block
    skew must stay AQE-splittable), no pair explosion."""
    rows = [(i, "a b c d e f g h") for i in range(4)]
    plan = (
        dedup.dup_block_share(_docs(spark, rows))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan


# -- soft_dedup_weights -----------------------------------------------------


def test_soft_dedup_weights_algebra(spark):
    docs = _docs(spark, [(1, "x"), (2, "x"), (3, "x"), (4, "y")])
    assignment = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "doc_id bigint, cluster_id bigint"
    )
    got = {r["doc_id"]: r for r in dedup.soft_dedup_weights(docs, assignment).collect()}
    assert got[1]["n_members"] == 3 and got[1]["weight"] == round(1 / 3, 6)
    assert got[4]["n_members"] == 1 and got[4]["weight"] == 1.0
    # expected gradient mass per cluster = 1
    total = sum(r["weight"] for r in got.values())
    assert abs(total - 2.0) < 1e-5


# -- dsir_importance_weights ------------------------------------------------


def test_dsir_target_docs_score_higher(spark):
    """Docs made of target-only bigrams must outscore docs of raw-only
    bigrams (the defining monotonicity), and <2-token docs get NULL."""
    rows = [
        (1, "alpha beta alpha beta alpha beta", "en"),
        (2, "alpha beta alpha beta", "en"),
        (3, "gamma delta gamma delta gamma delta", "de"),
        (4, "solo", "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    got = {r["doc_id"]: r for r in corpus.dsir_importance_weights(docs).collect()}
    assert got[1]["is_target"] and not got[3]["is_target"]
    # 'alpha beta' bigrams are frequent in-target; 'gamma delta' never
    assert got[1]["avg_logratio"] > got[3]["avg_logratio"]
    assert got[1]["keep"] and not got[3]["keep"]
    assert got[4]["n_feat"] == 0 and got[4]["avg_logratio"] is None
    assert not got[4]["keep"]


def test_dsir_bucket_table_is_bounded(spark):
    """The scoring join's build side is the bucket table — ≤ 4096 rows
    by construction, hence broadcast at ANY corpus size."""
    rows = [(i, f"w{i} w{i+1} w{i+2}", "en" if i % 2 else "de") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    plan = (
        corpus.dsir_importance_weights(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan


# --- round-8: crawl front-end (WARC -> HTTP -> HTML -> text) ----------------


def test_html_text_extraction_semantics(spark):
    """html_text (a pure JVM expression chain): script/style subtrees
    dropped, tags stripped, the five html.escape entities decoded with
    &amp; LAST (no double-unescape), whitespace collapsed."""
    import html as html_mod

    from pyspark.sql import functions as F

    from impala_cut_spark.operators.text import html_text

    cases = [
        ("<p>hello <b>world</b></p>", "hello world"),
        ("<script>var x = '<p>not text</p>';</script>after", "after"),
        ("<style>p{}</style>body", "body"),
        ("a &lt;tag&gt; &amp; &quot;q&quot; &#x27;s&#39;", "a <tag> & \"q\" 's'"),
        # &amp;lt; is the ESCAPED literal "&lt;" — must decode to &lt;,
        # not to "<" (the double-unescape bug)
        ("&amp;lt;still-text&amp;gt;", "&lt;still-text&gt;"),
        ("  lots\n\n of\t\twhitespace  ", "lots of whitespace"),
        ("<SCRIPT a='b'>x</SCRIPT >kept", "kept"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "html string")
    got = [r.t for r in df.select(html_text(F.col("html")).alias("t")).collect()]
    assert got == [w for _, w in cases]

    # escape -> extract round-trips arbitrary text exactly
    tricky = "a < b & c > d \"quoted\" 'single' &amp; pre-escaped"
    df2 = spark.createDataFrame([(f"<p>{html_mod.escape(tricky)}</p>",)], "html string")
    assert df2.select(html_text(F.col("html")).alias("t")).collect()[0].t == tricky


def test_http_response_split():
    from impala_cut_spark.sources.warc import parse_http_response

    body = "héllo".encode("utf-8")
    raw = (
        b"HTTP/1.1 301 Moved Permanently\r\n"
        b"Location: https://example.org/\r\n"
        b"Content-Type: text/html; charset=utf-8\r\n\r\n"
    ) + body
    status, headers, got = parse_http_response(raw)
    assert status == 301
    assert headers["location"] == "https://example.org/"
    assert got == body
    with pytest.raises(ValueError):
        parse_http_response(b"not http at all")
    with pytest.raises(ValueError):
        parse_http_response(b"GARBAGE line\r\n\r\nbody")


def test_imageio_kernel_decode_parity(spark):
    """decode_image agrees with the JDK's ImageIO, an independent
    reader reached through the test session's JVM: exact pixels on the
    lossless formats (PNG gray+RGB, BMP, GIF).  ImageIO's raster is
    drawn onto a 24-bit BGR canvas (normalizing palette/gray/alpha) and
    shipped back as one BMP byte array."""
    import numpy as np

    from impala_cut_spark.operators import multimodal as mm

    jvm = spark._jvm

    def imageio_rgb(payload: bytes) -> np.ndarray:
        bi = jvm.javax.imageio.ImageIO.read(
            jvm.java.io.ByteArrayInputStream(bytearray(payload))
        )
        rgb = jvm.java.awt.image.BufferedImage(bi.getWidth(), bi.getHeight(), 5)
        g = rgb.createGraphics()
        g.drawImage(bi, 0, 0, None)
        g.dispose()
        baos = jvm.java.io.ByteArrayOutputStream()
        assert jvm.javax.imageio.ImageIO.write(rgb, "bmp", baos)
        return mm.decode_image(bytes(baos.toByteArray()))

    rng = np.random.default_rng(10)
    img = rng.integers(0, 256, size=(9, 6, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, size=(4, 4), dtype=np.uint8)
    poster = (img // 51 * 51).astype(np.uint8)
    for payload in (
        mm.encode_png(img),
        mm.encode_png(gray),
        mm.encode_bmp(img),
        mm.encode_gif(poster),
    ):
        a = mm.decode_image(payload)
        b = imageio_rgb(payload)
        assert a.shape == b.shape and (a == b).all()