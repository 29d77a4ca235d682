"""Text analysis operators over the ``documents`` table.

All built from pyspark.sql.functions (whole-stage codegen, no Python
in the hot path): tokenization, counting, quality scoring, language
ID, fingerprinting. Deterministic and DuckDB-expressible → every one
is oracle-checked (plans/pipeline.py).

Scale: each operator is a narrow map over the documents scan — no
shuffle at all until an aggregation consumes the result. At 100 TB
these run at parquet-scan speed.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language stopword lists for the n-gram/stopword heuristic
#: language-ID (public common-word lists; order = tie-break precedence)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "un", "une", "dans"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "就", "不", "人"],
}

QUALITY_STOPWORDS = LANG_STOPWORDS["en"]


def round_half_up(c: Column, scale: int) -> Column:
    """Exact cross-engine ROUND_HALF_UP for NON-NEGATIVE doubles:
    floor(x·10^s + 0.5) / 10^s. Both engines floor the SAME IEEE
    double (multiply and add are correctly rounded, so the pre-floor
    value is bit-identical given identical association) — unlike the
    engines' native round(), whose double implementations disagree on
    exact boundary ties (measured at sf0.1: 3/5000 quality values,
    1/5000 bigram avg_nll, 1/2000 PQ recon_err flipped in the last
    digit). SQL twin: floor(x * 10^s + 0.5) / 10^s. Negative inputs
    would round toward +inf rather than away from zero — every caller
    here is non-negative."""
    m = F.lit(float(10**scale))
    return F.floor(c * m + F.lit(0.5)) / m


def tokens(text: Column) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    return F.filter(F.split(text, " "), lambda x: x != "")


def html_text(html: Column) -> Column:
    """HTML → plain text as a PURE JVM expression chain — no Python in
    the hot path, so the crawl front-end's heaviest map stays inside
    whole-stage codegen: drop <script>/<style> subtrees (they contain
    text no model should train on), strip the remaining tags, unescape
    the five entities html.escape emits (&amp; LAST — decoding it
    first would let escaped entity heads re-decode, the classic
    double-unescape bug), collapse whitespace.  This is the
    tag-soup-tolerant extraction stage of the WARC→HTTP→HTML→text
    pipeline (sources/warc.py feeds it), not an HTML5 tree parser —
    boilerplate removal happens downstream (quality/Gopher ops)."""
    c = F.regexp_replace(html, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#x27;", "'"),
        ("&#39;", "'"),
        ("&amp;", "&"),  # must come last
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def normalized(text: Column) -> Column:
    """Canonical form for exact-dedup fingerprints: lowercase, strip
    non-alphanumerics, collapse whitespace."""
    lowered = F.lower(text)
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(stripped, " +", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (md5 is bit-identical across engines → oracle-checkable; xxhash64
    via functions.fnv_hash for engine-internal hashing)."""
    return F.md5(normalized(text))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


#: BPE-ish pre-tokenization pattern (GPT-2-style word/number/punct
#: splitting, simplified to ASCII classes): letter runs, digit runs,
#: and single punctuation marks each count as one token. The class
#: syntax is identical in Java regex (Spark) and RE2 (DuckDB), so the
#: count is oracle-checkable.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """Token count under BPE-ish regex pre-tokenization — the
    LLM-pipeline budget estimator (whitespace counting undercounts
    punctuation-heavy text)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


def _count_in(toks: Column, words: list[str]) -> Column:
    """Multiset count of tokens that appear in ``words``."""
    return F.size(F.filter(toks, lambda x: reduce(lambda a, b: a | b, [x == w for w in words])))


def quality_features(text: Column) -> dict[str, Column]:
    """Length/stopword/shape features. All integer-derived arithmetic →
    bit-identical across engines."""
    toks = tokens(text)
    n_tok = F.size(toks)
    n_char = F.length(text)
    sum_tok_len = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    n_stop = _count_in(toks, QUALITY_STOPWORDS)
    return {
        "n_char": n_char,
        "n_tok": n_tok,
        "n_distinct_tok": F.size(F.array_distinct(toks)),
        "avg_tok_len": sum_tok_len.cast("double") / n_tok.cast("double"),
        "stop_ratio": n_stop.cast("double") / n_tok.cast("double"),
    }


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: favors documents long enough,
    with natural function-word density and word shape (heuristic in the
    spirit of C4/Gopher text-quality rules)."""
    ft = quality_features(text)
    len_term = F.least(ft["n_tok"].cast("double") / F.lit(100.0), F.lit(1.0))
    stop_term = F.least(ft["stop_ratio"] * F.lit(5.0), F.lit(1.0))
    shape_term = F.least(ft["avg_tok_len"] / F.lit(8.0), F.lit(1.0))
    return round_half_up(
        F.lit(0.4) * len_term + F.lit(0.3) * stop_term + F.lit(0.3) * shape_term, 6
    )


#: PII patterns applied IN ORDER (each sees the previous replacement's
#: output). Class-and-quantifier-only syntax — identical semantics in
#: Java regex (Spark) and RE2 (DuckDB); no lookarounds (RE2 lacks
#: them). Ordering matters: emails first (so usernames with digits are
#: consumed whole), then dotted IPs, then dashed SSNs, then phones.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\+\d{1,2}-\d{3}-\d{4}\b", "<PHONE>"),
]


#: Gopher quality-filter rule constants (Rae et al. 2021, "Scaling
#: Language Models: Methods, Analysis & Insights from Training
#: Gopher", Table A1 — public literature; the reference has no text
#: pipeline, SURVEY §2 extension surface)
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(text: Column) -> dict[str, Column]:
    """Per-document Gopher quality-rule booleans + the conjunctive
    keep flag.  Every comparison is integer-exact (ratios are
    cross-multiplied, never divided), so the rule bits are
    bit-identical cross-engine:

      r_word_count   50 ≤ n_words ≤ 100000
      r_mean_len     3 ≤ mean word length ≤ 10   (3n ≤ Σlen ≤ 10n)
      r_symbol       (# + … occurrences) / words ≤ 0.1  (10s ≤ n)
      r_alpha        ≥80% of words contain an alphabetic char (5a ≥ 4n)
      r_stop         ≥2 distinct stop words present

    Narrow map over the scan — no explode, no shuffle."""
    txt = F.coalesce(text, F.lit(""))
    toks = tokens(txt)
    n = F.size(toks)
    chars = F.aggregate(toks, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    hashes = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    ellipses = (
        F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    n_sym = (hashes + ellipses).cast("bigint")
    n_stop_distinct = sum(
        F.array_contains(toks, w).cast("int") for w in GOPHER_STOPWORDS
    )
    rules = {
        "n_words": n.cast("bigint"),
        "r_word_count": (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS),
        "r_mean_len": (F.lit(3) * n <= chars) & (chars <= F.lit(10) * n),
        "r_symbol": F.lit(10) * n_sym <= n,
        "r_alpha": F.lit(5) * n_alpha >= F.lit(4) * n,
        "r_stop": n_stop_distinct >= 2,
    }
    rules["keep"] = (
        rules["r_word_count"]
        & rules["r_mean_len"]
        & rules["r_symbol"]
        & rules["r_alpha"]
        & rules["r_stop"]
    )
    return rules


def redact_pii(text: Column) -> tuple[Column, dict[str, Column]]:
    """Redact PII-shaped spans, returning (redacted_text, counts).

    A chain of JVM-side regexp_replace calls — scan-speed, no Python.
    ``counts[name]`` is the number of spans the ``name`` pattern
    matched at ITS stage of the chain (i.e. on the text with all
    earlier patterns already replaced), so the counts sum to the exact
    number of replacements performed. Deterministic and replayed
    verbatim by the DuckDB oracle (same patterns, same order, 'g'
    flag)."""
    counts: dict[str, Column] = {}
    out = text
    for name, pat, repl in PII_PATTERNS:
        counts[name] = F.size(F.regexp_extract_all(out, F.lit(pat), F.lit(0)))
        out = F.regexp_replace(out, pat, repl)
    return out, counts


def dedup_tokens_in_doc(text: Column) -> tuple[Column, Column]:
    """Intra-document token dedup: keep the FIRST occurrence of every
    token, preserving order (the within-page repetition-removal step of
    RefinedWeb/CCNet-style cleaning, applied at token granularity for
    this whitespace corpus).

    Spark's ``array_distinct`` preserves first-occurrence order, so
    this is a pure narrow map — no shuffle, scan-speed at 100 TB. The
    DuckDB oracle can NOT use ``list_distinct`` (order-unstable there);
    it replays the semantics explicitly via min(position) per token +
    order-by-position string_agg (plans/pipeline2.py).

    Returns (dedup_text, n_kept)."""
    kept = F.array_distinct(tokens(text))
    return F.array_join(kept, " "), F.size(kept)


def repetition_features(text: Column, n: int = 3) -> dict[str, Column]:
    """Intra-document repetition signals (the Gopher/MassiveText
    repetition filters, public literature): the fraction of n-grams
    that are duplicates of an earlier n-gram, and the duplicate
    fraction of whole tokens.

    dup_ngram_frac = 1 − distinct(ngrams)/total(ngrams); a page whose
    content loops (navigation chrome, generated spam) scores high and
    is dropped by a threshold filter downstream. Pure narrow map —
    n-grams built inline with transform over token indexes (no ML
    stage, no shuffle)."""
    toks = tokens(text)
    n_tok = F.size(toks)
    # n-grams as joined token windows: indexes 0..n_tok-n (guarded —
    # Spark's sequence(0, -1) would DESCEND, not return empty)
    idx = F.when(n_tok >= n, F.sequence(F.lit(0), n_tok - n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    n_gram = F.size(grams)
    n_distinct_gram = F.size(F.array_distinct(grams))
    n_distinct_tok = F.size(F.array_distinct(toks))
    return {
        "n_gram": n_gram,
        "dup_ngram_frac": F.when(
            n_gram > 0,
            F.lit(1.0) - n_distinct_gram.cast("double") / n_gram.cast("double"),
        ).otherwise(F.lit(0.0)),
        "dup_token_frac": F.when(
            n_tok > 0,
            F.lit(1.0) - n_distinct_tok.cast("double") / n_tok.cast("double"),
        ).otherwise(F.lit(0.0)),
    }


def lang_id(text: Column) -> Column:
    """Stopword-vote language ID. Ties broken by fixed language order
    (strictly-greater comparison against running best)."""
    toks = tokens(text)
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang, words in LANG_STOPWORDS.items():
        hits = _count_in(toks, words)
        is_better = hits > best_hits
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return best_lang


def url_parts(url: Column) -> dict[str, Column]:
    """Decompose a URL column with Spark's JVM-side parse_url —
    host / registrable domain suffix / path / query string. The
    crawl-curation primitive behind per-domain quality rollups and
    domain blocklists (public pipeline practice: C4/RefinedWeb filter
    by domain before content filters)."""
    host = F.parse_url(url, F.lit("HOST"))
    return {
        "host": host,
        # registrable-suffix approximation: last two host labels
        # (a public-suffix list lookup slots in here when available)
        "domain": F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1),
        "path": F.parse_url(url, F.lit("PATH")),
        "query": F.parse_url(url, F.lit("QUERY")),
    }


def canonicalize_url(url: Column) -> Column:
    """Canonical URL form for crawl-level dedup keys: lowercase scheme
    and host, strip the fragment and the query string, drop a trailing
    slash, default ports removed. Two fetches of the same page under
    cosmetic URL variants collapse to one key — the standard first
    pass before content-level dedup.

    Pure JVM expression composition (parse_url + string ops) — no
    Python, scan-speed."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    # strip only the SCHEME'S OWN default port (ADVICE r3 #2: a blanket
    # :80|:443 strip collapsed http://host:443 — a genuinely different
    # origin — into http://host)
    auth0 = F.lower(F.parse_url(url, F.lit("AUTHORITY")))
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth0, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth0, r":443$", ""))
        .otherwise(auth0)
    )
    path = F.parse_url(url, F.lit("PATH"))
    path = F.when(path.isNull() | (path == ""), F.lit("/")).otherwise(path)
    trimmed = F.substring(path, 1, F.length(path) - 1)
    path = F.when((F.length(path) > 1) & path.endswith("/"), trimmed).otherwise(path)
    return F.concat(scheme, F.lit("://"), F.coalesce(auth, host), path)


def unigram_nll_scores(docs, text_col: str = "text"):
    """Per-document mean negative log-likelihood under the corpus's
    own unigram LM — the classic cheap quality/outlier signal (the
    perplexity-filter proxy of CCNet-style pipeline descriptions,
    public literature): documents of improbable tokens (boilerplate
    soup, encoding garbage, wrong-language fragments) score high.

    Model: p(w) = count(w) / total over THIS corpus; score =
    mean_w −ln p(w).  In production the frequency table is a
    maintained artifact (computed once per corpus snapshot, like the
    BPE merge table) rather than recomputed per run.

    Cross-engine determinism: each −ln(n/total) term is rounded to
    6dp and cast to DECIMAL before the per-doc SUM (exact, order-
    free), then divided by the token count — the registry AVG rule,
    so shuffle order can't wiggle low bits.

    Scale: one shuffle builds the frequency table, one shuffle joins
    words to it (stop-word keys are skewed — AQE skew-join handles
    it, or broadcast the top-K hot words and shuffle only the tail),
    one shuffle groups per doc.
    """
    from pyspark.sql import functions as F

    words = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("w"))
    freqs = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    total = float(freqs.agg(F.sum("n")).collect()[0][0])  # 1-row collect
    term = F.round(-F.log(F.col("n").cast("double") / F.lit(total)), 6).cast(
        "decimal(18,6)"
    )
    return (
        words.join(freqs, "w")
        .select("doc_id", term.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("nll").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_nll"),
        )
    )


# ---------------------------------------------------------------------------
# hashed-linear quality classifier (fastText-style)
# ---------------------------------------------------------------------------

#: feature-hash buckets (production: 2^20+; small here so the frozen
#: weight vector can ride the plan as a literal in BOTH engines)
QC_BUCKETS = 64
#: frozen integer weights in micro-units (exact arithmetic → oracle-
#: checkable). Deterministic Weyl-sequence-ish formula — a stand-in for
#: trained weights, same plumbing: w[j] ∈ [-500000, 499999].
QC_WEIGHTS = [((j * 2654435761 + 12345) % 1000000) - 500000 for j in range(QC_BUCKETS)]
QC_BIAS = -31415


def quality_classifier_score(
    docs, text_col: str = "text", weights: list[int] | None = None, bias: int = QC_BIAS
):
    """fastText-style hashed bag-of-ngrams linear classifier (public
    architecture: Joulin et al., "Bag of Tricks for Efficient Text
    Classification" — the quality filter used by CCNet/GPT-style data
    pipelines): features are hashed word UNIGRAMS and BIGRAMS
    (bucket = md5-60bit(tok) mod B), score = bias + Σ w[bucket(f)],
    label = score > 0.

    Frozen-literal design (the IVF/PQ trick): the weight vector is a
    plan literal — ``element_at`` on a literal array in Spark, a
    ``CASE``-free list index in DuckDB — and all arithmetic is integer
    micro-units, so the score is bit-exact cross-engine. Swapping in
    trained weights changes the literals, not the plan.

    Scale: tokenize + hash + weight-lookup + per-doc SUM is a narrow
    map over each document (higher-order aggregate — no explode, no
    shuffle beyond the final per-doc projection; the whole operator
    runs at scan speed). At 2^20 buckets the literal array gives way
    to a broadcast-joined weight table — same plan shape with one
    broadcast.
    """
    from pyspark.sql import functions as F

    from impala_cut_spark.operators.dedup import MD5_HASH60_SQL

    w = weights if weights is not None else QC_WEIGHTS
    b = len(w)

    # The whole projection is built as SQL text and parsed JVM-side in
    # ONE round-trip per output column (the r12 MinHash F.expr move,
    # guide §1/§4 driver boundary): the Column-built form cost ~1,400
    # py4j round-trips per construction (64 lit+cast for the weight
    # array, ~40 ms per converted HOF lambda) — 0.26 s of driver-side
    # construction for a 0.07 s execution. The SQL is
    # literal-for-literal the same expression tree (BIGINT literals,
    # same md5/conv hash, same CASE gate), so plans and results are
    # unchanged.
    w_sql = "array(" + ",".join(f"{int(x)}L" for x in w) + ")"

    def bw(x: str) -> str:
        h = MD5_HASH60_SQL.format(x=x)
        return f"element_at({w_sql}, cast(({h} % {b} + 1) as int))"

    # NULL text scores as the empty document (n_tok=0, score=bias,
    # keep = bias>0), matching the oracle's coalesce(...,0) semantics —
    # without this, size(NULL)=-1 and a NULL score/keep diverge
    # cross-engine (round-5 advice)
    ts = f"filter(split(coalesce({text_col}, ''), ' '), x -> x != '')"
    uni = f"aggregate({ts}, cast(0 as bigint), (acc, x) -> acc + {bw('x')})"
    # bigrams: zip each token with its successor ("a b" joined by one
    # space, matching the shingle text convention)
    pair = bw(f"concat_ws(' ', element_at({ts}, i), element_at({ts}, i + 1))")
    bi_terms = (
        f"CASE WHEN size({ts}) >= 2 THEN "
        f"aggregate(sequence(1, size({ts}) - 1), cast(0 as bigint), "
        f"(acc, i) -> acc + {pair}) "
        f"ELSE cast(0 as bigint) END"
    )
    score = f"(cast({int(bias)} as bigint) + {uni} + {bi_terms})"
    return docs.select(
        "doc_id",
        F.expr(f"size({ts})").alias("n_tok"),
        F.expr(score).alias("score_micro"),
        F.expr(f"{score} > 0").alias("keep"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (head / middle / tail)
# ---------------------------------------------------------------------------

#: quantization step for nll band-major ranking: avg_nll is rounded to
#: 6dp by unigram_nll_scores, so q = avg_nll·1e6 is an exact integer;
#: bands of 0.5 nll units keep the offset map tiny (≤ ~64 per lang)
PPL_BAND_STEP = 500_000
PPL_MAX_BANDS = 64
PPL_LABELS = {1: "head", 2: "middle", 3: "tail"}


def ppl_buckets(docs, text_col: str = "text", lang_col: str = "lang", n: int = 3):
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020, public literature): rank documents within each language by
    unigram-LM mean NLL (ascending — most-probable text first) and cut
    into ``n`` equal buckets (head / middle / tail for n=3) — the
    standard quality stratification a crawl pipeline filters or
    samples on.

    Exact, no per-language global sort: ranks come from the
    bucket-major two-phase of epoch_shuffle — avg_nll·1e6 is an exact
    integer (6dp rounding upstream), quantized into coarse nll bands;
    per-(lang, band) counts are one tiny aggregation (≤ langs×64
    rows, collected into a literal offset map) and each band ranks
    only its own rows.  Bucket from rank by integer floor division —
    bucket = (rank−1)·n div count + 1 — the same closed form the
    DuckDB oracle uses (native ntile sizing differs between engines'
    remainder placement only in documentation, so neither side uses
    it).

    Output: (doc_id, lang, avg_nll, bucket, label).
    """
    from pyspark.sql import Window

    nll = unigram_nll_scores(docs, text_col).select("doc_id", "avg_nll")
    base = docs.select("doc_id", lang_col).join(nll, "doc_id")
    q = F.round(F.col("avg_nll") * 1e6).cast("bigint")
    banded = base.withColumn(
        "_band",
        F.least((q / PPL_BAND_STEP).cast("int"), F.lit(PPL_MAX_BANDS - 1)),
    )
    counts = banded.groupBy(lang_col, "_band").count().collect()
    per_lang: dict[str, dict[int, int]] = {}
    for r in counts:
        per_lang.setdefault(r[lang_col], {})[r["_band"]] = r["count"]
    offs: list = []
    totals: list = []
    for lang, bands in sorted(per_lang.items()):
        acc = 0
        for b in range(PPL_MAX_BANDS):
            offs.extend([F.lit(f"{lang}\x1f{b}"), F.lit(acc)])
            acc += bands.get(b, 0)
        totals.extend([F.lit(lang), F.lit(acc)])
    off = F.create_map(*offs)[
        F.concat_ws("\x1f", F.col(lang_col), F.col("_band").cast("string"))
    ]
    tot = F.create_map(*totals)[F.col(lang_col)]
    w = Window.partitionBy(lang_col, "_band").orderBy("avg_nll", "doc_id")
    rank = off + F.row_number().over(w)
    bucket = F.expr(f"(( _rank - 1) * {int(n)}) div _tot") + F.lit(1)
    out = (
        banded.withColumn("_rank", rank.cast("bigint"))
        .withColumn("_tot", tot.cast("bigint"))
        .withColumn("bucket", bucket.cast("int"))
    )
    label = out["bucket"]
    lab: Column | None = None
    for b, name in PPL_LABELS.items():
        lab = F.when(label == b, name) if lab is None else lab.when(label == b, name)
    lab = lab.otherwise(F.concat(F.lit("b"), label.cast("string")))
    return out.select(
        "doc_id", lang_col, "avg_nll", "bucket", lab.alias("label")
    )


# ---------------------------------------------------------------------------
# bigram LM with Stupid Backoff (held-in train split, scored corpus-wide)
# ---------------------------------------------------------------------------

#: Stupid Backoff discount (Brants et al. 2007, public literature)
SB_ALPHA = 0.4
#: train split: documents with doc_id % SB_TRAIN_MOD != SB_TRAIN_REM
SB_TRAIN_MOD = 4
SB_TRAIN_REM = 0


def bigram_nll_scores(docs, text_col: str = "text"):
    """Per-document mean NLL under a bigram LM with Stupid Backoff
    (Brants et al. 2007, "Large Language Models in Machine
    Translation", public literature) — the next step up from
    unigram_nll_scores: p(w_i|w_{i-1}) = c(w_{i-1} w_i)/c(w_{i-1})
    when the bigram was seen in training, else
    α·(c(w_i)+1)/(T+V) (α = 0.4; add-one-smoothed unigram backoff so
    OOV tokens score finitely).  Counts come from a held-in split
    (doc_id % 4 ≠ 0) and every document is scored, so the backoff
    path is genuinely exercised — in production the count tables are
    a maintained per-snapshot artifact, like the BPE merge table.

    Cross-engine determinism: the registry rules — each per-term
    −ln(p) is rounded to 6dp and cast to DECIMAL before the per-doc
    SUM (order-free), then divided by the term count and re-rounded.
    IEEE double division is exact-rounded in both engines; ln()'s
    possible last-ulp wobble is absorbed by the 6dp rounding (the
    unigram operator's proven convention).

    Scale: two count-building shuffles over the train split (bigram,
    unigram), one tiny 1-row collect (T, V), then the scoring join —
    doc bigrams against the two count tables (AQE picks
    broadcast-vs-shuffle by size; stop-word heads are skewed →
    skew-join), one per-doc aggregation shuffle.  All linear; no
    driver loop touches data.

    Output: (doc_id, in_train, n_bigrams, avg_nll) — avg_nll NULL for
    documents with < 2 tokens.
    """
    from pyspark.sql import functions as F

    from impala_cut_spark.operators._cache import register_persisted

    # the returned frame is lazy, so c1 below cannot be unpersisted
    # here; the shared registry bounds the cache per (session, slot)
    # and stays correct under the concurrent clients the thrift/HS2
    # servers serve (see operators/_cache.py — the r7 module-global
    # form raced)
    base = docs.select(
        "doc_id", tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("tk")
    )
    pairs = (
        base.where(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(tk)), "
                    "i -> struct(element_at(tk, i-1) AS w1, element_at(tk, i) AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    in_train = F.col("doc_id") % SB_TRAIN_MOD != SB_TRAIN_REM
    c2 = pairs.where(in_train).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = (
        base.where(in_train)
        .select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n1"))
        # persisted: consumed three times (the T/V collect below plus
        # BOTH sides of the scoring join) — without it the count table
        # is recomputed per consumer, and whether Catalyst reuses the
        # build exchange for the a/b twins varies with session warmth
        # (observed: an extra shuffle appearing only in long-lived
        # sessions), which also made the plan-pin test flaky
        .persist()
    )
    register_persisted(c1, "bigram_c1")
    tv = c1.agg(F.sum("n1"), F.count(F.lit(1))).collect()[0]  # 1-row collect
    t_plus_v = float(tv[0]) + float(tv[1])
    a = c1.select(F.col("w").alias("w1"), F.col("n1").alias("na"))
    b = c1.select(F.col("w").alias("w2"), F.col("n1").alias("nb"))
    p = F.when(
        F.col("n2").isNotNull(),
        F.col("n2").cast("double") / F.col("na").cast("double"),
    ).otherwise(
        F.lit(SB_ALPHA)
        * (F.coalesce(F.col("nb"), F.lit(0)) + F.lit(1)).cast("double")
        / F.lit(t_plus_v)
    )
    term = F.round(-F.log(p), 6).cast("decimal(18,6)")
    agg = (
        pairs.join(c2, ["w1", "w2"], "left")
        .join(a, "w1", "left")
        .join(b, "w2", "left")
        .select("doc_id", term.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            round_half_up(
                F.sum("nll").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_nll"),
        )
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        in_train.alias("in_train"),
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias("n_bigrams"),
        "avg_nll",
    )


#: canonical distinguishing phrases of the common open-source licenses
#: (the public license texts themselves) — checked in precedence order;
#: a code-dataset ingest routes/filters on this before training
LICENSE_PHRASES: list[tuple[str, str, bool]] = [
    # (license id, lowercase distinguishing phrase, permissive)
    ("Apache-2.0", "licensed under the apache license, version 2.0", True),
    ("MIT", "permission is hereby granted, free of charge", True),
    ("Unlicense", "this is free and unencumbered software", True),
    ("ISC", "permission to use, copy, modify, and/or distribute this software", True),
    ("MPL-2.0", "mozilla public license", False),
    ("LGPL", "gnu lesser general public license", False),
    ("AGPL-3.0", "gnu affero general public license", False),
    ("GPL", "gnu general public license", False),
    ("BSD-3-Clause", "neither the name", True),
    ("BSD", "redistribution and use in source and binary forms", True),
]


def license_detect(text: Column) -> dict[str, Column]:
    """License-family classification from canonical license phrases —
    the route/filter step a code-dataset pipeline runs before training
    (drop copyleft, keep permissive, flag unknown).  A pure
    whole-stage-codegen expression chain (lower + contains + CASE):
    no Python on the data path, trivially linear at 100 TB.  Phrase
    precedence resolves the real containments (BSD-3's 'neither the
    name' outranks the shared BSD redistribution clause; LGPL/AGPL
    outrank GPL's substring)."""
    low = F.lower(F.coalesce(text, F.lit("")))
    lic: Column = F.lit("none")
    perm: Column = F.lit(None).cast("boolean")
    for name, phrase, permissive in reversed(LICENSE_PHRASES):
        hit = low.contains(phrase)
        lic = F.when(hit, F.lit(name)).otherwise(lic)
        perm = F.when(hit, F.lit(permissive)).otherwise(perm)
    return {"license": lic, "permissive": perm}


def markdown_text(md: Column) -> Column:
    """Markdown → plain text as a PURE JVM expression chain (the
    html_text twin for the other format crawls and code repos carry):
    drop fenced code blocks (boilerplate for prose corpora — the
    script/style analogue), unwrap inline code spans, images to their
    alt text (BEFORE links — the syntaxes nest), links to their text,
    strip heading/blockquote/list markers at line starts, strip
    emphasis runs, strip residual inline HTML tags, collapse
    whitespace.  No Python on the data path."""
    c = F.regexp_replace(md, r"(?s)```.*?```", " ")
    c = F.regexp_replace(c, r"`([^`\n]*)`", "$1")
    c = F.regexp_replace(c, r"!\[([^\]]*)\]\([^)]*\)", "$1")
    c = F.regexp_replace(c, r"\[([^\]]*)\]\([^)]*\)", "$1")
    c = F.regexp_replace(c, r"(?m)^\s{0,3}(#{1,6}\s+|>\s?|[-*+]\s+|\d+\.\s+)", "")
    c = F.regexp_replace(c, r"(\*\*|__|\*|_|~~)", "")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_metadata(html: Column) -> dict[str, Column]:
    """The routing signals a crawl reads BEFORE extraction — title,
    meta description, canonical URL, declared language — as pure
    codegen regexp_extracts (empty string → NULL via nullif).  These
    feed dedup (canonical URL), language routing (lang attribute) and
    quality features (title/description presence) without touching
    the body text path."""
    def _nn(c: Column) -> Column:
        return F.nullif(F.trim(c), F.lit(""))

    title = F.regexp_extract(html, r"(?is)<title[^>]*>(.*?)</title>", 1)
    title = F.regexp_replace(title, r"\s+", " ")
    return {
        "title": _nn(title),
        "meta_description": _nn(F.regexp_extract(
            html,
            r"(?is)<meta\s+[^>]*name\s*=\s*[\"']description[\"'][^>]*"
            r"content\s*=\s*[\"']([^\"']*)", 1)),
        "canonical_url": _nn(F.regexp_extract(
            html,
            r"(?is)<link\s+[^>]*rel\s*=\s*[\"']canonical[\"'][^>]*"
            r"href\s*=\s*[\"']([^\"']*)", 1)),
        "lang": _nn(F.regexp_extract(
            html, r"(?is)<html\s+[^>]*lang\s*=\s*[\"']([a-zA-Z-]+)", 1)),
    }


def subtitle_text(sub: Column) -> Column:
    """SRT/WebVTT subtitle payloads → plain dialog text as a pure
    codegen chain (crawls carry subtitle files as high-quality
    conversational text): drop the WEBVTT header/NOTE blocks, cue
    numbers and timestamp lines, cue settings, inline <i>/<b>/voice
    tags, then collapse whitespace."""
    # line-structure-preserving strips first (each keeps a newline so
    # the ^ anchors of later passes still see line starts)
    c = F.regexp_replace(sub, r"(?m)^WEBVTT[^\n]*$", "")
    c = F.regexp_replace(c, r"(?ms)^NOTE\b.*?(?=\n\n|\Z)", "")
    c = F.regexp_replace(c, r"(?m)^\d+\s*$", "")
    c = F.regexp_replace(
        c,
        r"(?m)^[0-9:.,]+\s+-->\s+[0-9:.,]+[^\n]*$", "")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))
