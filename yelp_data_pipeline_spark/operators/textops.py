"""Text analysis operators (north-star extension): language ID, quality
scoring, token counting, fingerprinting.

All Catalyst expressions (split / filter / regexp_count / size) — the
hot path stays inside WholeStageCodegen; at 100 TB these are pure
map-side scans with column pruning down to (id, text).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import fingerprint, normalize_text

# Tiny per-language stopword inventories for the n-gram/stopword
# heuristic language identifier. Order = deterministic tie-break
# priority (first wins ties).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es": ("el", "los", "de", "que", "y", "en", "es", "una"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
    "zh": ("的", "是", "不", "了", "在", "人", "有", "我"),
}

BPE_ISH_PATTERN = r"[a-z]+|[0-9]|[^a-z0-9\s]"


def tokens(col: Column) -> Column:
    return F.split(F.trim(F.lower(col)), r"\s+")


def stopword_score(col: Column, stopwords: tuple[str, ...]) -> Column:
    """#tokens that are in the language's stopword list."""
    return F.size(F.filter(tokens(col), lambda t: t.isin(*stopwords)))


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-overlap language identifier.

    Scores each language's stopword hits per document and picks the
    max, ties broken by LANG_STOPWORDS order. A CASE chain (not
    greatest-of-structs) so the exact same decision procedure is
    expressible in the ANSI-SQL oracle.
    """
    langs = list(LANG_STOPWORDS)
    scores = {
        f"s_{lang}": stopword_score(F.col(text_col), sw)
        for lang, sw in LANG_STOPWORDS.items()
    }
    out = df.withColumns(scores)
    decision = None
    for i, lang in enumerate(langs):
        cond = None
        for other in langs[i + 1 :]:
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        branch = F.lit(lang)
        if decision is None:
            decision = F.when(cond, branch)
        elif cond is not None:
            decision = decision.when(cond, branch)
        else:
            decision = decision.otherwise(branch)
    return out.select(
        F.col(id_col),
        *[F.col(f"s_{lang}").alias(f"s_{lang}") for lang in langs],
        decision.alias("lang_pred"),
    )


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_ish_count(col: Column) -> Column:
    """BPE-ish subword proxy: alpha runs + single digits + punctuation
    marks, counted with one vectorized regexp pass."""
    return F.regexp_count(F.lower(col), F.lit(BPE_ISH_PATTERN))


def quality_score_col(c: Column) -> Column:
    """Composite heuristic quality score in [0, 1] as a standalone
    column expression, so gating operators (dedup survivor selection,
    funnel accounting, token-budget packing) reuse the identical
    rounded arithmetic the oracle reproduces. Intermediate ratios are
    rounded to 6 dp *before* the weighted combine — that is the
    cross-engine determinism contract; keep it in sync with the
    ``quality_scores`` oracle SQL."""
    n_chars = F.length(c)
    n_tok = token_count(c)
    n_punct = F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]"))
    n_stop = stopword_score(c, LANG_STOPWORDS["en"])
    # n_chars = 0 (empty doc) is NULL-guarded: under the driver's ANSI
    # session even a DOUBLE division by zero CRASHES (probed; the
    # norm-outliers round-5 lesson). least() skips NULL identically in
    # both engines, so the punct term degrades to 0 symmetrically.
    # n_tok needs no guard — split('') yields [''], so it is ≥ 1.
    punct_ratio = F.when(
        n_chars > 0,
        F.round(n_punct.cast("double") / n_chars.cast("double"), 6),
    )
    stop_ratio = F.round(n_stop.cast("double") / n_tok.cast("double"), 6)
    return F.round(
        F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.5
        + stop_ratio * 0.3
        + (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0))) * 0.2,
        6,
    )


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic document-quality features + composite score:
    length, token count, punctuation density, stopword ratio, mean
    token length. Deterministic arithmetic → oracle-reproducible.

    Regex-heavy per-row map — guarded by ensure_min_parallelism so a
    single-split fixture scan doesn't serialize it on one core (no-op
    branch on a real cluster; r17, guide §2.5)."""
    from ..session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tok = token_count(c)
    n_punct = F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]"))
    n_stop = stopword_score(c, LANG_STOPWORDS["en"])
    # Same ANSI guard as quality_score_col: empty docs have n_chars=0.
    punct_ratio = F.when(
        n_chars > 0,
        F.round(n_punct.cast("double") / n_chars.cast("double"), 6),
    )
    stop_ratio = F.round(n_stop.cast("double") / n_tok.cast("double"), 6)
    mean_tok_len = F.round(
        (n_chars - (n_tok - 1)).cast("double") / n_tok.cast("double"), 6
    )
    score = quality_score_col(c)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_tok_len.alias("mean_token_len"),
        score.alias("quality_score"),
    )


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace + BPE-ish token counts per document."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count(c).alias("ws_tokens"),
        bpe_ish_count(c).alias("bpe_ish_tokens"),
    )


def doc_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Normalized md5 fingerprint per document (dedup key)."""
    return df.select(
        F.col(id_col),
        fingerprint(F.col(text_col)).alias("fingerprint"),
        F.length(normalize_text(F.col(text_col))).alias("norm_len"),
    )


HASHED_EMB_DIM = 64


def hashed_text_embeddings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = HASHED_EMB_DIM,
    out_id: str = "vec_id",
) -> DataFrame:
    """Deterministic TEXT-DERIVED embedding: the hashing trick
    (Weinberger et al., ICML'09 feature hashing) over the document's
    bag of word 3-grams, projected to ``dim`` signed-count dimensions.

    Per gram g: h = md5_long(g); the low 6 bits index the dimension
    (h % dim), bit 6 supplies a ±1 sign (1 - 2·((h >> 6) & 1)) so
    colliding grams cancel in expectation instead of piling up. The
    embedding is the per-dimension sum of signs — exactly reproducible
    in any engine with md5 (the DuckDB oracle replays it verbatim),
    and cosine over it is a soft lexical-overlap similarity: near-dup
    texts share almost all grams (cosine → 1), a doc and its half
    share half the mass (cosine ≈ √0.5), unrelated texts share almost
    no word 3-grams (cosine ≈ 0). This is the TEXT-GROUNDED fixture
    twin for the semantic-dedup tier: unlike the synthetic
    ``embeddings`` table (generated independently of the text, so
    semantic similarity there is noise), agreement numbers measured
    over THESE vectors answer the SemDeDup question for real.

    Shape: one narrow projection — tokens, grams, and the fold to the
    ``dim``-array all happen inside Catalyst higher-order functions on
    each row; NO shuffle, no UDF. The fold input (one md5 per gram) is
    the single argument of one ``aggregate``, so each gram is hashed
    exactly once; the accumulator rebuild is dim cheap ops per gram.
    Docs with fewer than 3 tokens are excluded (a zero vector has no
    angle; both engines drop the same rows).
    """
    from ..session import ensure_min_parallelism

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # The md5-per-gram fold is CPU-heavy per row and the fixture is one
    # small parquet file → ONE input split; repartition so the fold
    # runs wide (guide §2.5 input skew; no-op branch on a real
    # cluster). Measured 3.1s → 1.5s at sf0.1 for the bare operator.
    df = ensure_min_parallelism(df).select(
        F.col(id_col).alias(out_id), toks.alias("_t")
    ).where(F.size("_t") >= 3)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_t") - 2),
        lambda i: F.array_join(F.slice("_t", i, 3), " "),
    )

    from ..functions.hashing import md5_long

    def gram_entry(g):
        h = md5_long(g)
        return F.struct(
            F.pmod(h, F.lit(dim)).alias("d"),
            (F.lit(1) - F.lit(2) * F.shiftright(h, 6).bitwiseAND(F.lit(1)))
            .cast("double")
            .alias("s"),
        )

    emb = F.aggregate(
        F.transform(grams, gram_entry),
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, p: F.transform(
            acc,
            lambda x, i: x + F.when(p["d"] == i.cast("long"), p["s"]).otherwise(0.0),
        ),
    )
    return df.select(out_id, emb.alias("embedding"))


def hashed_text_embeddings_sql(
    src: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = HASHED_EMB_DIM,
) -> str:
    """DuckDB twin of :func:`hashed_text_embeddings` as a chain of CTE
    definitions ending in ``temb(vec_id, embedding)`` — splice into an
    oracle's WITH clause (oracle-only; the dims grid join is fine at
    oracle scale)."""
    from ..functions.hashing import md5_long_sql

    gram = "array_to_string(t[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')"
    return f"""
temb_toks AS (
  SELECT {id_col} AS vec_id,
         string_split_regex(trim(lower({text_col})), '\\s+') AS t
  FROM {src}
  WHERE len(string_split_regex(trim(lower({text_col})), '\\s+')) >= 3
),
temb_cells AS (
  SELECT vec_id, h % {dim} AS d,
         CAST(1 - 2 * ((h >> 6) & 1) AS DOUBLE) AS s
  FROM (
    SELECT vec_id, {md5_long_sql(gram)} AS h
    FROM temb_toks, LATERAL unnest(generate_series(1, len(t) - 2)) AS u(i)
  )
),
temb_agg AS (
  SELECT vec_id, d, sum(s) AS v FROM temb_cells GROUP BY vec_id, d
),
temb_grid AS (
  SELECT ids.vec_id, dims.d
  FROM (SELECT DISTINCT vec_id FROM temb_toks) ids
  CROSS JOIN (SELECT unnest(generate_series(0, {dim - 1})) AS d) dims
),
temb AS (
  SELECT g.vec_id,
         list(coalesce(a.v, 0.0) ORDER BY g.d) AS embedding
  FROM temb_grid g
  LEFT JOIN temb_agg a ON a.vec_id = g.vec_id AND a.d = g.d
  GROUP BY g.vec_id
)"""


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, top_n: int = 3
) -> DataFrame:
    """Top-``top_n`` TF-IDF terms per document.

    Plan: explode distinct-cased tokens → tf per (doc, term) via one
    groupBy → document frequency per term via a second groupBy on the
    *term-level* relation (slim: term + doc pairs, payload never
    shuffled) → idf = ln(N/df) with N broadcast as a 1-row literal
    join (one scalar driver round-trip, same precedent as the ANN
    query vector) → window top-n with (score, term) tiebreak.

    Determinism: the score is rounded to 6dp BEFORE ranking on both
    engines, and ties break on the term string — the selected set and
    order match DuckDB exactly.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.col(id_col)).distinct().count()
    scored = tf.join(dfreq, "term").withColumn(
        "tfidf",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("df").cast("double")),
            6,
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_n)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query
    term set — the retrieval-scoring primitive for corpus search and
    RAG-index curation.

    Plan: one token explode filtered to the query terms (the filter
    lands *before* the shuffle, so only matching tokens move) → tf per
    (doc, term) via groupBy → per-term document frequency on the slim
    (doc, term) relation → corpus stats (N, avgdl) as a 1-row
    broadcast cross join (no driver round-trip) → per-term partial
    scores combined per doc. At 100 TB: the per-term relation is
    |terms| rows (broadcast), the (doc, term) relation ≤ |terms|·N
    slim rows, and the doc-length frame is a map-side projection —
    the only wide shuffles key on doc_id, which is unique (no skew).

    Determinism: idf uses the Lucene form ln(1 + (N - df + 0.5) /
    (df + 0.5)) rounded to 6 dp *before* the product (the libm log is
    the one non-correctly-rounded term — same contract as the
    bigram-LM scorer), per-term scores are rounded to 6 dp and summed
    as DECIMAL(20,6) (order-independent), final score rounded to 6 dp.
    Output: (doc_id, n_terms_hit, bm25) for docs hitting ≥1 term.
    """
    terms = tuple(terms)
    dl = df.select(
        F.col(id_col).alias("doc_id"),
        token_count(F.col(text_col)).cast("double").alias("dl"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum(F.col("dl").cast("decimal(27,4)")).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term").isin(*terms))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = (
        dfreq.crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                ),
                6,
            ).alias("idf"),
            "avgdl",
        )
    )
    part = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            F.round(
                F.col("idf")
                * (F.col("tf").cast("double") * (k1 + 1.0))
                / (
                    F.col("tf").cast("double")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ).alias("s"),
        )
    )
    return part.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
        F.round(F.sum(F.col("s").cast("decimal(20,6)")).cast("double"), 6).alias(
            "bm25"
        ),
    )


# PII patterns kept to syntax valid in BOTH Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_PATTERN = r"https?://[^\s]+"
PHONE_PATTERN = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"


def scrub_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Replace emails / URLs / phone-ish numbers with typed placeholder
    tokens and report per-kind match counts — the standard pre-training
    scrub pass. One vectorized regexp chain, entirely map-side."""
    c = F.col(text_col)
    scrubbed = F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>")
    scrubbed = F.regexp_replace(scrubbed, URL_PATTERN, "<URL>")
    scrubbed = F.regexp_replace(scrubbed, PHONE_PATTERN, "<PHONE>")
    return df.select(
        F.col(id_col),
        scrubbed.alias("scrubbed_text"),
        F.regexp_count(c, F.lit(EMAIL_PATTERN)).alias("n_emails"),
        F.regexp_count(c, F.lit(URL_PATTERN)).alias("n_urls"),
        F.regexp_count(c, F.lit(PHONE_PATTERN)).alias("n_phones"),
    )


def inverted_index(
    df: DataFrame, id_col: str, text_col: str, min_df: int = 2, max_postings: int = 20
) -> DataFrame:
    """Posting lists: term → document frequency + the first
    ``max_postings`` doc ids (sorted). Terms below ``min_df`` are
    dropped (the huge hapax tail — at corpus scale it's most of the
    vocabulary and serves no retrieval purpose).

    collect_set is bounded per term by ``max_postings`` only after the
    sort — at true scale the cap moves INTO the aggregation via a
    window top-n per term; here df is fixture-bounded and the simple
    shape keeps the oracle exact.
    """
    tok = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    return (
        tok.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.slice(F.array_sort(F.collect_set("doc_id")), 1, max_postings).alias(
                "postings"
            ),
        )
        .filter(F.col("df") >= min_df)
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03): hash every word ``k``-gram IN ORDER (a rolling window
    of hashes), then keep the minimum hash of every length-``w``
    window. Guarantees: any shared substring of ≥ w+k-1 tokens yields
    at least one shared fingerprint, and fingerprint density is
    ~2/(w+1) regardless of document length — the standard
    plagiarism/near-dup fingerprint with a bounded size.

    Scale shape: higher-order transforms are INTERPRETED in Spark, so
    computing the gram-hash array inline and slicing it per window
    position re-evaluates every md5 O(n) times (O(n²) hashing per doc
    — measured 30.5s for 500 fixture docs). Instead: posexplode the
    gram array, hash each gram ONCE in WholeStageCodegen, then take a
    per-doc window min over a w-row frame ordered by gram position —
    one doc-keyed shuffle, linear md5 work, the same rewrite that took
    simhash from 122s to 7s.
    """
    from pyspark.sql import Window

    from ..functions.hashing import md5_long

    toks = tokens(F.col(text_col))
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))

    # posexplode_outer keeps zero-gram docs as a single NULL row so they
    # survive to the output with an empty fingerprint set.
    #
    # The gram count is NOT carried as size(grams) from before the
    # explode: CollapseProject would inline that whole interpreted
    # transform into the post-Generate projection and rebuild the gram
    # array once per exploded row (the O(n²) trap again, via the count).
    # Derive it post-explode as max(__pos)+1 over the doc partition —
    # same shuffle the frame window already pays for.
    #
    # ensure_min_parallelism (r18): the tokenize → gram transform →
    # posexplode → md5 chain is the map side of the window shuffle; on
    # a single-split fixture scan it serialized on ONE core (measured
    # 3.65 s of a 4.45 s row in one task at sf0.1). Downstream is a
    # doc-keyed window + array_sort(array_distinct(collect_list)) —
    # partitioning-insensitive.
    from ..session import ensure_min_parallelism

    ex = ensure_min_parallelism(df).select(
        F.col(id_col).alias("__doc"),
        F.posexplode_outer(grams).alias("__pos", "__gram"),
    )
    hashed = ex.select("__doc", "__pos", md5_long(F.col("__gram")).alias("__h"))
    part = Window.partitionBy("__doc")
    frame = Window.partitionBy("__doc").orderBy("__pos").rowsBetween(0, w - 1)
    n = F.max("__pos").over(part) + F.lit(1)
    # Valid window starts: 0..n-w when n >= w; the single position 0
    # (min over the whole short doc) when 0 < n < w. NULL __pos (empty
    # doc) makes `keep` NULL → dropped by collect_list → empty array.
    keep = (F.col("__pos") <= n - F.lit(w)) | (
        (n < F.lit(w)) & (F.col("__pos") == F.lit(0))
    )
    return (
        hashed.withColumn("__wm", F.min("__h").over(frame))
        .withColumn("__keep", keep)
        .groupBy("__doc")
        .agg(
            F.array_sort(
                F.array_distinct(
                    F.collect_list(F.when(F.col("__keep"), F.col("__wm")))
                )
            ).alias("fingerprints")
        )
        .withColumnRenamed("__doc", id_col)
    )


def bigram_logprob_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Perplexity-style fluency score: each document's mean bigram
    log-probability under the corpus's OWN bigram model — the CCNet/
    Wikipedia-LM move (docs whose word transitions are improbable
    relative to the corpus are boilerplate, spam, or wrong-language;
    filter or down-weight them).

    Model: P(w2 | w1) = c(w1 w2) / c(w1 ·) over corpus bigrams, no
    smoothing (every doc bigram exists in the corpus by construction —
    the corpus includes the doc). Two hash aggregates build the model
    (bigram counts, left-context totals); scoring joins each doc
    bigram to its probability and averages.

    Cross-engine determinism: ln() is libm, whose last ulp differs
    between engines, so each log term is rounded to 6dp FIRST, then
    accumulated in DECIMAL (orderless), then the mean is rounded —
    the same recipe the decay/z-score operators use. Output:
    (id, n_bigrams, mean_logprob), docs with < 2 tokens dropped.
    """
    t = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc"), t.alias("t")).filter(
        F.size("t") >= 2
    )
    big = base.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat_ws(" ", F.slice("t", i, 2)),
            )
        ).alias("bg"),
    ).withColumn("w1", F.split(F.col("bg"), " ").getItem(0))

    c12 = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))

    term = F.round(
        F.log(F.col("c12").cast("double") / F.col("c1").cast("double")), 6
    )
    scored = (
        big.join(c12, "bg")
        .join(c1, "w1")
        .select("doc", term.cast("decimal(27,6)").alias("lp"))
    )
    return (
        scored.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # Divide in DOUBLE (cast the decimal sum first): a
            # decimal/long division truncates at decimal scale and
            # drifts from a sequential engine's double division.
            F.round(
                F.sum("lp").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_logprob"),
        )
        .select(F.col("doc").alias(id_col), "n_bigrams", "mean_logprob")
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals: duplicate-word
    fraction, most-frequent-word fraction, most-frequent-bigram
    fraction (high values = boilerplate / degenerate generations, the
    classic pretraining quality gates).

    Bigrams are built map-side with transform(sequence(...)) — no
    per-document window, so there is no single-doc ordering shuffle;
    both reduce paths shuffle on (doc, gram), a high-cardinality
    well-spread key, then collapse per doc with map-side combine.
    Docs with < 2 tokens get NULL bigram fraction rather than a
    divide-by-zero. Output: (doc_id, n_words, dup_word_frac,
    top_word_frac, top_bigram_frac), fractions rounded to 6dp.
    """
    t = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # No parallelism guard here (r18 measured both ways): the map side
    # of the first (doc, w) shuffle is a plain tokenize — adding the
    # round-robin repartition of token arrays cost more than the
    # 0.6 s one-task stage it removed (1.57 s vs 1.68 s min-of-4).
    base = df.select(F.col(id_col).alias("doc"), t.alias("t"))

    words = base.select("doc", F.explode("t").alias("w"))
    wd = (
        words.groupBy("doc", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc")
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_w"),
        )
    )

    bigrams = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: F.concat_ws(" ", F.slice("t", i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bd = (
        base.select("doc", F.explode(bigrams).alias("g"))
        .groupBy("doc", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc")
        .agg(F.sum("c").alias("n_bi"), F.max("c").alias("top_bi"))
    )

    return (
        wd.join(bd, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_words",
            F.round(F.lit(1) - F.col("n_distinct") / F.col("n_words"), 6).alias(
                "dup_word_frac"
            ),
            F.round(F.col("top_w") / F.col("n_words"), 6).alias("top_word_frac"),
            F.round(F.col("top_bi") / F.col("n_bi"), 6).alias("top_bigram_frac"),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """RAG-style chunking: overlapping fixed-width token windows per
    document (stride = chunk_tokens - overlap), the standard prep for
    embedding / retrieval indexing.

    Chunk starts are a map-side transform(sequence(...)) over each
    row — the explode multiplies rows ~n_tokens/stride× but never
    shuffles; at 100 TB this is scan → explode → write, embarrassingly
    parallel. The final window is kept whenever it starts in-range, so
    every token is covered and short docs yield exactly one chunk.
    Output: (id, chunk_idx, start_tok, n_toks, chunk_text).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    t = tokens(F.col(text_col))
    n = F.size(t)
    # starts: 0, stride, 2*stride, ... while start < n (and at least one)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int")
    )
    base = df.select(F.col(id_col), t.alias("t"), n_chunks.alias("k"))
    ex = base.select(
        id_col,
        "t",
        F.posexplode(F.sequence(F.lit(0), F.col("k") - 1)).alias("chunk_idx", "_i"),
    )
    start = F.col("chunk_idx") * stride
    piece = F.slice("t", start + 1, chunk_tokens)
    return ex.select(
        id_col,
        "chunk_idx",
        start.cast("int").alias("start_tok"),
        F.size(piece).cast("int").alias("n_toks"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def gopher_quality_flags(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style rule filters (Rae et al. 2021, arXiv:2112.11446
    §A1.1) as per-document boolean gates, the standard pretraining
    corpus pre-filter: word count in [50, 100k], mean word length in
    [3, 10], symbol-to-word ratio (# and ellipses) <= 0.1, <= 90% of
    lines starting with a bullet, <= 30% of lines ending in an
    ellipsis, >= 80% of words containing an alphabetic character, and
    at least 2 English stopword hits.

    Every metric is a single-pass Catalyst expression over (id, text)
    — no shuffle, no explode; at 100 TB this is a map-only scan with
    column pruning, the cheapest possible quality gate to run before
    any dedup/clustering stage. Ratios are rounded to 6dp before the
    threshold compare (the cross-engine determinism contract).
    Output: (id, n_tokens, mean_word_len, symbol_ratio, bullet_ratio,
    ellipsis_ratio, alpha_word_ratio, stop_hits, passes_gopher).

    Guarded by ensure_min_parallelism (r17): the per-row regex work is
    CPU-heavy and a single-split fixture scan would serialize it; on a
    real cluster the guard is a no-op branch and the pass stays the
    map-only scan described above.
    """
    from ..session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    c = F.col(text_col)
    t = tokens(c)
    n_tok = F.size(t)
    mean_word_len = F.round(
        (F.length(c) - (n_tok - 1)).cast("double") / n_tok.cast("double"), 6
    )
    n_symbols = F.regexp_count(c, F.lit("#")) + F.regexp_count(
        c, F.lit(r"(\.\.\.|…)")
    )
    symbol_ratio = F.round(n_symbols.cast("double") / n_tok.cast("double"), 6)
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))
    )
    n_ellipsis = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    )
    bullet_ratio = F.round(
        n_bullet.cast("double") / n_lines.cast("double"), 6
    )
    ellipsis_ratio = F.round(
        n_ellipsis.cast("double") / n_lines.cast("double"), 6
    )
    n_alpha_words = F.size(F.filter(t, lambda w: w.rlike("[a-z]")))
    alpha_word_ratio = F.round(
        n_alpha_words.cast("double") / n_tok.cast("double"), 6
    )
    stop_hits = stopword_score(c, LANG_STOPWORDS["en"])
    out = df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_word_ratio.alias("alpha_word_ratio"),
        stop_hits.alias("stop_hits"),
    )
    passes = (
        (F.col("n_tokens") >= 50)
        & (F.col("n_tokens") <= 100000)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("bullet_ratio") <= 0.9)
        & (F.col("ellipsis_ratio") <= 0.3)
        & (F.col("alpha_word_ratio") >= 0.8)
        & (F.col("stop_hits") >= 2)
    )
    return out.withColumn("passes_gopher", passes)


def script_char_ratios(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Character-class composition per document: alphabetic / digit /
    whitespace / other and non-ASCII fractions — the cheap script /
    language-family signal (and the classic "is this mojibake or a
    binary blob" gate) run before heavier lang-ID.

    One map-side pass, four vectorized regexp_count calls over a
    pruned (id, text) scan; zero shuffle at any scale. Ratios rounded
    to 6dp. Output: (id, n_chars, alpha_ratio, digit_ratio,
    space_ratio, other_ratio, non_ascii_ratio).
    """
    c = F.col(text_col)
    n = F.length(c)
    n_alpha = F.regexp_count(c, F.lit("[A-Za-z]"))
    n_digit = F.regexp_count(c, F.lit("[0-9]"))
    n_space = F.regexp_count(c, F.lit(r"\s"))
    n_nonascii = F.regexp_count(c, F.lit(r"[^\x00-\x7F]"))
    # Empty docs (n = 0): ratios are NULL, not an ANSI DIVIDE_BY_ZERO
    # (the quality_score_col lesson — doubles crash too).
    r = lambda x: F.when(  # noqa: E731
        n > 0, F.round(x.cast("double") / n.cast("double"), 6)
    )
    return df.select(
        F.col(id_col),
        n.alias("n_chars"),
        r(n_alpha).alias("alpha_ratio"),
        r(n_digit).alias("digit_ratio"),
        r(n_space).alias("space_ratio"),
        r(n - n_alpha - n_digit - n_space).alias("other_ratio"),
        r(n_nonascii).alias("non_ascii_ratio"),
    )


def duplicate_sentence_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """C4-style corpus-level sentence dedup statistics (Raffel et al.
    2020 §2.2 "three-sentence span" rule, reduced to single sentences):
    split documents into sentences, normalize, and report every
    sentence that appears in >= ``min_docs`` distinct documents — the
    removal list a boilerplate-stripping pass would anti-join on.

    Plan shape for 100 TB: explode is map-side; the single shuffle is
    the groupBy on the 32-hex md5 of the normalized sentence — a
    maximally-spread key, so no salting is ever needed; the aggregate
    carries (count, count distinct doc) with map-side partial
    aggregation. Sentences shorter than ``min_chars`` chars are
    dropped before the shuffle (they are overwhelmingly generic).
    Output: (sentence_hash, n_docs, n_total, sentence) where
    ``sentence`` is the lexicographic min of the normalized text (a
    deterministic representative).
    """
    sents = F.split(F.col(text_col), r"[.!?]\s+")
    ex = df.select(F.col(id_col).alias("doc"), F.explode(sents).alias("s"))
    norm = F.regexp_replace(F.trim(F.lower(F.col("s"))), r"\s+", " ")
    kept = ex.select("doc", norm.alias("sent")).where(
        F.length("sent") >= min_chars
    )
    return (
        kept.groupBy(F.md5(F.col("sent")).alias("sentence_hash"))
        .agg(
            F.count_distinct("doc").alias("n_docs"),
            F.count(F.lit(1)).alias("n_total"),
            F.min("sent").alias("sentence"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level duplicate *span* list — the fixed-window
    approximation of suffix-array substring dedup (Lee et al. 2021,
    arXiv:2107.06499): tile each document into non-overlapping
    ``span_tokens``-token spans and report every span appearing in
    >= ``min_docs`` distinct documents. Unlike the sentence variant
    this needs no punctuation, so it catches shared boilerplate in
    code, logs, and tables.

    The tiling is a map-side transform(sequence)/slice — rows multiply
    by n_tokens/span_tokens without shuffling; the single shuffle keys
    on the span md5 (maximally spread). Partial (trailing) spans are
    dropped: they would hash-mismatch their full twin anyway.
    Output: (span_hash, n_docs, n_total, span).
    """
    t = tokens(F.col(text_col))
    k = F.floor(F.size(t) / span_tokens).cast("int")
    spans = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(
            " ", F.slice(t, (i - 1) * span_tokens + 1, span_tokens)
        ),
    )
    ex = df.select(F.col(id_col).alias("doc"), spans.alias("sp")).where(
        k >= 1
    )
    kept = ex.select("doc", F.explode("sp").alias("span"))
    return (
        kept.groupBy(F.md5(F.col("span")).alias("span_hash"))
        .agg(
            F.count_distinct("doc").alias("n_docs"),
            F.count(F.lit(1)).alias("n_total"),
            F.min("span").alias("span"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def corpus_ngram_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    top: int = 100,
) -> DataFrame:
    """Corpus-level top-k word n-gram frequency table — the LM-data
    diagnostic behind contamination screens, boilerplate discovery,
    and tokenizer-vocab sanity checks.

    N-grams are built map-side (transform over a sequence of start
    offsets — no window, no per-doc shuffle), then one groupBy on the
    gram itself; partial aggregation collapses repeats before the
    shuffle and the final top-k is a TakeOrderedAndProject (per-
    partition heaps, never a global sort). Ties break lexicographically
    so the selected set is deterministic. Output: (gram, cnt).
    """
    t = tokens(F.col(text_col))
    grams = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = df.select(F.explode(grams).alias("gram"))
    counts = ex.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.col("cnt").desc(), F.col("gram").asc()).limit(top)


def pii_summary(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group PII exposure report: document counts, per-kind match
    totals, and the share of documents containing any PII — the
    compliance dashboard over :func:`scrub_pii`'s per-doc counts.
    Map-side regexp counting + one tiny groupBy; ratios rounded 6dp.
    Output: (group, n_docs, n_emails, n_urls, n_phones, docs_with_pii,
    pii_doc_rate).
    """
    c = F.col(text_col)
    e = F.regexp_count(c, F.lit(EMAIL_PATTERN))
    u = F.regexp_count(c, F.lit(URL_PATTERN))
    p = F.regexp_count(c, F.lit(PHONE_PATTERN))
    per = df.select(
        F.col(group_col).alias("grp"),
        e.alias("e"),
        u.alias("u"),
        p.alias("p"),
        ((e + u + p) > 0).cast("int").alias("any_pii"),
    )
    return (
        per.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("e").alias("n_emails"),
            F.sum("u").alias("n_urls"),
            F.sum("p").alias("n_phones"),
            F.sum("any_pii").alias("docs_with_pii"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "n_emails",
            "n_urls",
            "n_phones",
            "docs_with_pii",
            F.round(
                F.col("docs_with_pii").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("pii_doc_rate"),
        )
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top: int = 50,
) -> DataFrame:
    """Adjacent character-pair frequencies over whitespace words — the
    counting step of one BPE merge round (Sennrich et al. 2016,
    "Neural Machine Translation of Rare Words with Subword Units":
    the highest-count pair becomes the next merge rule).

    A full BPE trainer re-counts after each merge; at corpus scale the
    expensive part is exactly this pass, and it is embarrassingly
    parallel: pairs are built map-side (transform over start offsets
    inside each word — no shuffle until the count), then ONE groupBy
    with map-side partial aggregation; top-k via TakeOrderedAndProject
    with a lexicographic tiebreak. Word-frequency weighting is
    implicit (every occurrence of a word contributes its pairs), which
    matches BPE's corpus-frequency objective without a separate
    word-count table.

    Output: (pair: string, cnt: long), ``top`` rows.
    """
    w = F.explode(tokens(F.col(text_col))).alias("w")
    words = df.select(w).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(top)


def _merge_pair_in_syms(syms, a: str, b: str):
    """Left-to-right non-overlapping merge of adjacent (a, b) symbol
    occurrences — the standard BPE apply step (on 'aaa' the rule (a,a)
    yields ['aa','a'], never ['aa','aa']) — as a pure-Catalyst array
    fold. Greedy-correct because the merged symbol becomes the fold's
    new tail and is compared as a whole against ``a`` next step. The
    empty-accumulator case is guarded by a lazily-evaluated outer CASE
    so element_at(-1) never touches an empty array under ANSI."""
    merged = F.lit(a + b)

    def step(acc, x):
        tail_matches = (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b))
        return F.when(F.size(acc) == 0, F.array(x)).otherwise(
            F.when(
                tail_matches,
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
            ).otherwise(F.concat(acc, F.array(x)))
        )

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    merges: int = 6,
) -> DataFrame:
    """Iterated BPE training (Sennrich et al. 2016): ``merges`` rounds
    of count-pairs → pick-best → merge-everywhere, returning the
    learned merge table (merge_round, pair, cnt).

    The scale design is the classic vocabulary compression: the corpus
    is scanned ONCE into a word-frequency table (a 100 TB corpus has
    maybe 10⁷ distinct words), and every iteration thereafter runs on
    |vocab| rows only — explode adjacent symbol pairs map-side, ONE
    cnt-weighted groupBy, top-1 via TakeOrderedAndProject, then a
    pure-Catalyst array fold applies the winning rule to every word.
    Per round: one bounded 1-row driver collect (the argmax rule —
    same anytime-iteration shape as kmeans_centroids) and one persist
    handoff so round t+1 reads round t's vocab instead of recomputing
    the whole chain.

    Pair ids use the space-joined form ``'A B'`` (symbols never
    contain whitespace — words come from a whitespace split), matching
    the merge-rule notation of the reference implementation.
    """
    from ..session import track_persist

    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.split("w", "").alias("syms"), "cnt")
    )
    vocab = track_persist(vocab)
    rules: list[tuple[int, str, int]] = []
    for t in range(1, merges + 1):
        pair = F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.concat(
                    F.element_at("syms", i), F.lit(" "),
                    F.element_at("syms", i + 1),
                ),
            )
        ).alias("pair")
        # fully-merged single-symbol words yield no pairs; filtering
        # them also keeps sequence(1, size-1) ascending (Spark's
        # sequence(1, 0) is DESCENDING, unlike DuckDB's empty series)
        counts = (
            vocab.where(F.size("syms") >= 2)
            .select(pair, "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").alias("cnt"))
        )
        best = counts.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(
            1
        ).collect()
        if not best:
            break
        a, b = best[0]["pair"].split(" ", 1)
        rules.append((t, best[0]["pair"], best[0]["cnt"]))
        vocab = track_persist(
            vocab.select(_merge_pair_in_syms(F.col("syms"), a, b).alias("syms"), "cnt")
        )
    spark = df.sparkSession
    return spark.createDataFrame(
        rules, "merge_round int, pair string, cnt bigint"
    )


def bpe_encode_counts(
    df: DataFrame,
    rules: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned BPE merge list to every document and return
    (id, n_words, n_bpe_tokens) — the tokenizer-application half of
    :func:`bpe_train` (the pair every real pipeline ships: train once
    on the corpus, encode everything with the frozen rules).

    Entirely map-side: per doc, each word's character symbols pass
    through the rules IN MERGE ORDER as nested pure-Catalyst folds
    (``len(rules)`` nested ``aggregate`` expressions — the rule list
    is a frozen literal, so the whole encode is one narrow projection:
    no shuffle, no UDF, trivially parallel over a 100 TB corpus).
    Token counts use the same greedy left-to-right merge semantics the
    trainer counted with.
    """
    words = F.filter(
        tokens(F.col(text_col)), lambda w: F.length(w) >= 1
    )

    def merged_size(w):
        syms = F.split(w, "")
        for a, b in rules:
            syms = _merge_pair_in_syms(syms, a, b)
        return F.size(syms)

    return df.select(
        F.col(id_col),
        F.size(words).alias("n_words"),
        F.aggregate(
            words, F.lit(0), lambda acc, w: acc + merged_size(w)
        ).alias("n_bpe_tokens"),
    )


def diversity_by_group(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Lexical-diversity profile per group: token count, vocabulary
    size, type-token ratio, Gini-Simpson diversity, and hapax ratio —
    the corpus-mix dashboard a training-data pipeline watches to catch
    template/boilerplate sources (low diversity) and OCR/noise sources
    (inflated hapax share) before they enter a mixture.

    Every metric is deliberately RATIONAL — no entropy (ln is not
    correctly-rounded across libms, so cross-engine hashes drift):
    - ttr           = V / N              (vocabulary / tokens)
    - gini_simpson  = 1 − Σ nᵢ(nᵢ−1) / (N(N−1)) — the probability two
      tokens drawn without replacement are DIFFERENT types; the
      Σ nᵢ(nᵢ−1) accumulates in DECIMAL(38,0) (nᵢ² passes int64 at
      ~10^10-token types), division happens once, as doubles, 6dp.
    - hapax_ratio   = |{i : nᵢ = 1}| / V
    Integer sums are shuffle-order-free, so results are stable under
    AQE/partitioning — the same argument as histogram_drift.

    Plan: explode tokens → ONE (group, token) count (map-side
    combinable) → ONE group rollup. Empty-string tokens (blank docs)
    are dropped to match the oracle's WHERE w <> ''.

    Returns (group, n_tokens, n_types, ttr, gini_simpson, hapax_ratio).
    """
    tok = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(F.col(text_col))).alias("w"),
        )
        .where(F.col("w") != "")
    )
    counts = tok.groupBy("grp", "w").agg(F.count(F.lit(1)).alias("n"))
    dec = "decimal(38,0)"
    n = F.col("n").cast(dec)
    g = counts.groupBy("grp").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(n * (n - 1)).alias("same2"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("hapax"),
    )
    nt = F.col("n_tokens").cast(dec)
    return g.select(
        F.col("grp").alias(group_col),
        "n_tokens",
        "n_types",
        F.round(
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("ttr"),
        F.when(
            F.col("n_tokens") > 1,
            F.round(
                F.lit(1.0)
                - F.col("same2").cast("double")
                / (nt * (nt - 1)).cast("double"),
                6,
            ),
        ).alias("gini_simpson"),
        F.round(
            F.col("hapax").cast("double") / F.col("n_types").cast("double"), 6
        ).alias("hapax_ratio"),
    )


def adaptive_quality_filter(
    df: DataFrame,
    id_col: str,
    group_col: str,
    text_col: str,
    p: float = 0.25,
) -> DataFrame:
    """Per-source adaptive quality gate: keep documents scoring at or
    above their OWN source's ``p``-quantile of the composite quality
    score — the filter a mixed-corpus pipeline needs because one
    global cutoff either guts clean sources or waves noisy ones
    through (quality distributions differ per crawl/dump; cutting
    each source's worst quartile is the defensible default).

    Reuses :func:`quality_score_col` (identical rounded arithmetic to
    the quality_scores oracle). The scored relation is persisted —
    it feeds both the threshold aggregate and the final join, and
    without the persist the regex scoring scan runs twice. Thresholds
    are one row per source (bounded), broadcast back; the filter
    itself is map-side. Exact percentile gathers each source's values
    once (inherent); at true scale swap percentile →
    percentile_approx (mergeable sketch, map-side combinable) — the
    gate is a triage, not an exactness contract.

    Returns (id, group, quality_score) for survivors.
    """
    from ..session import track_persist

    scored = track_persist(
        df.select(
            F.col(id_col),
            F.col(group_col),
            quality_score_col(F.col(text_col)).alias("quality_score"),
        )
    )
    thr = scored.groupBy(group_col).agg(
        F.expr(f"percentile(quality_score, {p})").alias("__thr")
    )
    return (
        scored.join(F.broadcast(thr), group_col)
        .where(F.col("quality_score") >= F.col("__thr"))
        .select(id_col, group_col, "quality_score")
    )


def vocab_coverage_curve(
    df: DataFrame,
    text_col: str,
    checkpoints: tuple[int, ...] = (100, 500, 1000, 5000),
) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocab size N,
    the fraction of ALL corpus token occurrences covered by the N most
    frequent words — the first diagnostic a tokenizer owner reads
    (how fast coverage saturates decides vocab size, and a corpus
    whose curve is unusually flat is noise/OCR-heavy).

    Rank-by-frequency uses the distributed global row-number
    (windows.global_row_numbers: range-partitioned local row_numbers
    + broadcast prefix offsets) over the unique (−count, word) key —
    NEVER the single-reducer global window, because vocabulary grows
    with the corpus (100M+ types at web scale). Coverage sums are
    conditional integer aggregates in one pass over the ranked
    relation; one row per checkpoint via a literal explode.

    Returns (vocab_size, covered_tokens, total_tokens, coverage 6dp),
    ascending by vocab_size.
    """
    from .windows import global_row_numbers

    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("w", "cnt", (-F.col("cnt")).alias("neg"))
    )
    ranked = global_row_numbers(counts, ["neg", "w"], out="rn")
    cps = F.explode(
        F.array(*[F.lit(int(n)) for n in checkpoints])
    ).alias("vocab_size")
    expanded = ranked.select("cnt", "rn", cps)
    out = expanded.groupBy("vocab_size").agg(
        F.sum(F.when(F.col("rn") <= F.col("vocab_size"), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("covered_tokens"),
        F.sum("cnt").cast("long").alias("total_tokens"),
    )
    return out.select(
        "vocab_size",
        "covered_tokens",
        "total_tokens",
        F.round(
            F.col("covered_tokens").cast("double")
            / F.col("total_tokens").cast("double"),
            6,
        ).alias("coverage"),
    ).orderBy("vocab_size")


def cdc_chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    divisor: int = 16,
) -> DataFrame:
    """Content-defined chunking: chunk boundaries fall after token i
    whenever the rolling hash of the ``window``-gram ending at i is
    ≡ 0 (mod ``divisor``) — so boundaries are anchored to CONTENT,
    not offsets. Fixed-width chunking (chunk_documents) shifts every
    later chunk when one token is inserted, defeating chunk-level
    dedup/caching; CDC re-synchronizes within ~one chunk (the FastCDC
    / LBFS principle applied at token level). Expected chunk length =
    ``divisor`` tokens; the final boundary is forced at the document
    end.

    Entirely map-side (zero shuffles — a pure scan→write at 100 TB):
    boundary positions, chunk spans, and per-chunk hashes are nested
    array transforms over the token array using the repo's md5 hash
    family, so the DuckDB oracle replays bit-identically. Blank
    documents are skipped.

    Returns (id, chunk_idx, start_tok, end_tok, n_tokens, chunk_hash).
    """
    from ..functions.hashing import md5_long

    t = tokens(F.col(text_col))
    # Map-side-only pipeline: output width = input split count, so a
    # single-split fixture scan serializes the whole rolling-hash
    # chunker on one core (r18 — measured a 0.73 s one-task save).
    # The guard repartitions ONLY below the session's parallelism —
    # the zero-shuffle 100 TB posture (many splits) is untouched.
    from ..session import ensure_min_parallelism

    base = ensure_min_parallelism(df).where(
        F.trim(F.col(text_col)) != ""
    ).select(F.col(id_col), t.alias("t"))
    L = F.size(F.col("t"))
    bpos = F.filter(
        F.when(L >= window, F.sequence(F.lit(window), L)).otherwise(
            F.array().cast("array<int>")
        ),
        lambda i: F.pmod(
            md5_long(
                F.concat_ws(
                    " ", F.slice(F.col("t"), i - (window - 1), window)
                )
            ),
            F.lit(divisor),
        )
        == 0,
    )
    bounds = F.when(
        (F.size(bpos) > 0) & (F.element_at(bpos, -1) == L), bpos
    ).otherwise(F.concat(bpos, F.array(L)))
    withb = base.select(id_col, "t", bounds.alias("bounds"))
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(F.col("bounds"))),
        lambda i: F.struct(
            (i - 1).cast("int").alias("chunk_idx"),
            F.when(i == 1, F.lit(1))
            .otherwise(F.element_at(F.col("bounds"), (i - 1).cast("int")) + 1)
            .cast("int")
            .alias("start_tok"),
            F.element_at(F.col("bounds"), i.cast("int")).cast("int").alias("end_tok"),
        ),
    )
    rows = withb.select(id_col, "t", F.explode(chunks).alias("c")).select(
        id_col,
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.start_tok").alias("start_tok"),
        F.col("c.end_tok").alias("end_tok"),
        (F.col("c.end_tok") - F.col("c.start_tok") + 1).cast("int").alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("t"),
                    F.col("c.start_tok"),
                    F.col("c.end_tok") - F.col("c.start_tok") + 1,
                ),
            )
        ).alias("chunk_hash"),
    )
    return rows


def unigram_lm_piece_scores(
    df: DataFrame,
    text_col: str = "text",
    max_word_len: int = 12,
    max_piece_len: int = 4,
    min_freq: int = 2,
    k: int = 50,
) -> DataFrame:
    """One hard-EM round of SentencePiece-style unigram-LM tokenizer
    training (Kudo 2018): seed candidate pieces from character
    n-grams, then re-count each piece's usage under the VITERBI (best)
    segmentation of every word — the E-step whose counts the M-step
    would renormalize. Pairs with :func:`bpe_train` the way MAD pairs
    with mean/stddev: the two public tokenizer-training families, both
    in the same anytime-iteration frame.

    Determinism across engines (the repo's float rules): piece
    probabilities are ONE division each (freq/total, correctly
    rounded), path scores are PRODUCTS of those doubles in identical
    association order on both engines — no ln(), whose libm rounding
    differs (Viterbi over products ≡ Viterbi over log-sums, and
    doubles reach 1e-308 before a 12-piece product can underflow).
    Argmax ties break on (j, piece) lexicographically. The OUTPUT is
    integer-only (piece, em_count, seed_freq) — no float column ever
    reaches the driver hash.

    Scale shape: everything after the one corpus scan runs on the
    DISTINCT-WORD relation (a 100 TB corpus has ~10⁷ word forms):
    piece seeding is a map-side explode + combinable count; the
    Viterbi lattice is ``max_word_len`` UNROLLED bounded DP levels
    (dp[i] = best of ≤ max_piece_len arcs × predecessors — a
    word-keyed join per level, persisted so lineage stays linear,
    exactly the pagerank/kcore anytime contract), and the backpointer
    walk is another ≤ max_word_len bounded joins. State is
    words × positions, never corpus-sized; words longer than
    ``max_word_len`` are truncated (bounded-lattice cap, as
    SentencePiece caps candidate length).

    Returns top-``k`` (piece, em_count, seed_freq) by Viterbi usage.
    """
    from ..session import cut_lineage, ensure_min_parallelism

    words = (
        ensure_min_parallelism(df)
        .select(F.explode(tokens(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .select(F.substring("w", 1, max_word_len).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
    )
    # Eager lineage cuts, not lazy persists (the round-12
    # dedup_threshold_curve lesson): words feeds 4+ consumers, pr
    # feeds the arc join, and arcs is consumed by EVERY one of the
    # max_word_len DP levels — lazily persisted, each level's plan
    # re-embedded the words->pieces->pr->arcs subtree (the query
    # audited 172 exchanges / 89 broadcasts before the cut).
    words = cut_lineage(words)

    # Seed pieces: every substring of length 1..max_piece_len, corpus
    # frequency = occurrences weighted by word count. Single chars are
    # always kept so every word is segmentable.
    occ_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda s: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_piece_len), F.length("word") - s + 1),
                ),
                lambda l: F.col("word").substr(s, l),
            ),
        )
    )
    pieces = (
        words.select(F.explode(occ_arr).alias("piece"), "wcnt")
        .groupBy("piece")
        .agg(F.sum("wcnt").alias("freq"))
        .where((F.col("freq") >= min_freq) | (F.length("piece") == 1))
    )
    total = pieces.agg(F.sum("freq").cast("double").alias("total"))
    pr = cut_lineage(
        pieces.crossJoin(F.broadcast(total)).select(
            "piece",
            "freq",
            (F.col("freq").cast("double") / F.col("total")).alias("prob"),
        )
    )

    # Lattice arcs: (word, j, i, piece, prob) — piece spans tokens
    # j+1..i of the word (1-based chars), 1 <= i-j <= max_piece_len.
    arc_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(max_piece_len), i)),
                lambda l: F.struct(
                    (i - l).cast("int").alias("j"),
                    i.cast("int").alias("i"),
                    F.col("word").substr(i - l + 1, l).alias("piece"),
                ),
            ),
        )
    )
    arcs = (
        words.select("word", "wcnt", F.explode(arc_arr).alias("a"))
        .select("word", "wcnt", "a.j", "a.i", "a.piece")
        .join(pr.select("piece", "prob"), "piece")
    )

    # ONE-RELATION VITERBI (round 13). The per-word lattice is a
    # BOUNDED LOCAL computation — ≤ max_word_len levels over
    # ≤ max_word_len·max_piece_len arcs — yet the previous
    # formulation distributed its LEVELS across 12 per-level joins +
    # 12 backpointer-walk joins, which audited 155 exchanges even
    # after lineage cuts (the round-12 residual). Collecting each
    # word's arcs once and running the DP + backtrace inside Catalyst
    # higher-order functions buys nothing for a single word but
    # removes EVERY per-level shuffle: the whole lattice now costs
    # one groupBy(word) plus one final groupBy(piece).
    #
    # Determinism is unchanged: path scores are the SAME products in
    # the SAME association order (dp[j].prob · arc.prob), and the
    # argmax tiebreak (prob DESC, j ASC, piece ASC) is an array_sort
    # comparator identical to the old per-level window ordering — so
    # segmentations, and the integer-only output, are bit-identical
    # to the level-join formulation (equality pytest-pinned).
    lat = arcs.groupBy("word", "wcnt").agg(
        F.collect_list(F.struct("j", "i", "piece", "prob")).alias("arcs")
    )

    def cmp(a, b):
        return (
            F.when(a["prob"] > b["prob"], -1)
            .when(a["prob"] < b["prob"], 1)
            .when(a["bj"] < b["bj"], -1)
            .when(a["bj"] > b["bj"], 1)
            .when(a["bpiece"] < b["bpiece"], -1)
            .when(a["bpiece"] > b["bpiece"], 1)
            .otherwise(F.lit(0))
        )

    def _node(prob, bj, bpiece):
        return F.struct(
            prob.alias("prob"),
            bj.cast("int").alias("bj"),
            bpiece.cast("string").alias("bpiece"),
        )

    unreachable = _node(F.lit(0.0), F.lit(-1), F.lit(None))

    def dp_step(dp, i):
        scored = F.transform(
            F.filter(F.col("arcs"), lambda a: a["i"] == i),
            lambda a: _node(
                F.element_at(dp, a["j"] + 1)["prob"] * a["prob"],
                a["j"],
                a["piece"],
            ),
        )
        best = F.element_at(F.array_sort(scored, cmp), 1)
        return F.concat(
            dp,
            F.array(F.when(F.size(scored) > 0, best).otherwise(unreachable)),
        )

    dp_col = F.aggregate(
        F.sequence(F.lit(1), F.lit(max_word_len)),
        F.array(_node(F.lit(1.0), F.lit(-1), F.lit(None))),
        dp_step,
    )
    # dp referenced >1× in the walk below — a separate projection that
    # CollapseProject will NOT inline (multi-reference, non-cheap), so
    # the lattice is computed once per word.
    lat = lat.select("word", "wcnt", dp_col.alias("dp"))

    def walk_step(acc, _):
        cur = F.element_at(F.col("dp"), acc["pos"] + 1)
        return F.when(
            acc["pos"] > 0,
            F.struct(
                cur["bj"].alias("pos"),
                F.concat(acc["pieces"], F.array(cur["bpiece"])).alias(
                    "pieces"
                ),
            ),
        ).otherwise(acc)

    pieces_col = F.aggregate(
        F.sequence(F.lit(1), F.lit(max_word_len)),
        F.struct(
            F.length("word").cast("int").alias("pos"),
            F.array().cast("array<string>").alias("pieces"),
        ),
        walk_step,
    )["pieces"]
    allem = lat.select("wcnt", F.explode(pieces_col).alias("piece"))

    em = allem.groupBy("piece").agg(F.sum("wcnt").alias("em_count"))
    return (
        em.join(pr.select("piece", F.col("freq").alias("seed_freq")), "piece")
        .orderBy(F.desc("em_count"), F.asc("piece"))
        .limit(k)
    )


# Feature inventory for the perceptron gate: (output term name, the
# Spark expression builder). Integer-valued by construction — the
# whole training loop stays in exact int64 arithmetic. Ratio features
# are PER-MILLE integers (floor(1000·a/b) with both operands exact
# ints and ONE correctly-rounded double division — identical floor in
# any engine), so no feature's magnitude swamps the others.
PERCEPTRON_TERMS = [
    "bias", "n_tokens", "stop_permille", "punct_permille", "digit_permille",
]


def _permille(num: Column, den: Column) -> Column:
    return F.floor(
        (F.lit(1000) * num).cast("double") / den.cast("double")
    ).cast("long")


def _perceptron_features(text_col: str):
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tok = token_count(c)
    n_punct = F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]"))
    n_digit = F.regexp_count(c, F.lit(r"[0-9]"))
    n_stop = stopword_score(c, LANG_STOPWORDS["en"])
    return [
        F.lit(1).cast("long"),
        n_tok.cast("long"),
        _permille(n_stop, n_tok),
        F.when(n_chars > 0, _permille(n_punct, n_chars))
        .otherwise(F.lit(0).cast("long")),
        F.when(n_chars > 0, _permille(n_digit, n_chars))
        .otherwise(F.lit(0).cast("long")),
    ]


def perceptron_quality_gate(
    df: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    epochs: int = 24,
    bias_scale: int = 100,
) -> DataFrame:
    """Distill the float composite quality heuristic
    (:func:`quality_score_col`) into a cheap INTEGER linear filter:
    train an averaged-step batch perceptron with POCKET selection
    (Gallant 1990) labeling ``quality_score >= threshold``, on
    per-mille integer count features — the fastText-style move of
    replacing an expensive gate with five codegen'd counts and a dot
    product that runs map-side over 100 TB. On the sf0.01 fixture the
    pocket weights recover the (separable-by-construction) gate at
    ~96% train accuracy.

    Why a perceptron and not logistic regression: gradient descent
    needs exp/log (not correctly rounded across libms — the repo's
    cross-engine float rule), while this trajectory is EXACT INT64
    ARITHMETIC end to end: per epoch the update is
    ``w += floor(Σ_{misclassified} y·x / m)`` computed as pure-long
    ``(s - pmod(s, m)) div m`` — no double round-trip, so exactness
    holds past 2^53 (i.e. at any corpus size, not just while the
    misclassified-sum fits a double's mantissa). (The averaged batch
    step — the raw sum over m misclassified rows overshoots by ~m×.)
    ties (margin 0) count as misclassified, and the POCKET keeps the
    best-accuracy weights over all epochs (integer accuracy compare,
    earliest-epoch tiebreak) — batch perceptrons oscillate on
    non-separable data, so the pocket, not the last iterate, is the
    estimator. The bias input is ``bias_scale`` (not 1) so the
    intercept moves at the same per-epoch rate as the scaled count
    features. Deterministic across engines/partitionings/retries by
    construction — the DuckDB oracle replays every epoch bit-exactly.

    Plan: ONE feature-extraction scan (persisted); per epoch ONE
    combinable aggregate computes BOTH the current weights' accuracy
    (the pocket candidate) and the averaged update, with the weights
    inlined as INT64 LITERALS: the per-epoch stats row is a single
    bounded row (8 longs), so the driver folds it into the next
    epoch's weights in exact Python integer arithmetic — the same
    metadata-bounded-collect contract as the versioned layer and the
    BPE trainer. (The previous form kept the weights as a 1-row
    DataFrame chained through per-epoch broadcast crossJoins plus a
    second 1-row eager checkpoint per epoch — 2 Spark jobs per
    epoch where the training pass itself needs 1; measured 12.0s →
    5.1s at sf0.1 for identical output.) Both engines still run
    exactly ``epochs`` data passes; the corpus is only ever touched
    by the per-epoch aggregate. Pocket selection is an integer
    compare over the epochs+1 candidate stat rows.

    Returns long-format (term, value): the five pocket weights plus
    train_correct / train_total at the pocket.
    """
    from ..session import ensure_min_parallelism, track_persist

    n = len(PERCEPTRON_TERMS)
    feats = _perceptron_features(text_col)
    feats[0] = F.lit(int(bias_scale)).cast("long")
    label = F.when(
        quality_score_col(F.col(text_col)) >= F.lit(threshold), 1
    ).otherwise(-1)
    feat = ensure_min_parallelism(df).select(
        label.cast("long").alias("y"),
        *[feats[i].alias(f"x{i}") for i in range(n)],
    )
    feat = track_persist(feat)

    spark = df.sparkSession
    w = [0] * n  # exact Python ints (arbitrary precision)

    def margin():
        m = F.lit(0).cast("long")
        for i in range(n):
            m = m + F.lit(int(w[i])).cast("long") * F.col(f"x{i}")
        return m

    # (ep, correct, total, weights-at-this-epoch)
    candidates: list[tuple[int, int, int, list[int]]] = []
    for t in range(1, epochs + 1):
        mis = F.col("y") * margin() <= 0
        st = feat.agg(
            F.sum(F.when(~mis, 1).otherwise(0)).cast("long").alias("correct"),
            F.count(F.lit(1)).alias("total"),
            F.coalesce(F.sum(F.when(mis, 1)), F.lit(0))
            .cast("long")
            .alias("m"),
            *[
                F.coalesce(F.sum(F.when(mis, F.col("y") * F.col(f"x{i}"))), F.lit(0))
                .cast("long")
                .alias(f"s{i}")
                for i in range(n)
            ],
        ).collect()[0]
        # EMPTY corpus: sum(when(...)) over zero rows is NULL (total
        # and the coalesced m / s_i are 0) — carry None through so the
        # pocket picks the earliest epoch with NULL accuracy, exactly
        # as the previous in-plan row_number (DESC NULLS LAST) did.
        correct = None if st["correct"] is None else int(st["correct"])
        candidates.append((t, correct, int(st["total"]), list(w)))
        # Averaged-step update, exact integer floor division: Python's
        # `//` IS floor division for ints (identical to the previous
        # in-plan `(s - pmod(s, m)) div m` form at any magnitude — no
        # double round-trip, so exactness holds past 2^53).
        if int(st["m"]) > 0:
            m_mis = int(st["m"])
            w = [w[i] + int(st[f"s{i}"]) // m_mis for i in range(n)]
    fin = feat.agg(
        F.sum(F.when(F.col("y") * margin() > 0, 1).otherwise(0))
        .cast("long")
        .alias("correct"),
        F.count(F.lit(1)).alias("total"),
    ).collect()[0]
    candidates.append(
        (
            epochs + 1,
            None if fin["correct"] is None else int(fin["correct"]),
            int(fin["total"]),
            list(w),
        )
    )
    # Pocket: max accuracy, earliest-epoch tiebreak (integer compare —
    # identical to the previous row_number over (correct DESC, ep ASC);
    # NULL accuracies sort last, so an empty corpus yields epoch 1's
    # zero weights with NULL train_correct).
    ep, correct, total, wp = max(
        candidates,
        key=lambda c: (c[1] is not None, c[1] if c[1] is not None else 0, -c[0]),
    )
    rows = [(PERCEPTRON_TERMS[i], int(wp[i])) for i in range(n)] + [
        ("train_correct", correct),
        ("train_total", total),
    ]
    return spark.createDataFrame(rows, "term string, value long")


def dedup_corpus_lines(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4-style EXACT LINE dedup across the whole corpus: every
    newline-delimited line that occurs more than once corpus-wide is
    kept only at its FIRST occurrence (lexicographic min of
    (id, position)); each document is rebuilt from its surviving
    lines in original order. This is the middle tier of the dedup
    ladder — document-level (MinHash/SimHash) drops whole docs,
    span-level (duplicate_substring_spans) cuts arbitrary ranges, and
    line-level is what C4 actually shipped: boilerplate (nav bars,
    cookie banners, license headers) repeats as whole lines.

    Plan: posexplode lines map-side; the first-occurrence choice is a
    map-side-combinable min-struct groupBy keyed on the 60-bit line
    hash (8-byte shuffle keys, never line text — the r7 shingle-key
    rule; md5 rather than xxhash64 so the oracle replays it), then a
    hash-keyed join back. A groupBy, not a window: a hot boilerplate
    line would pin one reducer's window partition, while the partial
    min combines map-side and the join splits under AQE. Rebuild is
    one doc-keyed sort-free groupBy (array_sort of (pos, line)
    structs).

    Returns (id, n_lines, n_kept, kept_text); fully-duplicate docs
    keep a row with n_kept = 0 and empty kept_text.
    """
    from ..functions.hashing import md5_long
    from ..session import ensure_min_parallelism, track_persist

    lines = track_persist(
        ensure_min_parallelism(df).select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "pos", "line"
            ),
        ).select(
            id_col, "pos", "line", md5_long(F.col("line")).alias("h")
        )
    )
    first = lines.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("f")
    )
    surv = lines.join(first, "h").where(
        (F.col(id_col) == F.col(f"f.{id_col}"))
        & (F.col("pos") == F.col("f.pos"))
    )
    rebuilt = surv.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("kept_text"),
    )
    orig = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    return orig.join(rebuilt, id_col, "left").select(
        id_col,
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
    )


def distinctive_terms_log_odds(
    df: DataFrame,
    group_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Per-group distinctive vocabulary via the log-odds-ratio z-score
    with add-one smoothing (Monroe, Colaresi & Quinn 2008, "Fightin'
    Words") — the corpus-comparison tool that answers "which words
    characterize THIS source against the rest?" without tf-idf's
    length bias: for each (group, word), the difference of smoothed
    log odds in-group vs rest-of-corpus, standardized by its
    approximate variance 1/(y_gw+1) + 1/(y_rest+1).

    Plan: the only data-volume work is one token explode + one
    map-side-combinable groupBy(group, word); every further statistic
    (word marginals, group totals, vocabulary size, grand total) is a
    window or 1-row broadcast over the CELL relation (vocab x groups
    rows), never a rescan. The top-k per group is a bounded rank
    window over the same relation. At 100 TB: one scan, one shuffle
    keyed by (group, word), then small-relation arithmetic.

    Numerics: counts exact int64; each smoothed odds is a fixed IEEE
    divide; each of the TWO ln calls per row is individually rounded
    to 6dp before the subtraction (single-transcendental rule); the
    variance is rational; sqrt is correctly rounded IEEE; final
    z rounded 6dp. Ties broken by word ascending.

    Returns (group, word, n_in_group, z_score), top-k rows per group,
    ordered (group asc, z desc, word asc).
    """
    from pyspark.sql import Window

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    cells = (
        df.select(F.col(group_col).alias("g"), F.explode(toks).alias("w"))
        .where(F.col("w") != "")
        .groupBy("g", "w")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    wword = Window.partitionBy("w")
    wgrp = Window.partitionBy("g")
    sized = (
        cells.withColumn("y_w", F.sum("y").over(wword).cast("long"))
        .withColumn("n_g", F.sum("y").over(wgrp).cast("long"))
    )
    tot = cells.agg(
        F.sum("y").cast("long").alias("__n"),
        F.count_distinct("w").cast("long").alias("__v"),
    )
    j = sized.crossJoin(F.broadcast(tot))
    y = F.col("y").cast("double")
    y_rest = (F.col("y_w") - F.col("y")).cast("double")
    n_g = F.col("n_g").cast("double")
    n_rest = (F.col("__n") - F.col("n_g")).cast("double")
    v = F.col("__v").cast("double")
    ln_in = F.round(F.log((y + F.lit(1.0)) / (n_g - y + v)), 6)
    ln_out = F.round(F.log((y_rest + F.lit(1.0)) / (n_rest - y_rest + v)), 6)
    var = F.lit(1.0) / (y + F.lit(1.0)) + F.lit(1.0) / (y_rest + F.lit(1.0))
    scored = j.select(
        "g",
        "w",
        F.col("y").alias("n_in_group"),
        F.round((ln_in - ln_out) / F.sqrt(var), 6).alias("z_score"),
    )
    wr = Window.partitionBy("g").orderBy(F.desc("z_score"), F.asc("w"))
    return (
        scored.withColumn("__r", F.row_number().over(wr))
        .where(F.col("__r") <= k)
        .select(
            F.col("g").alias(group_col),
            F.col("w").alias("word"),
            "n_in_group",
            "z_score",
        )
        .orderBy(F.asc(group_col), F.desc("z_score"), F.asc("word"))
    )


def zipf_fit(
    df: DataFrame,
    text_col: str,
    top_k: int = 1000,
) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary head: OLS of
    ln(freq) on ln(rank) for the ``top_k`` most frequent words —
    natural text runs near slope -1 (Zipf 1949); a much flatter slope
    signals templated/boilerplate-heavy text, a much steeper one a
    degenerate vocabulary — a one-number corpus-health diagnostic next
    to the diversity and repetition gates.

    Head-only by design: the fit uses the top-k words via a TakeOrdered
    k-heap (count desc, word asc tiebreak) — never a global sort, and
    the tail (where Zipf breaks down anyway) never enters. Determinism:
    each of the two lns per point is rounded to 6dp, every OLS
    sufficient statistic is a 6dp-rounded term summed in DECIMAL(27,6)
    (the bigram-logprob pattern — order-free reduction), and the
    closed-form slope/intercept are fixed IEEE sequences on those
    exact sums, 6dp.

    Returns ONE row: (n_points, slope, intercept).
    """
    from pyspark.sql import Window

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    counts = (
        df.select(F.explode(toks).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    head = counts.orderBy(F.col("c").desc(), F.col("w").asc()).limit(top_k)
    wr = Window.orderBy(F.col("c").desc(), F.col("w").asc())
    pts = head.withColumn("r", F.row_number().over(wr)).select(
        F.round(F.log(F.col("r").cast("double")), 6).alias("lr"),
        F.round(F.log(F.col("c").cast("double")), 6).alias("lf"),
    )
    d6 = lambda c: F.round(c, 6).cast("decimal(27,6)")  # noqa: E731
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d6(F.col("lr"))).alias("sx"),
        F.sum(d6(F.col("lf"))).alias("sy"),
        F.sum(d6(F.col("lr") * F.col("lf"))).alias("sxy"),
        F.sum(d6(F.col("lr") * F.col("lr"))).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    # A one-distinct-word corpus puts every point at rank 1: the OLS
    # denominator is exactly 0 (undefined slope) — NULL, matching SQL
    # division semantics, never an ANSI DIVIDE_BY_ZERO.
    denom = n * sxx - sx * sx
    slope = F.when(denom != 0, (n * sxy - sx * sy) / denom)
    return m.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


def readability_scores(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Flesch-Kincaid-style readability features per document — a
    standard corpus-filtering signal (too-low grade = fragmentary
    text, too-high = OCR noise / run-on boilerplate): words, sentences
    (terminator runs), syllable proxy (vowel groups per word — the
    classic dictionary-free approximation), and the FK grade
    0.39*(words/sentences) + 11.8*(syllables/words) - 15.59.

    Everything is Catalyst regexp counting — one map-side pass, no
    shuffle, RATIONAL arithmetic only (counts and two divisions;
    no transcendental calls at all), rounded 6dp. Empty/degenerate
    docs emit NULL grade rather than dividing by zero.

    Returns (id, n_words, n_sentences, n_syllables, fk_grade).
    """
    t = F.trim(F.lower(F.col(text_col)))
    n_words = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != ""))
    # Sentence terminators: runs of .!? count once; a text without any
    # terminator counts as one sentence if it has words.
    n_term = F.regexp_count(t, F.lit(r"[.!?]+"))
    n_sentences = F.when(n_words > 0, F.greatest(n_term, F.lit(1)))
    # Syllable proxy: vowel GROUPS (aeiouy runs) across the text's
    # words; every word contributes at least ~1 group in latin script.
    n_syll = F.regexp_count(t, F.lit(r"[aeiouy]+"))
    grade = F.when(
        (n_words > 0) & (n_syll > 0),
        F.round(
            F.lit(0.39) * (n_words.cast("double") / n_sentences.cast("double"))
            + F.lit(11.8) * (n_syll.cast("double") / n_words.cast("double"))
            - F.lit(15.59),
            6,
        ),
    )
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_sentences.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
        grade.alias("fk_grade"),
    )


def unigram_jsd_to_corpus(
    df: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Per-group Jensen-Shannon divergence (in bits) between the
    group's unigram distribution and the WHOLE-corpus distribution —
    the mixture-design number a data-curation pipeline reads next to
    distinctive_terms_log_odds: log-odds names WHICH words set a
    source apart, JSD says HOW FAR the source as a whole sits from
    the corpus mixture (0 = indistinguishable, 1 bit = disjoint).
    Symmetric, bounded, and defined even for non-overlapping
    vocabularies — the reason it beats KL for corpus comparison.

    JSD(P||Q) = (KL(P||M) + KL(Q||M))/2 with M = (P+Q)/2, over the
    corpus vocabulary with add-one smoothing (a word absent from the
    group still contributes, as in the log-odds tier).

    Plan: one token explode + one map-side-combinable groupBy
    (group, word); the corpus distribution is a window sum over the
    CELL relation; the absent-word cells come from a vocab x group
    spine built from the SAME relation — the word relation probes a
    BROADCAST of the per-group totals (the build side is the
    source-bucket relation: a domain-bounded enumeration of mixture
    sources, same boundedness class as PSI's bin spine), so the
    spine is |vocab| x |buckets| rows with no rescan of the corpus.
    At 100 TB: one scan, one (group,word) shuffle, then
    small-relation arithmetic.

    Numerics: counts exact int64; p, q, m are fixed IEEE divides on
    exact integers; each row's two p*ln(p/m), q*ln(q/m) terms are
    individually rounded 6dp then DECIMAL(27,6)-summed (order-free);
    the final /(2*ln2) conversion to bits is a fixed sequence, 6dp.

    Returns (group, n_tokens, n_vocab, jsd_bits) ordered by group.
    """
    from pyspark.sql import Window

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    cells = (
        df.select(F.col(group_col).alias("g"), F.explode(toks).alias("w"))
        .where(F.col("w") != "")
        .groupBy("g", "w")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    from ..session import track_persist

    cells = track_persist(cells)
    words = cells.groupBy("w").agg(
        F.sum("y").cast("long").alias("y_all")
    )
    # The spine build side is the per-source-bucket totals — a
    # domain-bounded enumeration of mixture sources (the auditor's
    # bounded-key class), broadcast against the vocab probe side.
    buckets = (
        cells.withColumn("bucket", F.col("g"))
        .groupBy("bucket")
        .agg(F.sum("y").cast("long").alias("n_g"))
    )
    tot = cells.agg(
        F.sum("y").cast("long").alias("__n"),
        F.count_distinct("w").cast("long").alias("__v"),
    )
    spine = words.crossJoin(F.broadcast(buckets)).select(
        F.col("bucket").alias("g"), "n_g", "w", "y_all"
    )
    full = spine.join(cells, ["g", "w"], "left").select(
        "g",
        "n_g",
        "y_all",
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    j = full.crossJoin(F.broadcast(tot))
    p = (F.col("y").cast("double") + F.lit(1.0)) / (
        F.col("n_g").cast("double") + F.col("__v").cast("double")
    )
    q = (F.col("y_all").cast("double") + F.lit(1.0)) / (
        F.col("__n").cast("double") + F.col("__v").cast("double")
    )
    m = (p + q) / F.lit(2.0)
    tp = F.round(p * F.log(p / m), 6)
    tq = F.round(q * F.log(q / m), 6)
    agg = j.groupBy("g", "n_g").agg(
        F.max("__v").cast("long").alias("n_vocab"),
        F.sum(tp.cast("decimal(27,6)")).alias("__sp"),
        F.sum(tq.cast("decimal(27,6)")).alias("__sq"),
    )
    ln2x2 = 1.3862943611198906  # 2*ln(2), a literal on both engines
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n_g").alias("n_tokens"),
        "n_vocab",
        F.round(
            (F.col("__sp") + F.col("__sq")).cast("double") / F.lit(ln2x2),
            6,
        ).alias("jsd_bits"),
    ).orderBy(group_col)


def chao1_richness(df: DataFrame, text_col: str) -> DataFrame:
    """Chao1 vocabulary-richness estimate and Good-Turing unseen-mass
    over the corpus unigram frequency-of-frequencies — the corpus-
    health question vocab_coverage_curve cannot answer: the curve
    shows how fast NEW types arrive as tokens accumulate; Chao1
    estimates how many types EXIST, observed or not (Chao 1984:
    richness >= d + f1^2/(2*f2), driven by the singleton/doubleton
    ratio), and Good-Turing's f1/N is the probability the NEXT token
    is an unseen type — the held-out-surprise number an LM-data
    curator reads before declaring a corpus 'covered'.

    Bias-corrected Chao1 form d + f1*(f1-1)/(2*(f2+1)) stays defined
    at f2 = 0. Every input is an exact int64 (type count d, token
    count N, singleton f1, doubleton f2 — from one groupBy(word) and
    one 1-row rollup); each output is ONE double division on exact
    integers, 6dp. Plan: one token explode + word groupBy (the same
    shuffle every vocab query pays), then a combinable 1-row
    aggregate — scan-bound at any scale.

    Returns ONE row:
    (n_tokens, n_vocab, f1, f2, chao1, unseen_mass, coverage).
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    counts = (
        df.select(F.explode(toks).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = counts.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum((F.col("c") == 1).cast("int")).cast("long").alias("f1"),
        F.sum((F.col("c") == 2).cast("int")).cast("long").alias("f2"),
    )
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    unseen = f1 / F.col("n_tokens").cast("double")
    return m.select(
        "n_tokens",
        "n_vocab",
        "f1",
        "f2",
        F.round(
            F.col("n_vocab").cast("double")
            + f1 * (f1 - F.lit(1.0)) / (F.lit(2.0) * (f2 + F.lit(1.0))),
            6,
        ).alias("chao1"),
        F.round(unseen, 6).alias("unseen_mass"),
        F.round(F.lit(1.0) - unseen, 6).alias("coverage"),
    )


def word_burstiness_topk(
    df: DataFrame, id_col: str, text_col: str, k: int = 20
) -> DataFrame:
    """Church-Gale word burstiness for the corpus head: per word, the
    Fano factor (variance-to-mean ratio) of its per-document count
    ACROSS ALL DOCUMENTS — the corpus-linguistics diagnostic that
    separates function words (evenly spread, Fano ~ 1, Poisson-like)
    from topical/bursty words (a few documents use them heavily,
    Fano >> 1) and near-boilerplate tokens injected once per doc
    (Fano < 1). The per-word companion to doc_repetition_stats:
    repetition reads within-doc clumping, burstiness reads
    across-doc clumping — both feed template/boilerplate detection.

    Exact closed form over zeros: with D total docs, T = sum of the
    word's per-doc counts and Q = sum of squares (docs without the
    word contribute 0 to both), population var/mean =
    (D*Q - T^2)/(D*T) — ONE double division of exact
    DECIMAL(38,0)/HUGEINT integers (T^2 passes int64 near 1e10
    occurrences), no densifying doc-spine join needed. Top-k by
    total count (word-asc tiebreak) via a TakeOrdered heap — never a
    global sort.

    Returns (word, total_cnt, doc_freq, fano) ordered
    (total_cnt desc, word asc), k rows.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    per_doc = (
        df.select(F.col(id_col).alias("__id"), F.explode(toks).alias("w"))
        .where(F.col("w") != "")
        .groupBy("__id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    words = per_doc.groupBy("w").agg(
        F.sum("c").cast("long").alias("total_cnt"),
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
        F.sum(dec(F.col("c")) * dec(F.col("c"))).alias("__q"),
    )
    ndocs = df.agg(F.count(F.lit(1)).cast("long").alias("__d"))
    j = words.crossJoin(F.broadcast(ndocs))
    fano = (
        dec(F.col("__d")) * F.col("__q")
        - dec(F.col("total_cnt")) * dec(F.col("total_cnt"))
    ).cast("double") / (
        dec(F.col("__d")) * dec(F.col("total_cnt"))
    ).cast("double")
    return (
        j.select(
            F.col("w").alias("word"),
            "total_cnt",
            "doc_freq",
            F.round(fano, 6).alias("fano"),
        )
        .orderBy(F.desc("total_cnt"), F.asc("word"))
        .limit(k)
    )


def doc_length_moments(df: DataFrame, len_col: str) -> DataFrame:
    """Four-moment profile of the document-length distribution: mean,
    standard deviation, skewness, excess kurtosis — the shape audit
    behind every length-based quality gate: a right-skew/heavy-tail
    (log-normal-ish) profile is what natural corpora look like;
    near-zero skew suggests truncation or templating, extreme
    kurtosis a contamination spike at one length. Complements
    token_count_histogram: the histogram shows the shape, the
    standardized moments put one comparable number on it.

    Exact sufficient statistics: S1..S4 over the integer length
    column in DECIMAL(38,0) (len^4 ~ 1e16 per doc — the sum passes
    int64 immediately, which is the point); the standardized moments
    are then a FIXED, documented IEEE sequence on the exact sums
    (m = s1/n; m2 = s2/n - m*m; m3 = s3/n - 3*m*(s2/n) + 2*m*m*m;
    m4 = s4/n - 4*m*(s3/n) + 6*m*m*(s2/n) - 3*m*m*m*m;
    skew = m3/(m2*sqrt(m2)); kurt = m4/(m2*m2) - 3) — sqrt is
    IEEE-correctly-rounded (no pow(), which isn't), so both engines
    replay bit-identically. Zero-variance input yields NULLs.

    One scan, one 1-row combinable aggregate. Returns ONE row:
    (n_docs, mean_len, sd_len, skewness, excess_kurtosis).
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    x = F.col(len_col).cast("long")
    m = df.where(x.isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(x).cast("long").alias("s1"),
        F.sum(dec(x) * dec(x)).alias("s2"),
        F.sum(dec(x) * dec(x) * dec(x)).alias("s3"),
        F.sum(dec(x) * dec(x) * dec(x) * dec(x)).alias("s4"),
    )
    n = F.col("n_docs").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    s4 = F.col("s4").cast("double")
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - F.lit(3.0) * mean * (s2 / n) + F.lit(2.0) * mean * mean * mean
    m4 = (
        s4 / n
        - F.lit(4.0) * mean * (s3 / n)
        + F.lit(6.0) * mean * mean * (s2 / n)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    return m.select(
        "n_docs",
        F.round(mean, 6).alias("mean_len"),
        F.when(m2 > 0, F.round(F.sqrt(m2), 6)).alias("sd_len"),
        F.when(m2 > 0, F.round(m3 / (m2 * F.sqrt(m2)), 6)).alias(
            "skewness"
        ),
        F.when(m2 > 0, F.round(m4 / (m2 * m2) - F.lit(3.0), 6)).alias(
            "excess_kurtosis"
        ),
    )


def tfidf_doc_similarity_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    min_df: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """Top-k most similar document pairs by TF-IDF cosine over an
    inverted-index self-join — the lexical doc-doc similarity member
    the retrieval tier lacked: BM25 scores query-vs-docs, the dedup
    tier finds NEAR-COPIES (shingles/MinHash), TF-IDF cosine finds
    TOPICALLY similar pairs that share distinctive vocabulary
    without sharing n-grams — the relation a related-content or
    link-suggestion feature serves.

    Scale shape: the pair generation is the inverted-index join ON
    TERM (never all-pairs), with the df band [min_df, max_df] as the
    governing knob — hapax terms (df < min_df) cannot produce pairs,
    stop-terms (df > max_df) would quadratically blow the join and
    carry ~0 idf weight anyway (the same stop-shingle cap the
    n-gram-Jaccard tier measures; candidates ~ sum_t df_t^2 over the
    band). Weights w = round(tf*ln(N/df), 6) reuse the tfidf_top_terms
    formula; per-pair dot and per-doc norm terms are 6dp-rounded then
    DECIMAL(27,6)-summed (order-free); cosine is one division +
    sqrt's on exact decimal sums; top-k by (cos desc, pair asc) via
    a TakeOrdered heap. Norms use ALL banded terms of each doc, so
    the cosine is exact over the banded vocabulary by definition.

    Returns (doc_a, doc_b, n_shared_terms, cosine), k rows ordered
    (cosine desc, doc_a asc, doc_b asc).
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tf = (
        df.select(F.col(id_col).alias("__id"), F.explode(toks).alias("t"))
        .where(F.col("t") != "")
        .groupBy("__id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    from ..session import track_persist

    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    ndocs = df.agg(
        F.count_distinct(F.col(id_col)).cast("long").alias("__n")
    )
    banded = track_persist(
        tf.join(
            dfreq.where(
                (F.col("df") >= min_df) & (F.col("df") <= max_df)
            ),
            "t",
        )
        .crossJoin(F.broadcast(ndocs))
        .select(
            "__id",
            "t",
            F.round(
                F.col("tf").cast("double")
                * F.log(
                    F.col("__n").cast("double") / F.col("df").cast("double")
                ),
                6,
            ).alias("w"),
        )
    )
    dec6 = lambda c: c.cast("decimal(27,6)")  # noqa: E731
    norms = banded.groupBy("__id").agg(
        F.sqrt(
            F.sum(dec6(F.round(F.col("w") * F.col("w"), 6))).cast("double")
        ).alias("nrm")
    )
    a = banded.select(
        F.col("__id").alias("doc_a"), "t", F.col("w").alias("wa")
    )
    b = banded.select(
        F.col("__id").alias("doc_b"), "t", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "t")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_terms"),
            F.sum(
                dec6(F.round(F.col("wa") * F.col("wb"), 6))
            ).cast("double").alias("dot"),
        )
    )
    na = norms.select(
        F.col("__id").alias("doc_a"), F.col("nrm").alias("na")
    )
    nb = norms.select(
        F.col("__id").alias("doc_b"), F.col("nrm").alias("nb")
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_terms",
            F.when(
                (F.col("na") > 0) & (F.col("nb") > 0),
                F.round(
                    F.col("dot") / (F.col("na") * F.col("nb")), 6
                ),
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(k)
    )
