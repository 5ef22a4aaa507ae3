"""Text-analysis operators over a document corpus.

Beyond-reference extensions (SURVEY §7.6): token counting, quality
scoring, language guessing, and content fingerprinting, each a pure
DataFrame transformation built from JVM-side built-ins (no Python UDFs in
the hot path — everything stays inside whole-stage codegen and scales
linearly with no shuffle except where aggregation demands it).

All operators are deterministic and have exact DuckDB oracles (see
``wasaffi_spark.operators.catalog``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..udf_runtime import guard_zip_caches

TOKEN_PATTERN = r"\s+"


def tokens(text_col: str = "text", toks_col: str | None = None) -> Column:
    """Lower-cased whitespace tokens; ``toks_col`` names an existing
    pre-split array column to reuse (one regex split shared by every
    feature instead of one per feature — at corpus scale tokenization
    is the dominant per-row cost and Catalyst does not always CSE
    identical split() trees across independent withColumn chains)."""
    if toks_col is not None:
        return F.col(toks_col)
    return F.split(F.lower(F.col(text_col)), TOKEN_PATTERN)


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``n_tokens`` — whitespace token count (codegen-only)."""
    return df.withColumn("n_tokens", F.size(tokens(text_col)).cast("int"))


def with_quality(
    df: DataFrame, text_col: str = "text", toks_col: str | None = None
) -> DataFrame:
    """Adds quality features + a composite ``quality_score`` in [0,1].

    Components (all exact integer/length arithmetic, so the score is
    reproducible across engines):
      - n_tokens, space_ratio, avg_token_len
      - quality_score = 0.5*min(1, n_tokens/50) + 0.5*min(1, avg_token_len/8)
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    no_space = F.length(F.regexp_replace(text, r"\s", ""))
    n_tokens = F.size(tokens(text_col, toks_col))
    # try_divide: Spark 4 runs ANSI mode by default, where n/0 raises —
    # an empty document must yield NULL features (matching the SQL
    # oracle's NULL semantics), not kill the job.
    avg_tok = F.try_divide(no_space, n_tokens)
    score = (
        F.least(F.lit(1.0), n_tokens / F.lit(50.0)) * 0.5
        + F.least(F.lit(1.0), avg_tok / F.lit(8.0)) * 0.5
    )
    return (
        df.withColumn("n_tokens", n_tokens.cast("int"))
        .withColumn(
            "space_ratio", F.round(F.try_divide(n_chars - no_space, n_chars), 6)
        )
        .withColumn("avg_token_len", F.round(avg_tok, 6))
        .withColumn("quality_score", F.round(score, 6))
    )


# language marker words → guessed language; a transparent n-gram-free
# heuristic (real corpora would use char n-gram profiles; the operator
# shape — pure column expressions, no shuffle — is the point).
LANG_MARKERS = (("the", "en"), ("le", "fr"), ("der", "de"), ("el", "es"), ("的", "zh"))


def with_lang_guess(
    df: DataFrame, text_col: str = "text", toks_col: str | None = None
) -> DataFrame:
    toks = tokens(text_col, toks_col)
    expr: Column = F.lit("und")
    for marker, lang in reversed(LANG_MARKERS):
        expr = F.when(F.array_contains(toks, marker), lang).otherwise(expr)
    return df.withColumn("lang_guess", expr)


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks with lineage.

    The standard LLM-preprocessing shape: each chunk carries
    (doc_id, chunk_id, chunk_start) so provenance survives downstream
    dedup/embedding. Pure column expressions (sequence → transform →
    explode), no shuffle — embarrassingly parallel over input rows, and
    output size ∝ input tokens × (1 + overlap/(chunk−overlap)).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(text_col)
    df = df.withColumn("_toks", toks)
    n = F.size(F.col("_toks"))
    # last useful start: a chunk at s adds new content only while the
    # previous chunk did not already reach the end of the document,
    # i.e. s <= n - overlap - 1 — otherwise the tail chunk is a strict
    # suffix of its predecessor (pure duplicate downstream cost).
    starts = F.sequence(
        F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(step)
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / step).cast("int").alias("chunk_id"),
            s.alias("chunk_start"),
            F.concat_ws(" ", F.slice(F.col("_toks"), s + 1, chunk_tokens)).alias(
                "chunk_text"
            ),
        ),
    )
    return (
        df.withColumn("_c", F.explode(chunks))
        .select(
            F.col(id_col),
            F.col("_c.chunk_id").alias("chunk_id"),
            F.col("_c.chunk_start").cast("int").alias("chunk_start"),
            F.col("_c.chunk_text").alias("chunk_text"),
        )
        .where(F.col("chunk_text") != "")
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``fingerprint`` — md5 over the sorted distinct token set.

    Word-order-insensitive content fingerprint (the cheap cousin of a
    rolling-hash / winnowing fingerprint); identical texts and
    permutations collide, which is what near-dup blocking wants.
    """
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text_col))))
    return df.withColumn("fingerprint", F.md5(canon))


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "dedup_text",
    sep: str = "\n",
) -> DataFrame:
    """Intra-document repetition removal (Dolma-style paragraph dedup):
    keep only the FIRST occurrence of each line/paragraph within a
    document, preserving original order; adds ``out_col`` plus
    ``n_lines``/``n_unique_lines`` for repetition auditing.

    In-row only — split, first-occurrence filter, re-join — so the
    operator is embarrassingly parallel with no shuffle at any corpus
    size. The first-occurrence test is ``array_position(lines, x) == i``
    over a MATERIALIZED lines column (the HOF-lambda rule: an inline
    tree would re-evaluate the split per element); array_position is
    O(n) per element → O(n²) per doc in the worst case, fine for the
    ≤10⁴ paragraphs real documents have.
    """
    # \Q...\E: treat sep as a literal separator, not a regex (sep='.'
    # would otherwise split on every character)
    df = df.withColumn(
        "_dl_lines", F.split(F.col(text_col), F.lit("\\Q" + sep + "\\E"))
    )
    lines = F.col("_dl_lines")
    n = F.size(lines)
    kept = F.filter(
        lines, lambda x, i: F.array_position(lines, x) == i + F.lit(1)
    )
    return (
        df.withColumn(out_col, F.array_join(kept, sep))
        .withColumn("n_lines", n.cast("int"))
        .withColumn("n_unique_lines", F.size(F.array_distinct(lines)).cast("int"))
        .drop("_dl_lines")
    )


def corpus_freq_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id_col, ``avg_tok_freq``) — mean corpus-wide occurrence count of
    each document's tokens: the CCNet-style LM quality proxy with a
    unigram "model" trained on the corpus itself (docs dominated by
    rare/garbage tokens score low; docs of common words score high).

    Determinism: the score is an exact integer sum / integer count with
    ONE double division at the end — no float summation order anywhere —
    so Spark and the SQL oracle agree bit-for-bit. (A log-probability
    variant would sum doubles in shuffle order; that is why the proxy
    uses raw counts.)

    Scale: the corpus unigram table is a groupBy(token) aggregate
    (map-side partial); the score join is a plain equi-join on token —
    AQE broadcasts the vocabulary when it fits and shuffle-hash-joins
    when it doesn't (never an unconditional broadcast of an O(vocab)
    side). One further groupBy(doc) for the mean.
    """
    tok = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        .where(F.col("tok") != "")
    )
    freq = tok.groupBy("tok").agg(F.count("*").alias("freq"))
    return (
        tok.join(freq, "tok")
        .groupBy(id_col)
        .agg(F.round(F.avg("freq"), 6).alias("avg_tok_freq"))
    )


# PII patterns shared with the DuckDB oracle (catalog) — ASCII classes
# only, so Java regex (Spark) and RE2 (DuckDB) agree byte-for-byte.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
PHONE_RE = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"


def with_repetition(
    df: DataFrame, text_col: str = "text", toks_col: str | None = None
) -> DataFrame:
    """Adds Gopher-style repetition features, entirely shuffle-free:

    - ``dup_word_frac``: fraction of tokens that are repeats of an
      earlier token (``1 - distinct/total``) — the word-level analogue
      of Gopher's duplicate-line fraction.
    - ``top_bigram_frac``: occurrences of the most frequent word bigram
      over total bigrams (Gopher rule: drop when the top 2-gram covers
      too much of the document).

    The bigram mode is found WITHOUT an explode + groupBy shuffle: sort
    the bigram array in-row, find the run boundaries (positions where
    the sorted value changes), and take the max gap between consecutive
    boundaries — O(n log n) per row, so the operator stays
    embarrassingly parallel at any corpus size and document length (a
    100 k-token doc costs one in-row sort, not a corpus-wide shuffle of
    exploded grams). NULL (not 0) on documents too short to have
    bigrams, matching SQL division semantics.

    The sorted array and the boundary array are MATERIALIZED as interim
    columns (``_rep_sorted``/``_rep_bounds``) on purpose: referencing an
    inline expression tree from a lambda re-evaluates the whole tree per
    element (measured 200× slower — O(n² log n)); a column reference
    makes ``element_at`` O(1).
    """
    toks = tokens(text_col, toks_col)
    n_toks = F.size(toks)
    dup_frac = F.round(
        F.lit(1.0) - F.try_divide(F.size(F.array_distinct(toks)), n_toks), 6
    )
    starts = F.sequence(F.lit(1), n_toks - 1)
    bigrams = F.when(
        n_toks >= 2,
        F.transform(starts, lambda s: F.concat_ws(" ", F.slice(toks, s, 2))),
    ).otherwise(F.array().cast("array<string>"))
    df = df.withColumn("_rep_sorted", F.array_sort(bigrams))
    s = F.col("_rep_sorted")
    n = F.size(s)
    # n == 0 must short-circuit: sequence(1, 0) counts DOWN to [1, 0]
    # and element_at(s, 0) raises under ANSI semantics.
    df = df.withColumn(
        "_rep_bounds",
        F.when(
            n >= 1,
            F.filter(
                F.sequence(F.lit(1), n),
                lambda i: (i == 1)
                | (F.element_at(s, i) != F.element_at(s, i - 1)),
            ),
        ).otherwise(F.array().cast("array<integer>")),
    )
    b = F.col("_rep_bounds")
    ends = F.concat(F.slice(b, 2, F.greatest(F.size(b) - 1, F.lit(0))), F.array(n + 1))
    top_count = F.when(
        n >= 1, F.array_max(F.zip_with(ends, b, lambda e, s0: e - s0))
    ).otherwise(F.lit(None).cast("int"))
    top_frac = F.round(F.try_divide(top_count, n), 6)
    return (
        df.withColumn("dup_word_frac", dup_frac)
        .withColumn("top_bigram_frac", top_frac)
        .drop("_rep_sorted", "_rep_bounds")
    )


def with_pii_redaction(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds PII scrub columns — the data-cleaning pass every training
    corpus needs before release: ``n_emails``/``n_urls``/``n_phones``
    occurrence counts and ``clean_text`` with each class replaced by a
    typed placeholder. Pure codegen column expressions (regexp_count +
    chained regexp_replace), embarrassingly parallel, no shuffle.

    Order matters: URLs are redacted before phone numbers so digit runs
    inside URLs don't double-match; emails first since they are the
    most specific pattern. The counts follow the SAME precedence — each
    class is counted on the text with the earlier classes already
    redacted — so ``n_*`` equals the number of placeholders actually
    inserted (counting on the raw text would report a phone "match"
    inside a URL that the redaction never touches).
    """
    t = F.col(text_col)
    after_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    after_url = F.regexp_replace(after_email, URL_RE, "<URL>")
    clean = F.regexp_replace(after_url, PHONE_RE, "<PHONE>")
    return (
        df.withColumn("n_emails", F.regexp_count(t, F.lit(EMAIL_RE)).cast("bigint"))
        .withColumn(
            "n_urls", F.regexp_count(after_email, F.lit(URL_RE)).cast("bigint")
        )
        .withColumn(
            "n_phones", F.regexp_count(after_url, F.lit(PHONE_RE)).cast("bigint")
        )
        .withColumn("clean_text", clean)
    )


def pack_streams(
    df: DataFrame,
    budget_tokens: int,
    stream_col: str = "lang",
    order_col: str = "doc_id",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    deterministic ``order_col`` order within each ``stream_col`` stream,
    and the token stream is cut every ``budget_tokens`` — the classic
    LLM pretraining packing layout (a doc may straddle two bins; bins
    are full by construction). Adds ``stream_offset`` (tokens before
    this doc in its stream) and ``pack_bin`` (the bin its first token
    lands in).

    Scale: one window per stream key — parallelism equals the number of
    streams, which is the point: packing is inherently sequential WITHIN
    a stream, so the stream key (language, shard id, source bucket) is
    the scale knob. At 100 TB use a composite key like (lang, shard)
    with shard = pmod(hash(doc_id), n_shards) to bound per-stream
    volume; ordering stays deterministic per stream.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(stream_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_col).over(w)
    offset = (cum - F.col(token_col)).cast("bigint")
    return df.withColumn("stream_offset", offset).withColumn(
        "pack_bin", F.floor(offset / F.lit(budget_tokens)).cast("bigint")
    )


# A linear text classifier is a (token → weight) table plus a bias: the
# fastText / logistic-regression family used industrially to score
# document quality at corpus scale. The MODEL is data, not code — so
# applying it is a broadcast join, and swapping models never changes the
# plan. Default toy model: fluent-English function words vote up,
# engagement-bait vocabulary votes down.
DEFAULT_QUALITY_WEIGHTS: tuple[tuple[str, float], ...] = (
    ("the", 0.9), ("and", 0.7), ("of", 0.6), ("to", 0.5), ("with", 0.5),
    ("however", 1.2), ("therefore", 1.2), ("because", 1.0),
    ("analysis", 0.8), ("research", 0.8), ("study", 0.6), ("data", 0.5),
    ("click", -1.5), ("subscribe", -1.5), ("buy", -1.2), ("free", -1.0),
    ("winner", -1.3), ("prize", -1.3), ("casino", -2.0), ("viagra", -2.5),
)


def linear_text_score(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bias: float = 0.0,
) -> DataFrame:
    """Apply a linear bag-of-words classifier: mean token weight
    (out-of-vocabulary tokens contribute 0, fastText-style averaging)
    through a sigmoid → ``lin_score`` in (0,1), plus the raw logit.

    ``weights`` has columns (tok, w). Scale: the model is KB–MB sized
    regardless of corpus size → explicit broadcast is safe and correct
    (unlike a vocabulary-statistics frame); the only shuffle is the
    per-document sum. Explode + join + aggregate all stay in codegen.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    ).where(F.col("tok") != "")
    per_doc = (
        toks.join(F.broadcast(weights), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("w"), F.lit(0.0))).alias("w_sum"),
            F.count(F.lit(1)).alias("n_tok"),
        )
    )
    logit = F.lit(bias) + F.col("w_sum") / F.col("n_tok")
    return per_doc.select(
        F.col(id_col),
        F.round(logit, 6).alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("lin_score"),
    )


# Gopher-style composite filter thresholds (Rae et al. 2021 shapes; the
# exact numbers are corpus-tunable parameters, not constants of nature).
GOPHER_DEFAULTS = {
    "min_tokens": 8,
    "max_tokens": 100_000,
    "min_avg_token_len": 2.0,
    "max_avg_token_len": 12.0,
    "max_space_ratio": 0.5,
    "max_dup_word_frac": 0.3,
    "max_top_bigram_frac": 0.18,
}


def gopher_filter(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    **thresholds: float,
) -> DataFrame:
    """Composite rule-based document filter (Gopher §A1.1 family): every
    rule evaluated per document, ``drop_reasons`` = comma-joined names of
    the rules that fired (deterministic order), ``keep`` = none fired.

    Keeping the *reasons* (not just a boolean) is the production shape —
    corpus curation iterates on per-rule firing rates, so the filter must
    report which rule killed a document. All features come from
    :func:`with_quality` / :func:`with_repetition` (shared ``_toks``
    split, in-row expressions, zero shuffles); a rule whose feature is
    NULL (e.g. ``top_bigram_frac`` on a one-token doc) does not fire, in
    both Spark and the SQL oracle (CASE-on-NULL → skipped by concat_ws).
    """
    th = {**GOPHER_DEFAULTS, **thresholds}
    docs = df.withColumn("_toks", tokens(text_col))
    docs = with_quality(docs, text_col, toks_col="_toks")
    docs = with_repetition(docs, text_col, toks_col="_toks")
    rules = (
        # NULL text first: every feature below is NULL for it, so no
        # other rule can fire — without this floor a document with no
        # text at all would sail through the gate as keep=true.
        ("null_text", F.col(text_col).isNull()),
        ("too_few_tokens", F.col("n_tokens") < th["min_tokens"]),
        ("too_many_tokens", F.col("n_tokens") > th["max_tokens"]),
        (
            "bad_avg_token_len",
            (F.col("avg_token_len") < th["min_avg_token_len"])
            | (F.col("avg_token_len") > th["max_avg_token_len"]),
        ),
        ("high_space_ratio", F.col("space_ratio") > th["max_space_ratio"]),
        ("dup_words", F.col("dup_word_frac") > th["max_dup_word_frac"]),
        ("top_bigram", F.col("top_bigram_frac") > th["max_top_bigram_frac"]),
    )
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in rules]
    )
    return docs.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("space_ratio"),
        F.col("avg_token_len"),
        F.col("dup_word_frac"),
        F.col("top_bigram_frac"),
        reasons.alias("drop_reasons"),
        (reasons == "").alias("keep"),
    )


# Char-trigram language profiles (lang, trigram, weight). Weights are
# INTEGERS on purpose: per-document scores are integer sums, so Spark
# and the SQL oracle agree exactly (double sums would be shuffle-order
# sensitive). A real deployment swaps in profiles trained on labeled
# text — the operator shape (model-as-data broadcast join) is identical.
DEFAULT_LANG_PROFILES: tuple[tuple[str, str, int], ...] = (
    ("en", "the", 20), ("en", " th", 15), ("en", "ing", 12),
    ("en", "and", 12), ("en", " of", 10), ("en", "ed ", 8),
    ("fr", "le ", 15), ("fr", " de", 14), ("fr", "ion", 10),
    ("fr", "eau", 12), ("fr", "que", 8), ("fr", "les", 10),
    ("de", "der", 16), ("de", "sch", 16), ("de", "ein", 13),
    ("de", "ich", 13), ("de", "und", 15), ("de", "die", 12),
    ("es", "el ", 13), ("es", " la", 12), ("es", "los", 12),
    ("es", "ión", 12), ("es", "ado", 10), ("es", " es", 10),
)


def ngram_lang_id(
    df: DataFrame,
    profiles: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Char-trigram language identification — the n-gram upgrade of the
    marker-word :func:`with_lang_guess`. Every overlapping character
    trigram votes with its profile weight; the language with the highest
    integer score wins (ties break lexicographically); documents
    matching no profile trigram get ``und``.

    Output: ``(id_col, lang_pred, lang_score)``.

    Scale: trigram extraction is in-row (materialized lowered column —
    the HOF-lambda rule); the profile table is KB-sized at any corpus
    size → explicit broadcast is safe by construction; one
    groupBy(doc, lang) + an argmax window over ≤ |langs| rows per doc.
    """
    if profiles is None:
        profiles = df.sparkSession.createDataFrame(
            list(DEFAULT_LANG_PROFILES), "plang string, gram string, w int"
        )
    from pyspark.sql.window import Window

    d = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("_lt"))
    t = F.col("_lt")
    starts = F.when(
        F.length(t) >= 3, F.sequence(F.lit(1), F.length(t) - 2)
    ).otherwise(F.array().cast("array<integer>"))
    grams = d.select(
        F.col(id_col),
        F.explode(F.transform(starts, lambda s: t.substr(s, F.lit(3)))).alias(
            "gram"
        ),
    )
    scores = (
        grams.join(F.broadcast(profiles), "gram")
        .groupBy(id_col, "plang")
        .agg(F.sum("w").cast("bigint").alias("score"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("plang"))
    winners = (
        scores.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            F.col(id_col),
            F.col("plang").alias("lang_pred"),
            F.col("score").alias("lang_score"),
        )
    )
    return (
        df.select(id_col)
        .join(winners, id_col, "left")
        .select(
            id_col,
            F.coalesce("lang_pred", F.lit("und")).alias("lang_pred"),
            F.coalesce("lang_score", F.lit(0)).cast("bigint").alias("lang_score"),
        )
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Inverted-index construction — the classic distributed text-index
    build: one row per token with its document frequency, total
    frequency, and a scalarized postings list
    ``"doc:pos1|pos2;doc:pos"`` (docs ascending, 1-based positions in
    the whitespace-split token array, empties excluded but holding
    their position).

    Two shuffles: ``(token, doc)`` for per-document position lists,
    then ``token`` for the merge — the exact map/reduce shape search
    engines shard by term. Scale notes: ``min_df`` prunes the hapax
    tail (typically >40 % of vocabulary); stopword-class tokens produce
    postings strings proportional to corpus size, so a production build
    shards hot terms by (term, doc-range) before the final merge — at
    that point the posting payload should also move from a display
    string to ``array<struct<doc,positions>>``.
    """
    exploded = df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("_p0", "tok"),
    ).where(F.col("tok") != "")
    per_doc = (
        exploded.groupBy("tok", id_col)
        .agg(
            F.count("*").alias("_tf"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.col("_p0") + 1)),
                    lambda p: p.cast("string"),
                ),
                "|",
            ).alias("_plist"),
        )
    )
    entry = F.struct(
        F.col(id_col),
        F.concat_ws(":", F.col(id_col).cast("string"), F.col("_plist")).alias(
            "_e"
        ),
    )
    return (
        per_doc.groupBy("tok")
        .agg(
            F.count("*").alias("doc_freq"),
            F.sum("_tf").alias("total_freq"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(entry)), lambda s: s["_e"]
                ),
                ";",
            ).alias("postings"),
        )
        .where(F.col("doc_freq") >= min_df)
    )


def pmi_bigrams(
    df: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Collocation extraction: pointwise mutual information over
    adjacent token bigrams, ``pmi = ln(P(w1,w2) / (P(w1)·P(w2)))`` with
    ``P(w1,w2) = c12/N_bigrams`` and ``P(w) = c(w)/N_unigrams``.
    Returns ``(w1, w2, pair_count, pmi)`` for pairs seen at least
    ``min_count`` times.

    The ratio is evaluated as ONE double expression
    ``(c12·Nu·Nu)/(Nb·c1·c2)`` (not a sum of logs) so engines agree
    bit-for-bit before the defensive round; numerators stay in doubles
    to dodge bigint overflow at corpus scale.

    Scale: two counting shuffles (bigrams, unigrams) with map-side
    combine; the unigram join is plain equi-join on the token — O(vocab)
    build side, so it is left to AQE rather than broadcast-hinted (the
    tfidf lesson); corpus totals ride along as a 1-row cross join inside
    the same plan (no driver-side count()).
    """
    toks = df.select(tokens(text_col).alias("_t"))
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    n = F.size(F.col("_t"))
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("_t"), 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
                F.slice(F.col("_t"), 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    big = (
        pairs.where((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_count"))
    )
    totals = uni.agg(F.sum("c").alias("nu")).crossJoin(
        big.agg(F.sum("pair_count").alias("nb"))
    )
    c1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    ratio = (
        F.col("pair_count").cast("double")
        * F.col("nu").cast("double")
        * F.col("nu").cast("double")
    ) / (
        F.col("nb").cast("double")
        * F.col("c1").cast("double")
        * F.col("c2").cast("double")
    )
    return (
        big.where(F.col("pair_count") >= min_count)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "pair_count",
            F.round(F.log(ratio), 6).alias("pmi"),
        )
    )


def novelty_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Corpus-novelty score per document: the fraction of the doc's
    DISTINCT k-word shingles that occur in no other document
    (document-frequency 1). High score = novel content; low score =
    boilerplate/templated text shared across the corpus — the inverse
    signal of near-dedup, usable as a quality weight or a memorization
    guard for eval-adjacent text.

    Integer-exact by construction (counts and one final division of two
    integers, rounded at 6dp — identical in both engines), unlike
    log-probability LM scores whose float summation is order-sensitive.

    Returns ``(id_col, n_shingles, n_novel, novelty)``; docs shorter
    than ``k`` words have zero shingles and a NULL score.

    Scale: reuses the dedup shingle fan-out (:func:`dedup.word_shingles`
    — pre-repartitioned, md5-free here); one groupBy per shingle for
    document frequency (map-side partials), one join back on shingle
    (AQE decides the strategy; the df side is vocabulary-sized — never
    broadcast-hinted, same rule as tfidf), one groupBy per doc.
    """
    from . import dedup

    sh = (
        dedup.word_shingles(docs.select(id_col, text_col), text_col, k)
        .select(id_col, "shingle")
        .distinct()
    )
    df_counts = sh.groupBy("shingle").agg(
        F.count("*").alias("_df")
    )
    return (
        sh.join(df_counts, "shingle")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).cast("bigint").alias(
                "n_novel"
            ),
        )
        .join(docs.select(id_col), id_col, "right")
        .select(
            id_col,
            F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty"),
        )
    )


def lm_score(
    train: DataFrame,
    score: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: int = 1,
    min_count: int = 1,
) -> DataFrame:
    """Bigram language-model scoring — the KenLM/CCNet-family quality
    signal: train add-alpha-smoothed bigram probabilities on ``train``,
    score each ``score`` document (default: the training corpus itself,
    the memorization/perplexity-bucketing setup) by its mean token
    log-probability.

    ``P(w2|w1) = (C(w1,w2) + alpha) / (C(w1) + alpha * V)`` with V the
    training vocabulary size; unseen bigrams/contexts fall back to the
    smoothing floor via left joins (so held-out corpora score without
    error). Per-bigram ``ln P`` contributions are summed as integer
    micro-units (bigint), so per-document totals are exact and
    order-independent — fully hash-checkable cross-engine.

    Output: (id, n_bigrams, logprob_micro, avg_logprob) — higher (less
    negative) avg_logprob = more in-distribution text. Micro-units are
    1e6-scaled (not 1e9): ``ln`` may differ by 1 ulp between the JVM and
    the oracle engine, and the coarser scale keeps that ulp away from
    the floor boundary.

    100 TB posture: the bigram/unigram count tables are corpus-derived
    aggregates (two shuffles over exploded bigrams); scoring is two
    equi-joins the optimizer sizes (count tables are O(observed vocab²)
    — prune the tail with ``min_count``; pruned bigrams score as unseen,
    exactly how production LMs cap their n-gram tables). The scored
    corpus shuffles once on the bigram join key.
    """
    if score is None:
        score = train

    def bigrams(df: DataFrame) -> DataFrame:
        arr = F.filter(tokens(text_col), lambda t: t != "")
        return (
            df.select(F.col(id_col), arr.alias("_w"))
            .where(F.size("_w") >= 2)
            .select(
                id_col,
                F.explode(
                    F.arrays_zip(
                        F.slice("_w", 1, F.size("_w") - 1).alias("w1"),
                        F.slice("_w", 2, F.size("_w") - 1).alias("w2"),
                    )
                ).alias("_bg"),
            )
            .select(id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
        )

    tr = bigrams(train)
    big = tr.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    if min_count > 1:
        big = big.where(F.col("c12") >= min_count)
    uni = (
        train.select(F.explode(F.filter(tokens(text_col), lambda t: t != "")).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    vocab = uni.agg(F.count("*").alias("v"))

    sc = bigrams(score)
    joined = (
        sc.join(big, ["w1", "w2"], "left")
        .join(uni, "w1", "left")
        .crossJoin(F.broadcast(vocab))
    )
    p = (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(alpha)) / (
        F.coalesce(F.col("c1"), F.lit(0)) + F.lit(alpha) * F.col("v")
    )
    micro = F.floor(F.log(p) * F.lit(1_000_000) + F.lit(0.5)).cast("bigint")
    per_doc = joined.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.sum(micro).alias("logprob_micro"),
    )
    return (
        per_doc.join(score.select(id_col), id_col, "right")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.coalesce(F.col("logprob_micro"), F.lit(0)).alias("logprob_micro"),
            F.round(
                F.col("logprob_micro") / F.col("n_bigrams") / 1_000_000, 6
            ).alias("avg_logprob"),
        )
    )


def boilerplate_lines(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_frac: float = 0.05,
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Per-domain boilerplate line table (RefinedWeb/C4's template
    removal shape): a line is boilerplate in a domain when it appears in
    at least ``min_docs`` documents AND at least ``min_frac`` of the
    domain's documents — navigation bars, cookie banners, footers.
    Returns ``(domain_col, line, df_docs, n_docs_domain)``.

    Scale: one (doc, domain, line)-distinct + one groupBy(domain, line)
    — both carry line-sized rows ∝ corpus lines; the per-domain doc
    count is an O(domains) aggregate joined back (AQE broadcasts it).
    Blank lines never qualify.
    """
    lines = df.select(
        F.col(domain_col),
        F.col(id_col),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\\Q" + sep + "\\E")
        ).alias("_raw"),
    ).select(
        domain_col, id_col, F.trim(F.col("_raw")).alias("line")
    ).where(F.col("line") != "").distinct()
    cnt = lines.groupBy(domain_col, "line").agg(
        F.count("*").alias("df_docs")
    )
    nd = df.groupBy(domain_col).agg(
        F.count_distinct(F.col(id_col)).alias("n_docs_domain")
    )
    return (
        cnt.join(nd, domain_col)
        .where(
            (F.col("df_docs") >= min_docs)
            & (F.col("df_docs") >= F.lit(min_frac) * F.col("n_docs_domain"))
        )
        .select(domain_col, "line", "df_docs", "n_docs_domain")
    )


def strip_boilerplate(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_frac: float = 0.05,
    min_docs: int = 2,
    sep: str = "\n",
    out_col: str = "clean_text",
) -> DataFrame:
    """Remove each domain's boilerplate lines from its documents,
    preserving line order. Returns ``(id_col, domain_col, out_col,
    n_lines, n_boiler)``.

    The boilerplate table is O(domains × templates) — the join against
    exploded doc lines is an equi-join on (domain, line) that AQE
    broadcasts when small; reassembly is the shared sorted-collect
    pattern (one groupBy(id) shuffle). Two corpus-line-sized shuffles
    total, independent of corpus size multipliers.
    """
    bp = boilerplate_lines(
        df, domain_col, text_col, id_col, min_frac, min_docs, sep
    ).select(domain_col, F.col("line").alias("_bl"), F.lit(True).alias("_isbp"))
    pl = df.select(
        F.col(id_col),
        F.col(domain_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\\Q" + sep + "\\E")
        ).alias("pos", "line"),
    )
    flagged = pl.join(
        bp,
        (pl[domain_col] == bp[domain_col])
        & (F.trim(pl["line"]) == bp["_bl"]),
        "left",
    ).select(
        pl[id_col].alias(id_col),
        pl[domain_col].alias(domain_col),
        "pos",
        "line",
        F.coalesce(F.col("_isbp"), F.lit(False)).alias("_isbp"),
    )
    agg = flagged.groupBy(id_col).agg(
        F.first(domain_col).alias(domain_col),
        F.array_sort(
            F.collect_list(F.struct("pos", "line", "_isbp"))
        ).alias("_ls"),
        F.count("*").alias("n_lines"),
        F.sum(F.col("_isbp").cast("int")).alias("n_boiler"),
    )
    kept = F.array_join(
        F.transform(
            F.filter(F.col("_ls"), lambda s: ~s["_isbp"]),
            lambda s: s["line"],
        ),
        sep,
    )
    return agg.select(
        F.col(id_col),
        F.col(domain_col),
        kept.alias(out_col),
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_boiler").cast("int").alias("n_boiler"),
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compressibility — the RedPajama/Gopher-family
    quality signal SQL can't express: highly repetitive or templated
    text compresses far below natural prose, and near-random strings
    don't compress at all, so ``ratio = compressed/raw`` separates
    boilerplate (low) from prose (mid) from noise (high ≈ 1).

    This is a REAL Python island, run the only acceptable way: an
    Arrow-batched ``mapInPandas`` over whole record batches (zlib is
    C-speed; the per-batch Python overhead amortizes), no shuffle,
    carrying only (id, sizes, ratio) out. zlib output is deterministic
    for a fixed level, so results are stable across runs and
    partitionings — pinned by pytest rather than a SQL oracle (DuckDB
    has no zlib; this is the documented rows-only class).

    Returns ``(id_col, raw_bytes, zlib_bytes, zlib_ratio)``.
    """
    import pandas as pd  # noqa: F401 (executor-side)

    out_schema = (
        f"{id_col} bigint, raw_bytes bigint, zlib_bytes bigint, "
        "zlib_ratio double"
    )

    guard = guard_zip_caches

    def batches(it):
        import zlib

        guard()
        for pdf in it:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            raw_n = raw.str.len()
            comp_n = raw.map(lambda b: len(zlib.compress(b, level)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_bytes": raw_n.astype("int64"),
                    "zlib_bytes": comp_n.astype("int64"),
                    "zlib_ratio": (
                        comp_n / raw_n.where(raw_n > 0)
                    ).round(6),
                }
            )

    return df.select(id_col, text_col).mapInPandas(batches, out_schema)


def length_percentile_filter(
    df: DataFrame,
    lower_pct: float = 0.05,
    upper_pct: float = 0.95,
    text_col: str = "text",
) -> DataFrame:
    """Adaptive length-outlier gate: keep documents whose token count
    falls inside the corpus's own [lower_pct, upper_pct] percentile
    band — the distribution-aware variant of Gopher's absolute
    min/max-token rule (absolute thresholds rot as the corpus mix
    shifts; percentile bands self-calibrate).

    Adds ``n_tokens``, ``len_pct`` (exact percent_rank of the token
    count) and ``len_keep``.

    Exact AND distributed (r5 — replacing the single-partition global
    window): ``percent_rank`` with ties is ``(#rows strictly below) /
    (N−1)``, so it only needs the per-VALUE cumulative counts — a
    ``groupBy(n_tokens)`` histogram (map-side combined, ≤ one row per
    distinct length regardless of corpus size) with a window over that
    SMALL value frame, broadcast-joined back. The corpus itself is
    never globally sorted. At 100 TB the same contract can also relax
    to ``approxQuantile`` thresholds; this variant is the exact/
    oracle-able one.
    """
    from pyspark.sql.window import Window

    toks = tokens(text_col)
    n = F.size(F.filter(toks, lambda x: x != F.lit("")))
    # NULL text tokenizes to NULL, and a NULL join key would silently
    # drop the row from an operator whose contract is "adds columns";
    # coalesce to 0 tokens, matching the oracle's coalesce(text, '').
    scored = df.withColumn("n_tokens", F.coalesce(n.cast("int"), F.lit(0)))
    counts = (
        scored.groupBy("n_tokens")
        .agg(F.count("*").alias("_c"))
        .localCheckpoint(eager=False)  # small: one row per distinct length
    )
    total = counts.agg(F.sum("_c")).collect()[0][0] or 0
    wv = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    vals = counts.withColumn("_below", F.sum("_c").over(wv) - F.col("_c"))
    denom = max(total - 1, 1)  # percent_rank of a 1-row frame is 0
    pct = F.round(F.col("_below").cast("double") / F.lit(denom), 6)
    return (
        scored.join(F.broadcast(vals), "n_tokens")
        .withColumn("len_pct", pct)
        .withColumn(
            "len_keep",
            (F.col("len_pct") >= lower_pct) & (F.col("len_pct") <= upper_pct),
        )
        .drop("_c", "_below")
    )
