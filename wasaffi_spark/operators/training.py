"""In-engine classifier training: batch-gradient-descent logistic
regression over hashed bag-of-ngrams features, as plain DataFrame ops.

Beyond-reference extension (SURVEY §7.6): the fastText/CCNet-style
quality classifiers the rest of the pipeline APPLIES
(``text.linear_text_score``, ``quality_buckets``) have to be trained
somewhere — at corpus scale that training is itself a data-parallel
job, and its inner loop is exactly the shape this engine is good at:
one broadcast join (the model) + two aggregations (score, gradient)
per iteration. Training in the engine removes the export-to-another-
system round-trip for the common "label a slice, fit, score the
corpus" loop (the Dolma/DataComp quality-filter workflow).

Determinism contract (what makes a TRAINING LOOP hash-oracle-able at
all): every cross-row float summation is quantized to integer
micro-units first —

- the model lives as BIGINT micro-weights (1e-6 units),
- per-doc scores are integer sums ``Σ w_micro·count``,
- per-doc errors quantize to micro-units before the gradient sum,
- the weight update rounds once per (bucket, iteration).

Integer sums are associative, so Spark's shuffle order and DuckDB's
single-threaded order produce bit-identical models; the only float ops
(sigmoid, one lr·grad/N division) consume already-deterministic
integers. The same trick the BM25/count-min operators use, applied to
an iterative optimizer.

Scale: per iteration — one broadcast hash join of the O(n_buckets)
model onto the feature frame, one groupBy(doc) integer sum, one
groupBy(bucket) integer sum (≤ n_buckets rows out). The feature frame
is built and persisted ONCE; iterations never re-tokenize. The single
driver-side scalar is N (doc count), fetched once up front —
documented, same class as grouped_median's sizing count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .importance import _feature_buckets

N_BUCKETS = 256
LEARNING_RATE = 0.5
ITERATIONS = 3
MICRO = 1_000_000


def train_linear_classifier(
    docs: DataFrame,
    label_col: str,
    n_buckets: int = N_BUCKETS,
    lr: float = LEARNING_RATE,
    iterations: int = ITERATIONS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fit logistic regression on hashed unigram+bigram counts.

    ``label_col`` must be 0/1 (int) and ``id_col`` must be unique per
    document: a repeated id fans out through the labels join and would
    inflate N, so it raises ``ValueError``. Returns the trained model
    as a ``(b, w_micro)`` frame — bucket −1 is the bias — ready to
    broadcast into a scoring join (:func:`score_with_model`).
    """
    spark = docs.sparkSession
    fb = _feature_buckets(docs, n_buckets, text_col, id_col)
    counts = fb.groupBy(id_col, "b").agg(F.count("*").alias("cnt"))
    bias_rows = docs.select(
        F.col(id_col), F.lit(-1).cast("bigint").alias("b"),
        F.lit(1).cast("bigint").alias("cnt"),
    )
    labels = docs.select(
        F.col(id_col), F.col(label_col).cast("int").alias("_y")
    )
    x = (
        counts.select(id_col, F.col("b").cast("bigint"), F.col("cnt").cast("bigint"))
        .unionByName(bias_rows)
        .join(labels, id_col)
        .persist()
    )
    # r14: materialize the persisted feature frame with the SAME job
    # that yields n_docs — the bias lane carries exactly one row per
    # document, so this count equals docs.count() by construction.
    # Previously the persist was still lazy when the collapsed train
    # job referenced x six times (2 per iteration), so concurrent
    # stages could each recompute the O(corpus-features) subtree
    # before the cache was populated; now the iterations are
    # guaranteed to read cached rows. The same action counts distinct
    # ids: the two differ only when an id repeats.
    n_rows, n_ids = x.where(F.col("b") == -1).agg(
        F.count("*"), F.countDistinct(id_col)
    ).first()
    if n_rows != n_ids:
        x.unpersist()
        raise ValueError(
            f"train_linear_classifier: {id_col!r} is not unique "
            f"({n_ids} distinct ids over {n_rows} bias rows after the "
            f"labels join)"
        )
    n_docs = float(n_rows)

    w = spark.range(-1, n_buckets).select(
        F.col("id").alias("b"), F.lit(0).cast("bigint").alias("w_micro")
    )
    for _ in range(iterations):
        scored = (
            x.join(F.broadcast(w), "b")
            .groupBy(id_col)
            .agg(
                F.first("_y").alias("_y"),
                F.sum(F.col("w_micro") * F.col("cnt")).alias("_sm"),
            )
        )
        p = F.lit(1.0) / (
            F.lit(1.0) + F.exp(-(F.col("_sm") / F.lit(float(MICRO))))
        )
        err = scored.select(
            F.col(id_col),
            F.round((p - F.col("_y")) * MICRO, 0)
            .cast("bigint")
            .alias("_e"),
        )
        grad = (
            x.join(err, id_col)
            .groupBy("b")
            .agg(F.sum(F.col("_e") * F.col("cnt")).alias("_g"))
        )
        w = (
            w.join(grad, "b", "left")
            .select(
                "b",
                (
                    F.col("w_micro")
                    - F.round(
                        F.lit(lr)
                        * F.coalesce(F.col("_g"), F.lit(0))
                        / F.lit(n_docs),
                        0,
                    ).cast("bigint")
                ).alias("w_micro"),
            )
            .localCheckpoint(eager=False)
        )
    # Materialize the final model NOW so the persisted feature frame can
    # be released before returning — without this, every training call
    # (bench reruns, train+eval query pairs) left another pinned copy of
    # the O(corpus-features) cache behind. The eager checkpoint also
    # collapses the K lazy intermediate checkpoints in one pass.
    w = w.localCheckpoint(eager=True)
    x.unpersist()
    return w


def score_with_model(
    docs: DataFrame,
    model: DataFrame,
    n_buckets: int = N_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained ``(b, w_micro)`` model: per-doc integer logit sum
    (micro-units, engine-exact) + sigmoid. Returns
    ``(id_col, logit_micro, prob)``. One broadcast join + one groupBy —
    the same plan as every other model-as-data scorer in the package.
    """
    fb = _feature_buckets(docs, n_buckets, text_col, id_col)
    counts = fb.groupBy(id_col, "b").agg(F.count("*").alias("cnt"))
    bias_rows = docs.select(
        F.col(id_col), F.lit(-1).cast("bigint").alias("b"),
        F.lit(1).cast("bigint").alias("cnt"),
    )
    x = counts.select(
        id_col, F.col("b").cast("bigint"), F.col("cnt").cast("bigint")
    ).unionByName(bias_rows)
    scored = (
        x.join(F.broadcast(model), "b")
        .groupBy(id_col)
        .agg(F.sum(F.col("w_micro") * F.col("cnt")).alias("logit_micro"))
    )
    prob = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-(F.col("logit_micro") / F.lit(float(MICRO))))
    )
    return scored.select(
        F.col(id_col),
        F.col("logit_micro"),
        F.round(prob, 6).alias("prob"),
    )


def evaluate_binary(
    scored: DataFrame,
    label_col: str = "y",
    prob_col: str = "prob",
) -> DataFrame:
    """Threshold sweep of a binary classifier: for thresholds 0.0, 0.1,
    …, 1.0, the confusion counts and P/R/F1 — the eval table that closes
    the label → fit → score → EVALUATE loop in-engine.

    Exactness: every metric derives from INTEGER confusion counts (one
    conditional aggregation over an 11-row broadcast threshold frame);
    precision/recall/F1 are single divisions of those integers, rounded
    once — so the whole table is engine-exact, like the trainer.
    F1 uses the algebraic form ``2·tp / (2·tp + fp + fn)`` to avoid
    compounding rounded P and R.
    """
    spark = scored.sparkSession
    thr = spark.range(11).select(
        (F.col("id") / F.lit(10.0)).alias("thr")
    )
    j = scored.crossJoin(F.broadcast(thr))
    pred = F.col(prob_col) >= F.col("thr")
    y1 = F.col(label_col) == 1
    agg = j.groupBy("thr").agg(
        F.sum((pred & y1).cast("long")).alias("tp"),
        F.sum((pred & ~y1).cast("long")).alias("fp"),
        F.sum(((~pred) & y1).cast("long")).alias("fn"),
        F.sum(((~pred) & ~y1).cast("long")).alias("tn"),
    )
    return agg.select(
        "thr",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6),
        ).alias("recall"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.round(
                2 * F.col("tp")
                / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
                6,
            ),
        ).alias("f1"),
    )


def model_as_dict(model: DataFrame) -> dict[int, int]:
    """Collect a trained ``(b, w_micro)`` model into a plain dict — the
    model is an O(n_buckets) ARTIFACT (like a tokenizer's merge table),
    so driver-side collection is bounded and legitimate; the dict feeds
    :func:`score_with_model_inrow`'s literal map."""
    return {r["b"]: r["w_micro"] for r in model.collect()}


def score_with_model_inrow(
    docs: DataFrame,
    model: dict[int, int],
    n_buckets: int = N_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stateless twin of :func:`score_with_model`: the model rides along
    as a LITERAL map and the per-doc logit folds in-row over the
    document's own features — no join, no aggregation, no shuffle. That
    makes it legal on an unaggregated STREAMING frame (the batch
    scorer's explode→groupBy would demand a watermarked stateful
    aggregation) and turns batch scoring into a narrow map. Same output
    contract and identical values (bit-exact integer logits).
    """
    from .hashing import md5_prefix_int

    pairs = []
    for b in sorted(model):
        pairs += [F.lit(int(b)).cast("bigint"), F.lit(int(model[b])).cast("bigint")]
    map_lit = F.create_map(*pairs)
    bias = int(model.get(-1, 0))
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    base = docs.select(F.col(id_col), toks.alias("_t")).withColumn(
        "_n", F.size("_t")
    )
    bigrams = F.when(
        F.col("_n") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.col("_n") - 1),
            lambda i: F.concat_ws(" ", F.slice("_t", i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = F.concat(F.col("_t"), bigrams)

    def contrib(f):
        b = F.pmod(md5_prefix_int(F.md5(f), 8), F.lit(n_buckets)).cast(
            "bigint"
        )
        return F.coalesce(
            F.element_at(map_lit, b), F.lit(0).cast("bigint")
        )

    logit = F.aggregate(
        feats,
        F.lit(bias).cast("bigint"),
        lambda acc, f: acc + contrib(f),
    )
    out = base.withColumn("logit_micro", logit)
    prob = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-(F.col("logit_micro") / F.lit(float(MICRO))))
    )
    return out.select(
        F.col(id_col),
        F.col("logit_micro"),
        F.round(prob, 6).alias("prob"),
    )
