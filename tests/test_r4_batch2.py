"""Round-4 batch 2: DSIR importance resampling, MinHash fuzzy
decontamination, per-domain caps, hard-negative mining, mutual-kNN
graph. Planted-case tests; the sf0.01 oracles cover the full pipelines."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# DSIR


def test_dsir_prefers_target_like_docs(spark):
    from wasaffi_spark.operators.importance import dsir_select

    # target speaks "alpha beta"; raw has two target-like and two
    # off-distribution docs — selection must pick the target-like ones.
    raw = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta"),
            (2, "alpha beta gamma"),
            (3, "zzz qqq rrr sss"),
            (4, "mmm nnn ooo ppp"),
        ],
        "doc_id bigint, text string",
    )
    target = spark.createDataFrame(
        [(100, "alpha beta alpha"), (101, "beta alpha beta")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in dsir_select(raw, target, n_keep=2).collect()}
    assert out[1]["selected"] and out[2]["selected"]
    assert not out[3]["selected"] and not out[4]["selected"]
    assert out[1]["log_w"] > out[3]["log_w"]


def test_dsir_empty_doc_scores_zero_with_rank(spark):
    from wasaffi_spark.operators.importance import dsir_select

    raw = spark.createDataFrame(
        [(1, "alpha beta"), (2, "")], "doc_id bigint, text string"
    )
    target = spark.createDataFrame(
        [(10, "alpha beta")], "doc_id bigint, text string"
    )
    rows = {r["doc_id"]: r for r in dsir_select(raw, target, n_keep=1).collect()}
    assert rows[2]["n_feats"] == 0 and rows[2]["log_w"] == 0.0
    assert rows[1]["rnk"] == 1 and rows[2]["rnk"] == 2


def test_dsir_weight_is_sum_of_bucket_log_ratios(spark):
    # single shared token: weight = n_occurrences * [ln((t+1)/(T+aB)) -
    # ln((r+1)/(R+aB))] for its bucket — hand-check the smoothing math.
    from wasaffi_spark.operators.importance import N_BUCKETS, dsir_logweights

    raw = spark.createDataFrame([(1, "tok tok")], "doc_id bigint, text string")
    target = spark.createDataFrame([(9, "tok")], "doc_id bigint, text string")
    # raw doc features: uni tok ×2 + bigram "tok tok" ×1 → 3 feats
    row = dsir_logweights(raw, target).collect()[0]
    assert row["n_feats"] == 3
    # target: 1 feature ("tok"); raw: 3 features. Same bucket for "tok";
    # "tok tok" hashes to its own bucket (possibly colliding — compute
    # both cases from the actual bucket assignment).
    import hashlib

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % N_BUCKETS

    b_uni, b_bi = bucket("tok"), bucket("tok tok")
    tt, tr, ab = 1.0, 3.0, float(N_BUCKETS)
    r_counts = {b_uni: 2}
    r_counts[b_bi] = r_counts.get(b_bi, 0) + 1
    t_counts = {b_uni: 1}

    def lr(b):
        return math.log((t_counts.get(b, 0) + 1) / (tt + ab)) - math.log(
            (r_counts.get(b, 0) + 1) / (tr + ab)
        )

    expect = round(2 * lr(b_uni) + lr(b_bi), 6)
    assert abs(row["log_w"] - expect) < 1e-9


# ---------------------------------------------------------------------------
# fuzzy decontamination


def test_fuzzy_contamination_flags_neardup_only(spark):
    from wasaffi_spark.operators.decontam import fuzzy_contamination

    base = "the quick brown fox jumps over the lazy dog again and again"
    train = spark.createDataFrame(
        [(1, base + " extra"), (2, "completely different text about ships")],
        "doc_id bigint, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, base)], "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: r
        for r in fuzzy_contamination(train, eval_set, threshold=0.3).collect()
    }
    assert 1 in out and 2 not in out
    assert out[1]["max_est"] >= 0.3 and out[1]["n_eval_hits"] == 1


def test_fuzzy_contamination_exact_copy_scores_one(spark):
    from wasaffi_spark.operators.decontam import fuzzy_contamination

    txt = "one two three four five six seven eight nine ten"
    train = spark.createDataFrame([(1, txt)], "doc_id bigint, text string")
    ev = spark.createDataFrame([(2, txt)], "doc_id bigint, text string")
    rows = fuzzy_contamination(train, ev, threshold=0.5).collect()
    assert len(rows) == 1 and rows[0]["max_est"] == 1.0


def test_fuzzy_contamination_bucket_cap_drops_hot_bucket(spark):
    from wasaffi_spark.operators.decontam import fuzzy_contamination

    txt = "alpha beta gamma delta epsilon zeta eta theta"
    train = spark.createDataFrame(
        [(i, txt) for i in range(1, 9)], "doc_id bigint, text string"
    )
    ev = spark.createDataFrame([(100, txt)], "doc_id bigint, text string")
    full = fuzzy_contamination(train, ev, threshold=0.5).collect()
    capped = fuzzy_contamination(
        train, ev, threshold=0.5, max_bucket_size=2
    ).collect()
    assert len(full) == 8 and len(capped) == 0  # 8-doc bucket > cap


# ---------------------------------------------------------------------------
# domain cap


def test_domain_cap_keeps_best_per_domain(spark):
    from wasaffi_spark.operators.pipeline import domain_cap, domain_cap_report

    df = spark.createDataFrame(
        [
            (1, "a", 100),
            (2, "a", 300),
            (3, "a", 200),
            (4, "b", 50),
        ],
        "doc_id bigint, source string, n_chars bigint",
    )
    kept = domain_cap(df, cap=2).collect()
    by_id = {r["doc_id"]: r for r in kept}
    assert set(by_id) == {2, 3, 4}  # drops the worst doc of domain a
    assert by_id[2]["domain_rank"] == 1 and by_id[3]["domain_rank"] == 2

    rep = {r["source"]: r for r in domain_cap_report(df, cap=2).collect()}
    assert rep["a"]["n_kept"] == 2 and rep["a"]["n_dropped"] == 1
    assert rep["a"]["min_kept_score"] == 200
    assert rep["b"]["n_kept"] == 1 and rep["b"]["n_dropped"] == 0


def test_domain_cap_tie_breaks_by_id(spark):
    from wasaffi_spark.operators.pipeline import domain_cap

    df = spark.createDataFrame(
        [(10, "a", 5), (11, "a", 5), (12, "a", 5)],
        "doc_id bigint, source string, n_chars bigint",
    )
    kept = sorted(r["doc_id"] for r in domain_cap(df, cap=2).collect())
    assert kept == [10, 11]


# ---------------------------------------------------------------------------
# hard negatives


def test_hard_negatives_excludes_same_label(spark):
    from wasaffi_spark.operators.similarity import hard_negative_topk

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.99, 0.1], 0),  # same label — must never appear
            (2, [0.9, 0.2], 1),
            (3, [-1.0, 0.0], 1),
        ],
        "vec_id bigint, embedding array<float>, label int",
    )
    q = emb.where(F.col("vec_id") == 0)
    rows = hard_negative_topk(q, emb, k=2).orderBy("rank").collect()
    assert [r["nid"] for r in rows] == [2, 3]
    assert all(r["nlabel"] != r["qlabel"] for r in rows)


# ---------------------------------------------------------------------------
# mutual kNN


def test_mutual_knn_requires_both_directions(spark):
    from wasaffi_spark.operators.similarity import (
        knn_edges_bucketed,
        mutual_knn_pairs,
    )

    # three dim-1-dominated vectors sharing one r5 hyperplane cell
    # (hyperplane 0 projects them all negative, hyperplane 1 — signs
    # [+,-,-,...] — all positive): with k=1, 1↔2 are mutual; 3 points
    # at 1 but 1 doesn't point back → (1,3) must not survive
    # symmetrization.
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.2, 0.0]),
            (2, [1.0, 0.21, 0.0]),
            (3, [1.0, 0.0, 0.2]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    edges = knn_edges_bucketed(emb, k=1, bits=2)
    pairs = mutual_knn_pairs(edges).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_knn_edges_ranked_within_cell(spark):
    from wasaffi_spark.operators.similarity import knn_edges_bucketed

    emb = spark.createDataFrame(
        [(i, [1.0, float(i) / 10.0]) for i in range(4)],
        "vec_id bigint, embedding array<float>",
    )
    edges = knn_edges_bucketed(emb, k=2, bits=1)
    per_src = {}
    for r in edges.collect():
        per_src.setdefault(r["src"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_src.values())
    assert all(len(v) <= 2 for v in per_src.values())


# ---------------------------------------------------------------------------
# media aHash near-dup


def _media(spark, rows):
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    from wasaffi_spark.operators.multimodal import ingest_as_media

    return ingest_as_media(df)


def test_ahash_hand_computed(spark):
    from wasaffi_spark.operators.multimodal import ahash_signature

    # payload "ab" = bytes [97, 98]; 2 segments: seg0=[97], seg1=[98];
    # total=195, n=2. bit0: 97*2 > 195*1 → false; bit1: 98*2 > 195 → true.
    m = _media(spark, [(1, "ab", "s")])
    row = ahash_signature(m, n_segments=2).collect()[0]
    assert row["ahash"] == 2 and row["n_bytes"] == 2


def test_ahash_empty_payload_is_zero(spark):
    from wasaffi_spark.operators.multimodal import ahash_signature

    m = _media(spark, [(1, "", "s")])
    row = ahash_signature(m, n_segments=8).collect()[0]
    assert row["ahash"] == 0 and row["n_bytes"] == 0


def test_ahash_identical_payloads_collide(spark):
    from wasaffi_spark.operators.multimodal import (
        ahash_signature,
        media_neardup_pairs,
    )

    m = _media(spark, [(1, "hello world foo", "s"), (2, "hello world foo", "s")])
    sigs = {r["doc_id"]: r["ahash"] for r in ahash_signature(m).collect()}
    assert sigs[1] == sigs[2]
    pairs = media_neardup_pairs(m).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


def test_media_neardup_pigeonhole_guard(spark):
    import pytest as _pytest

    from wasaffi_spark.operators.multimodal import media_neardup_pairs

    m = _media(spark, [(1, "x", "s")])
    with _pytest.raises(ValueError, match="pigeonhole"):
        media_neardup_pairs(m, max_hamming=2, bands=2)
    with _pytest.raises(ValueError, match="divide"):
        media_neardup_pairs(m, bands=3)


def test_media_neardup_bucket_cap(spark):
    from wasaffi_spark.operators.multimodal import media_neardup_pairs

    rows = [(i, "same bytes everywhere", "s") for i in range(6)]
    m = _media(spark, rows)
    full = media_neardup_pairs(m).collect()
    capped = media_neardup_pairs(m, max_bucket_size=2).collect()
    assert len(full) == 15 and len(capped) == 0


# ---------------------------------------------------------------------------
# curriculum interleave + corpus report


def test_curriculum_round_robin_schedule(spark):
    from wasaffi_spark.operators.pipeline import curriculum_interleave

    df = spark.createDataFrame(
        [
            (1, "a", 10),
            (2, "a", 5),
            (3, "b", 7),
            (4, "b", 9),
            (5, "b", 1),
        ],
        "doc_id bigint, source string, n_chars bigint",
    )
    rows = sorted(
        curriculum_interleave(df).collect(), key=lambda r: r["position"]
    )
    # round 0: easiest of a (doc 2), easiest of b (doc 5); round 1:
    # doc 1, doc 3; round 2: b only (doc 4) — positions stay monotone.
    assert [r["doc_id"] for r in rows] == [2, 5, 1, 3, 4]
    # no domain repeats within a round while the other still has docs
    assert [r["source"] for r in rows[:4]] == ["a", "b", "a", "b"]


def test_corpus_report_counts_cross_domain_dups(spark):
    from wasaffi_spark.operators.pipeline import corpus_report

    df = spark.createDataFrame(
        [
            (1, "same text", "en", "a"),
            (2, "same text", "en", "b"),  # dup ACROSS domains
            (3, "unique here", "de", "a"),
        ],
        "doc_id bigint, text string, lang string, source string",
    )
    rep = {r["source"]: r for r in corpus_report(df).collect()}
    assert rep["a"]["n_dup_docs"] == 1 and rep["b"]["n_dup_docs"] == 1
    assert rep["a"]["n_docs"] == 2 and rep["a"]["n_langs"] == 2
    assert rep["a"]["n_tokens"] == 4  # "same text" + "unique here"


# ---------------------------------------------------------------------------
# in-engine classifier training


def _labeled_corpus(spark):
    rows = [
        (1, "good clean prose about science research", 1),
        (2, "careful analysis of data and methods", 1),
        (3, "buy cheap pills click here now", 0),
        (4, "winner prize casino click subscribe", 0),
        (5, "science research methods and analysis", 1),
        (6, "cheap casino prize click now", 0),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, label int")


def test_train_classifier_separates_planted_classes(spark):
    from wasaffi_spark.operators.training import (
        score_with_model,
        train_linear_classifier,
    )

    docs = _labeled_corpus(spark)
    w = train_linear_classifier(docs, "label", iterations=8, lr=1.0)
    probs = {
        r["doc_id"]: r["prob"]
        for r in score_with_model(docs, w).collect()
    }
    pos = [probs[i] for i in (1, 2, 5)]
    neg = [probs[i] for i in (3, 4, 6)]
    assert min(pos) > max(neg), (pos, neg)


def test_train_classifier_is_deterministic(spark):
    from wasaffi_spark.operators.training import train_linear_classifier

    docs = _labeled_corpus(spark)
    w1 = {r["b"]: r["w_micro"] for r in train_linear_classifier(docs, "label").collect()}
    w2 = {
        r["b"]: r["w_micro"]
        for r in train_linear_classifier(
            docs.repartition(7), "label"
        ).collect()
    }
    assert w1 == w2  # partitioning must not change the trained model


def test_train_classifier_bias_learns_base_rate(spark):
    from wasaffi_spark.operators.training import train_linear_classifier

    # all-positive corpus: the bias (bucket -1) must move up
    docs = spark.createDataFrame(
        [(1, "aa bb", 1), (2, "cc dd", 1)], "doc_id bigint, text string, label int"
    )
    w = {r["b"]: r["w_micro"] for r in train_linear_classifier(docs, "label").collect()}
    assert w[-1] > 0


def test_train_classifier_rejects_duplicate_ids(spark):
    """A repeated doc id would fan the bias lane out through the labels
    join and inflate N; training refuses it instead."""
    from wasaffi_spark.operators.training import train_linear_classifier

    docs = _labeled_corpus(spark).unionByName(
        spark.createDataFrame(
            [(2, "clean science text", 1)],
            "doc_id bigint, text string, label int",
        )
    )
    with pytest.raises(ValueError, match="not unique"):
        train_linear_classifier(docs, "label")


# ---------------------------------------------------------------------------
# boilerplate removal


def test_strip_boilerplate_drops_domain_templates(spark):
    from wasaffi_spark.operators.text import strip_boilerplate

    footer = "subscribe to our newsletter"
    df = spark.createDataFrame(
        [
            (1, "a", "real content one\n" + footer),
            (2, "a", "real content two\n" + footer),
            (3, "a", "unrelated text"),
            (4, "b", footer),  # different domain: appears once → kept
        ],
        "doc_id bigint, source string, text string",
    )
    out = {r["doc_id"]: r for r in strip_boilerplate(df, min_frac=0.3).collect()}
    assert out[1]["clean_text"] == "real content one"
    assert out[2]["clean_text"] == "real content two"
    assert out[1]["n_boiler"] == 1 and out[3]["n_boiler"] == 0
    assert out[4]["clean_text"] == footer  # not boilerplate in b


def test_boilerplate_blank_lines_never_qualify(spark):
    from wasaffi_spark.operators.text import boilerplate_lines

    df = spark.createDataFrame(
        [(1, "a", "x\n\ny"), (2, "a", "z\n\nw")],
        "doc_id bigint, source string, text string",
    )
    assert boilerplate_lines(df, min_frac=0.1).count() == 0


# ---------------------------------------------------------------------------
# hashed embeddings / text ANN


def test_hashed_embedding_signed_counts(spark):
    import hashlib

    from wasaffi_spark.operators.similarity import hashed_embedding

    df = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "")], "doc_id bigint, text string"
    )
    rows = {r["doc_id"]: r for r in hashed_embedding(df, dim=8).collect()}

    def jh(tok):
        h = hashlib.md5(tok.encode()).hexdigest()
        return int(h[:8], 16) % 8, 1 if int(h[8], 16) % 2 == 0 else -1

    expect = [0] * 8
    for tok in ("cat", "cat", "dog"):
        j, s = jh(tok)
        expect[j] += s
    assert list(rows[1]["embedding"]) == expect
    assert rows[1]["norm_sq"] == sum(v * v for v in expect)
    assert list(rows[2]["embedding"]) == [0] * 8 and rows[2]["norm_sq"] == 0


def test_hashed_embedding_identical_texts_identical_vectors(spark):
    from wasaffi_spark.operators.similarity import (
        brute_force_topk,
        hashed_embedding,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zz qq ww")],
        "doc_id bigint, text string",
    )
    emb = hashed_embedding(df, dim=16)
    top = brute_force_topk(
        emb.where("doc_id = 1"), emb, k=1, id_col="doc_id"
    ).collect()
    assert top[0]["nid"] == 2 and top[0]["cos_sim"] == 1.0


# ---------------------------------------------------------------------------
# BPE tokenizer training


def test_bpe_learns_most_frequent_pair_first(spark):
    from wasaffi_spark.operators.bpe import bpe_train

    # "ab" appears in every word; 'a','b' adjacent 5 times total
    df = spark.createDataFrame(
        [(1, "abc abd ab"), (2, "abe ab")], "doc_id bigint, text string"
    )
    merges = bpe_train(df, k_merges=2).orderBy("rank").collect()
    assert (merges[0]["left_sym"], merges[0]["right_sym"]) == ("a", "b")
    assert merges[0]["merged"] == "ab" and merges[0]["pair_count"] == 5
    # second merge builds on the first (symbol 'ab' now exists)
    assert merges[1]["left_sym"] == "ab"


def test_bpe_merge_covers_back_to_back_chains(spark):
    from wasaffi_spark.operators.bpe import bpe_segment, bpe_train

    # 'aaaa' = pair (a,a) ×3 adjacent; canonical merge → 'aa','aa'
    df = spark.createDataFrame([(1, "aaaa")], "doc_id bigint, text string")
    merges = bpe_train(df, k_merges=1)
    seg = bpe_segment(df, merges).collect()[0]
    assert seg["n_bpe_tokens"] == 2  # both non-overlapping pairs merged
    assert seg["n_words"] == 1 and seg["fertility"] == 2.0


def test_bpe_segment_fertility(spark):
    from wasaffi_spark.operators.bpe import bpe_segment, bpe_train

    df = spark.createDataFrame(
        [(1, "hello hello world")], "doc_id bigint, text string"
    )
    merges = bpe_train(df, k_merges=4)
    seg = bpe_segment(df, merges).collect()[0]
    # 16 chars total; 4 merges remove at most... just sanity bounds:
    assert seg["n_words"] == 3
    assert 3 <= seg["n_bpe_tokens"] < 16


# ---------------------------------------------------------------------------
# compression-ratio quality signal


def test_compression_ratio_separates_repetition_from_noise(spark):
    import zlib

    from wasaffi_spark.operators.text import compression_ratio

    rep = "spam " * 200
    prose = (
        "the quick brown fox jumps over the lazy dog while careful "
        "analysis of research data suggests otherwise every time"
    )
    df = spark.createDataFrame(
        [(1, rep), (2, prose), (3, None)], "doc_id bigint, text string"
    )
    out = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    # exact values: zlib is deterministic at a fixed level
    assert out[1]["zlib_bytes"] == len(zlib.compress(rep.encode(), 6))
    assert out[1]["zlib_ratio"] < 0.1  # templated text crushes
    assert out[2]["zlib_ratio"] > 0.5  # prose compresses mildly
    assert out[3]["raw_bytes"] == 0 and out[3]["zlib_ratio"] is None


def test_evaluate_binary_confusion_counts(spark):
    from wasaffi_spark.operators.training import evaluate_binary

    scored = spark.createDataFrame(
        [(1, 0.9, 1), (2, 0.8, 0), (3, 0.2, 1), (4, 0.1, 0)],
        "doc_id bigint, prob double, y int",
    )
    rows = {r["thr"]: r for r in evaluate_binary(scored).collect()}
    r5 = rows[0.5]
    assert (r5["tp"], r5["fp"], r5["fn"], r5["tn"]) == (1, 1, 1, 1)
    assert r5["precision"] == 0.5 and r5["recall"] == 0.5 and r5["f1"] == 0.5
    r0 = rows[0.0]  # everything predicted positive
    assert r0["tp"] == 2 and r0["fn"] == 0 and r0["recall"] == 1.0
    # threshold above every prob: no positives -> precision NULL
    assert rows[1.0]["tp"] == 0 and rows[1.0]["precision"] is None


def test_length_percentile_filter_drops_tails(spark):
    from wasaffi_spark.operators.text import length_percentile_filter

    rows = [(i, "w " * i) for i in range(1, 21)]  # 1..20 tokens
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in length_percentile_filter(df, 0.1, 0.9).collect()}
    assert not out[1]["len_keep"]  # shortest below the 10th pct
    assert not out[20]["len_keep"]  # longest above the 90th pct
    assert out[10]["len_keep"] and out[10]["n_tokens"] == 10
