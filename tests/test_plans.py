"""Plan-quality tests: the scale contract (SURVEY §7.5.5) asserted from
the physical plan — pushdown reaches the scan, scans are column-pruned,
dimension joins broadcast, hot paths stay in codegen, UDF islands are
Arrow-vectorized."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMOKE

from wasaffi_spark.plans import relational
from wasaffi_spark.plans.inspect import plan_facts

needs_data = pytest.mark.skipif(
    not os.path.isdir(SF_SMOKE), reason="testdata not present"
)

def _catalog_q(name):
    """Window-rotation-proof lookup: a query keeps its oracle and plan
    contract whether it currently sits in the driver window (QUERIES)
    or the extras channel (EXTRA_QUERIES)."""
    from wasaffi_spark.operators.catalog import EXTRA_QUERIES, QUERIES

    return QUERIES[name] if name in QUERIES else EXTRA_QUERIES[name]


def _rq(name):
    """Same rotation-proof lookup for the relational module (the r6
    window rotation moved several long-stable relational rows to the
    extras channel; plan assertions follow the query, not the
    channel)."""
    return (
        relational.QUERIES[name]
        if name in relational.QUERIES
        else relational.EXTRA_QUERIES[name]
    )


@needs_data
def test_filter_pushdown_reaches_scan(spark):
    f = plan_facts(_rq("filter_project")(spark, SF_SMOKE))
    pushed = " ".join(f.pushed_filters)
    assert "l_shipdate" in pushed and "l_discount" in pushed
    # column pruning: only the 4 referenced columns are read
    assert len(f.read_schemas) == 1
    schema = f.read_schemas[0]
    assert "l_extendedprice" in schema and "l_partkey" not in schema


@needs_data
def test_dimension_join_broadcasts(spark):
    f = plan_facts(_rq("join_collect_aggs")(spark, SF_SMOKE))
    assert f.broadcast_joins >= 1
    assert f.sortmerge_joins == 0  # the fact side must not shuffle-sort
    # customer scan reads ONLY the join key (group key comes from nation)
    assert any(s == "struct<c_nationkey:int>" for s in f.read_schemas)


@needs_data
def test_agg_scan_pruned(spark):
    f = plan_facts(_rq("agg_pricing_sets")(spark, SF_SMOKE))
    [schema] = f.read_schemas
    for col in ("l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus"):
        assert col in schema
    assert "l_orderkey" not in schema and "l_shipdate" not in schema


@needs_data
def test_topk_no_global_sort(spark):
    f = plan_facts(_rq("outer_join_topk")(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in f.text  # top-k, not full sort
    # only the join/group keys are read — no payload columns
    assert "struct<c_custkey:bigint>" in f.read_schemas


@needs_data
def test_udf_is_arrow_vectorized(spark):
    f = plan_facts(_rq("udf_pow")(spark, SF_SMOKE))
    assert "ArrowEvalPython" in f.text  # Arrow UDF path, not row-Python
    assert "BatchEvalPython" not in f.text
    assert f.read_schemas == ["struct<l_linenumber:int>"]


@needs_data
def test_ann_broadcasts_query_side(spark):
    
    f = plan_facts(_catalog_q("ann_bruteforce")(spark, SF_SMOKE))
    assert f.broadcast_joins >= 1  # query side broadcast; corpus never shuffles
    assert f.sortmerge_joins == 0


@needs_data
def test_tfidf_no_unconditional_vocab_broadcast(spark):
    """The doc-frequency side is O(vocabulary) — it must not carry a
    broadcast hint (VERDICT r1 #3). The tok-join is left to AQE: small
    vocab → runtime broadcast, huge vocab → shuffled join. The only
    static broadcast allowed is the 1-row corpus-count cross join."""
    
    df = _catalog_q("tfidf")(spark, SF_SMOKE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed  # no forced broadcast anywhere
    # and the corpus count is in-plan (an Aggregate under a Join), not a
    # driver-side literal
    assert "count(1)" in analyzed


@needs_data
def test_codegen_present(spark):
    df = _rq("agg_pricing_sets")(spark, SF_SMOKE)
    df.collect()  # AQE: codegen ids only appear in the finalized plan
    f = plan_facts(df)
    assert f.codegen_stages >= 1
    # and the aggregation is partial+final (map-side combine before shuffle)
    assert "partial_sum" in f.text


@needs_data
def test_simhash_is_shuffle_free(spark):
    """r2 rewrite contract: the in-row simhash has NO aggregation
    exchange — the only Exchange is the narrow-input fan-out
    repartition (RoundRobin), never a hash partitioning."""
    
    f = plan_facts(_catalog_q("simhash")(spark, SF_SMOKE).orderBy("doc_id"))
    import re

    hash_exchanges = re.findall(r"Arguments: hashpartitioning", f.text)
    assert not hash_exchanges, f.text[:2000]
    assert "roundrobin" in f.text.lower()  # the deliberate fan-out


@needs_data
def test_decontaminate_train_side_never_shuffles(spark):
    """Scale contract: the train-side gram explosion streams into the
    semi-join probe with no Exchange between its scan and the join, and
    the eval-gram side broadcasts."""
    
    f = plan_facts(_catalog_q("decontaminate")(spark, SF_SMOKE))
    assert f.broadcast_joins >= 1 and f.sortmerge_joins == 0
    # exactly three hash exchanges exist, and all are accounted for by
    # the SMALL sides: eval-gram distinct (1) + the two-phase
    # count-distinct over post-join matches (2). The train-side explode
    # contributes NONE — it streams into the broadcast probe.
    assert f.text.count("Arguments: hashpartitioning") == 3, f.text[-3000:]


@needs_data
def test_paragraph_dedup_two_hash_exchanges(spark):
    """Scale contract: exactly two hash shuffles (paragraph-hash window
    + doc reassembly), scan pruned to (doc_id, text), partial
    aggregation before the reassembly exchange."""
    import re

    
    f = plan_facts(_catalog_q("paragraph_dedup")(spark, SF_SMOKE))
    hash_exchanges = re.findall(r"Arguments: hashpartitioning", f.text)
    assert len(hash_exchanges) == 2, f.text[:2000]
    assert any("doc_id" in s and "text" in s for s in f.read_schemas)


@needs_data
def test_gopher_filter_shuffle_free(spark):
    """The composite gate is in-row only: no hash exchange anywhere
    (the only Exchange is the deliberate narrow-input fan-out)."""
    import re

    
    f = plan_facts(_catalog_q("gopher_filter")(spark, SF_SMOKE).limit(10))
    assert not re.findall(r"Arguments: hashpartitioning", f.text), f.text[:2000]


@needs_data
def test_global_shuffle_single_exchange(spark):
    """One hash exchange (on the shard key) — the window sort reuses
    the same partitioning; no second shuffle."""
    import re

    
    from wasaffi_spark.operators import pipeline
    from wasaffi_spark.sources.parquet import read_parquet

    docs = read_parquet(spark, f"{SF_SMOKE}/documents.parquet")
    f = plan_facts(pipeline.global_shuffle(docs, n_shards=16))
    assert len(re.findall(r"Arguments: hashpartitioning", f.text)) == 1, f.text[:2000]


@needs_data
def test_countmin_sketch_partial_agg(spark):
    """The cell build is one hash exchange with map-side partial counts
    (the sketch reduce never sees raw items)."""
    import re

    from pyspark.sql import functions as F

    from wasaffi_spark.operators import sketches, text
    from wasaffi_spark.sources.parquet import read_parquet

    docs = read_parquet(spark, f"{SF_SMOKE}/documents.parquet")
    toks = docs.select(F.explode(text.tokens("text")).alias("item"))
    f = plan_facts(sketches.countmin_table(toks, "item"))
    assert len(re.findall(r"Arguments: hashpartitioning", f.text)) == 1, f.text[:2000]
    assert "partial_count" in f.text


@needs_data
def test_pq_encode_is_codegen_with_broadcast_codebook(spark):
    """The PQ distance grid must stay inside codegen (no Python islands,
    no interpreted HOF hot loop can be asserted directly, but zero
    *EvalPython nodes can) and the only join is the broadcast of the
    k-seed codebook — the corpus never shuffles for encoding."""
    
    df = _catalog_q("pq_codes")(spark, SF_SMOKE)
    f = plan_facts(df)
    assert "EvalPython" not in f.text
    assert f.broadcast_joins >= 1
    assert f.sortmerge_joins == 0


@needs_data
def test_snapshot_diff_single_join_fingerprints_scan_side(spark):
    """One full-outer join on the key; the md5 fingerprint is computed
    before the join (projection under the exchange), so the shuffle
    carries (key, 32-byte hash), not documents."""
    import re

    
    f = plan_facts(_catalog_q("dataset_diff")(spark, SF_SMOKE))
    # formatted plans print each node twice (tree + detail) — count the
    # numbered detail headers
    joins = re.findall(
        r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", f.text
    )
    assert len(joins) == 1
    assert "FullOuter" in f.text
    # column pruning: only doc_id and text reach the scans
    assert all("lang" not in s and "source" not in s for s in f.read_schemas)


@needs_data
def test_gapfill_spine_is_broadcast(spark):
    """The 1-row bounds frame broadcasts into the spine build; the
    series×hour spine joins the hourly aggregate without a sort-merge
    of the raw events."""
    
    f = plan_facts(_catalog_q("events_gapfill")(spark, SF_SMOKE))
    assert f.broadcast_joins >= 1
    assert "EvalPython" not in f.text


@needs_data
def test_ivf_pq_search_join_is_hash_on_cell(spark):
    """The composed IVF×PQ query's search join must be a HASH join on
    the probed cell id — never a full-corpus nested loop (the scan the
    composition exists to remove). The only nested-loop nodes allowed
    are the two bounded codebook broadcasts (corpus×16 seeds for
    encoding, queries×16 seeds for the lookup tables)."""
    import re

    
    f = plan_facts(_catalog_q("ivf_pq_topk")(spark, SF_SMOKE))
    nlj = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", f.text)
    assert len(nlj) == 2, f"expected only the 2 codebook cross joins, got {len(nlj)}"
    hash_joins = re.findall(r"\(\d+\) BroadcastHashJoin", f.text)
    assert hash_joins, "search join must be a broadcast hash join"
    assert re.search(r"keys \[1\]: \[cell#\d+", f.text), "hash join key must be cell"
    assert "EvalPython" not in f.text  # everything stays JVM-side


@needs_data
def test_dsir_scoring_join_broadcasts_ratio_table(spark):
    """DSIR's per-document scoring join must broadcast the dense
    O(n_buckets) log-ratio table — the corpus feature stream is only
    ever shuffled by the final groupBy(doc_id) sum, never to be scored.
    The ratio table's own build may shuffle (≤ n_buckets rows)."""
    
    # r5: dsir_select's distributed rank localCheckpoints the weight
    # frame, which truncates the visible plan — assert on the scoring
    # stage itself (dsir_logweights), where the ratio join lives
    import os

    from pyspark.sql import functions as F

    from wasaffi_spark.operators import importance
    from wasaffi_spark.sources.parquet import read_parquet

    docs = read_parquet(spark, os.path.join(SF_SMOKE, "documents.parquet"))
    target = docs.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    w = importance.dsir_logweights(docs, target)
    f = plan_facts(w)
    assert "BroadcastHashJoin" in f.text, "ratio join must broadcast"
    assert "EvalPython" not in f.text  # feature hashing stays JVM-side


@needs_data
def test_mutual_knn_joins_are_equi_never_nlj(spark):
    """kNN edges come from an equi-join on the sign-LSH cell and the
    mutual symmetrization from an equi-semi-join on (src, dst) — a
    nested-loop anywhere means the all-pairs scan leaked back in."""
    
    f = plan_facts(_catalog_q("mutual_knn")(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in f.text
    assert "CartesianProduct" not in f.text
    # r5: the hyperplane-cell assignment is the one sanctioned Python
    # island — Arrow-batched int64 matmul (with_cell_rh), never
    # row-at-a-time; the joins and scoring stay JVM-side
    assert "BatchEvalPython" not in f.text
    assert "ArrowEvalPython" in f.text  # and it IS the Arrow path


@needs_data
def test_domain_cap_window_rank_is_group_limited(spark):
    """The per-domain rank filter must push into the window sort
    (WindowGroupLimit) so a skewed mega-domain never materializes
    beyond its running top-cap rows."""
    
    f = plan_facts(_catalog_q("domain_cap")(spark, SF_SMOKE))
    assert "WindowGroupLimit" in f.text


@needs_data
def test_fuzzy_decontamination_is_banded_equi_join(spark):
    """Train↔eval candidate generation must join on (band, key) — an
    equi-join with no nested loop; the train corpus text itself never
    joins, only its 12-hash signatures."""
    
    f = plan_facts(_catalog_q("fuzzy_decontaminate")(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in f.text
    assert "CartesianProduct" not in f.text


@needs_data
def test_classifier_scoring_join_broadcasts_model(spark):
    """The model-as-data join must broadcast the O(n_buckets) weight
    frame onto the corpus feature stream (train_linear_classifier's
    returned frame is a lineage-truncated checkpoint by design, so the
    shared scoring path is where the plan contract is visible)."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators.training import score_with_model
    from wasaffi_spark.sources.parquet import read_parquet

    docs = read_parquet(spark, os.path.join(SF_SMOKE, "documents.parquet"))
    model = spark.range(-1, 256).select(
        F.col("id").alias("b"), F.lit(1).cast("bigint").alias("w_micro")
    )
    f = plan_facts(score_with_model(docs, model))
    assert "BroadcastHashJoin" in f.text
    assert "EvalPython" not in f.text


@needs_data
def test_media_neardup_banded_join_no_nlj(spark):
    """aHash near-dup candidates come from the banded equi-join; no
    nested loop and no Python anywhere (the signature is codegen-side
    expression work)."""
    
    f = plan_facts(_catalog_q("media_neardup")(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in f.text
    assert "CartesianProduct" not in f.text
    assert "EvalPython" not in f.text


@needs_data
def test_strip_boilerplate_equi_joins_only(spark):
    """Boilerplate stripping = doc-frequency equi-join + reassembly;
    a nested loop would mean the (domain, line) key degenerated."""
    
    f = plan_facts(_catalog_q("strip_boilerplate")(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in f.text
    assert "CartesianProduct" not in f.text


@needs_data
def test_text_ann_ivf_probe_join_is_hash_on_cell(spark):
    """The text-ANN scale path must search via an equi-join on the
    probed IVF cell — a full-corpus nested loop would mean the
    composition degenerated back into text_ann's exact scan. The only
    nested-loop nodes allowed are the bounded codebook broadcasts."""
    import re

    f = plan_facts(_catalog_q("text_ann_ivf")(spark, SF_SMOKE))
    hash_joins = re.findall(r"\(\d+\) BroadcastHashJoin", f.text)
    assert hash_joins, "probe join must be a broadcast hash join"
    assert re.search(r"keys \[1\]: \[cell#\d+", f.text)
    assert "EvalPython" not in f.text


@needs_data
def test_triangle_count_no_cartesian(spark):
    """Triangle enumeration must stay equi-join shaped: oriented wedge
    + closing semi-join — never a nested-loop/cartesian pair scan."""
    from wasaffi_spark.operators.catalog import EXTRA_QUERIES, QUERIES

    q = {**QUERIES, **EXTRA_QUERIES}["knn_triangles"]
    f = plan_facts(q(spark, SF_SMOKE))
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text


@needs_data
def test_expectations_inrow_rules_share_one_scan(spark):
    """The four in-row rules must compile into ONE conditional-sum
    aggregate over ONE scan of orders (adding rules adds expressions,
    not passes); the whole report reads orders at most 3× (in-row +
    unique + referential legs)."""
    from wasaffi_spark.operators.catalog import EXTRA_QUERIES, QUERIES

    q = {**QUERIES, **EXTRA_QUERIES}["orders_expectations"]
    f = plan_facts(q(spark, SF_SMOKE))
    orders_scans = f.text.count("orders.parquet")
    assert orders_scans <= 3, f.text


@needs_data
def test_global_row_number_never_single_partition_sorts(spark):
    """The distributed rank must not materialize a SinglePartition
    exchange anywhere (the failure mode it replaces)."""
    import os

    from pyspark.sql import functions as F

    from wasaffi_spark.operators.ranking import global_row_number
    from wasaffi_spark.sources.parquet import read_parquet

    docs = read_parquet(spark, os.path.join(SF_SMOKE, "documents.parquet"))
    out = global_row_number(
        docs.select("doc_id", "n_chars"),
        [F.desc("n_chars"), F.asc("doc_id")],
    )
    f = plan_facts(out)
    assert "Exchange SinglePartition" not in f.text, f.text
    # the parallel range exchange happens INSIDE the localCheckpoint
    # (invisible in the truncated final plan) — assert it on the
    # pre-checkpoint construction directly
    ranged = docs.select("doc_id", "n_chars").repartitionByRange(
        8, F.desc("n_chars"), F.asc("doc_id")
    )
    assert "rangepartitioning" in plan_facts(ranged).text
    # correctness of the rank itself: equals the naive global window
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    naive = docs.select(
        "doc_id", F.row_number().over(w).alias("rnk")
    )
    got = {(r.doc_id, r.rnk) for r in out.select("doc_id", "rnk").collect()}
    want = {(r.doc_id, r.rnk) for r in naive.collect()}
    assert got == want


def test_global_row_number_offsets_are_a_local_relation(spark):
    """The per-range offsets frame is a driver-built LocalRelation, so no
    Python worker task serializes it: the only RDD in the plan is the
    checkpointed range layout. Ranks equal the naive global window."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from wasaffi_spark.operators.ranking import global_row_number

    df = spark.range(0, 500, 1, 3).select((F.col("id") * 7 % 50).alias("k"), "id")
    order = [F.desc("k"), F.asc("id")]
    out = global_row_number(df, order, num_parts=4)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation [_rpid" in plan, plan
    assert plan.count("LogicalRDD") == 1, plan
    naive = df.select("id", F.row_number().over(Window.orderBy(*order)).alias("rnk"))
    got = sorted((r.id, r.rnk) for r in out.select("id", "rnk").collect())
    assert got == sorted((r.id, r.rnk) for r in naive.collect())
    assert global_row_number(df.where("id < 0"), order).count() == 0


@needs_data
def test_filtered_ivf_search_join_is_hash_on_cell(spark):
    """The composed filtered×IVF query's search join must be a
    broadcast HASH join on the probed cell id with the label equality
    riding the join — never a full-corpus nested loop. Allowed
    nested-loop nodes: the bounded centroid broadcasts (probe routing
    per query; centroid attach on each side)."""
    import re

    f = plan_facts(_catalog_q("filtered_ann_ivf")(spark, SF_SMOKE))
    hash_joins = re.findall(r"\(\d+\) BroadcastHashJoin", f.text)
    assert hash_joins, "search join must be a broadcast hash join"
    # Catalyst folds the attribute equality INTO the hash-join keys:
    # the search join keys are exactly [(attribute, cell)] — the
    # "label prefixes the cell" contract, verbatim in the plan
    assert re.search(
        r"keys \[2\]: \[_fq#\d+, cell#\d+", f.text
    ), "join keys must be (attribute, cell)"
    assert "EvalPython" not in f.text


@needs_data
def test_ivf_pq_residual_search_join_is_hash_on_cell(spark):
    """Residual IVF-PQ: the candidate join must be a broadcast HASH
    join on cell (codes side vs per-(query, cell) ADC tables); the
    codebook/centroid attaches are bounded broadcasts; everything
    stays JVM-side (residual arrays + integer subtraction — no Python
    islands)."""
    import re

    f = plan_facts(_catalog_q("ivf_pq_residual_topk")(spark, SF_SMOKE))
    hash_joins = re.findall(r"\(\d+\) BroadcastHashJoin", f.text)
    assert hash_joins, "candidate join must be a broadcast hash join"
    assert re.search(r"keys \[1\]: \[cell#\d+", f.text), "join key must be cell"
    assert "EvalPython" not in f.text


@needs_data
def test_ivf_lloyd_search_join_is_hash_on_cell(spark):
    """Lloyd-trained IVF: after the (checkpointed) train loop, the
    search plan must be the standard probe shape — a broadcast HASH
    join on cell between the assigned corpus and the probe frame, no
    Python islands anywhere (train and search are pure codegen
    expressions)."""
    import re

    f = plan_facts(_catalog_q("ann_ivf_lloyd")(spark, SF_SMOKE))
    hash_joins = re.findall(r"\(\d+\) BroadcastHashJoin", f.text)
    assert hash_joins, "candidate join must be a broadcast hash join"
    assert re.search(r"keys \[1\]: \[cell#\d+", f.text), "join key must be cell"
    assert "EvalPython" not in f.text


@needs_data
def test_knn_descent_rounds_are_equi_joins_only(spark):
    """NN-descent, full lineage (checkpoints disabled via the
    _materialize seam): the ring overlay is an explode + equi-join on
    position (never a nested-loop), each round's candidate exchange is
    an equi-join on the middle vertex, and scoring joins are hash
    joins on src/dst — a CartesianProduct or BNLJ anywhere means the
    all-pairs scan leaked back in. The hyperplane-cell assignment
    stays the one sanctioned Arrow island."""
    from wasaffi_spark.operators import similarity
    from wasaffi_spark.sources.parquet import read_parquet

    emb = read_parquet(spark, SF_SMOKE + "/embeddings.parquet")
    df = similarity.knn_descent(
        emb, k=3, rounds=1, max_reverse=16, ring=2, _materialize=False
    )
    f = plan_facts(df)
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text
    assert "BatchEvalPython" not in f.text
    assert "ArrowEvalPython" in f.text
    # r8: the ring position routes through ranking.global_row_number
    # (range exchange + per-range row_number) — a global Window.orderBy
    # here was the last corpus-sized single-partition sort (VERDICT r7
    # What's-wrong #1)
    assert "Exchange SinglePartition" not in f.text, f.text


@needs_data
def test_unigram_viterbi_is_shuffle_free(spark):
    """The in-row Viterbi E-step must be a pure projection over the
    word table — no Exchange, no Join, no Python island anywhere in
    its plan (the vocab rides in as a literal map)."""
    from wasaffi_spark.operators import unigram
    from wasaffi_spark.sources.parquet import read_parquet

    docs = read_parquet(spark, SF_SMOKE + "/documents.parquet")
    words = unigram.train_words(docs).localCheckpoint(eager=True)
    rows = unigram._vocab_rows(unigram.seed_vocab(words))
    segs = unigram.viterbi_segment(words, rows)
    f = plan_facts(segs)
    assert "Exchange" not in f.text, f.text
    assert "Join" not in f.text
    assert "EvalPython" not in f.text


@needs_data
def test_graph_search_no_corpus_scan_no_global_sort(spark):
    """Beam search full lineage (checkpoints disabled): expansion and
    scoring joins are equi-joins (hash/sort-merge), the ring overlay
    joins on position, the per-query beam windows are partitioned by
    qid, and nothing materializes a single-partition exchange or a
    CartesianProduct — the only nested-loop node allowed is the
    bounded entry-points broadcast."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import similarity
    from wasaffi_spark.sources.parquet import read_parquet

    emb = read_parquet(spark, SF_SMOKE + "/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 4)
    graph = similarity.knn_descent(emb, k=4, rounds=0, ring=2)
    out = similarity.graph_search_topk(
        queries, graph, emb, k=3, beam=4, rounds=2, n_entry=4, ring=2,
        _materialize=False,
    )
    f = plan_facts(out)
    assert "CartesianProduct" not in f.text
    assert "Exchange SinglePartition" not in f.text, f.text
    assert "BatchEvalPython" not in f.text


@needs_data
def test_mmr_ivf_candidates_join_is_hash_on_cell(spark):
    """The IVF shortlist generator feeding mmr_rerank_ivf: the
    candidate join must be a broadcast HASH join on the probed cell id
    — the declared MMR plan contains no Q×N CartesianProduct (VERDICT
    r7 What's-wrong #2). Allowed nested-loop nodes: the bounded
    centroid broadcasts."""
    import re

    from pyspark.sql import functions as F

    from wasaffi_spark.operators import similarity
    from wasaffi_spark.sources.parquet import read_parquet

    emb = read_parquet(spark, SF_SMOKE + "/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 8)
    cand = similarity.ivf_candidates(q, emb)
    f = plan_facts(cand)
    assert "CartesianProduct" not in f.text
    assert re.findall(r"\(\d+\) BroadcastHashJoin", f.text), \
        "candidate join must be a broadcast hash join"
    assert re.search(r"keys \[1\]: \[cell#\d+", f.text), \
        "join key must be cell"
    assert "EvalPython" not in f.text


@needs_data
def test_graph_insert_splice_is_equi_joins_only(spark):
    """graph_insert full lineage past the (checkpointed) search: the
    reverse-valve window partitions by the spliced node, the affected-
    adjacency join and the candidate merge are equi-joins — no
    CartesianProduct, no single-partition exchange, no Python island
    (the graph build's cell assignment is upstream of the checkpoint)."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import similarity
    from wasaffi_spark.sources.parquet import read_parquet

    emb = read_parquet(spark, SF_SMOKE + "/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 8 != 7)
    batch = emb.where(F.col("vec_id") % 8 == 7)
    graph = similarity.knn_descent(base, k=4, rounds=0, ring=2)
    out = similarity.graph_insert(
        batch, graph, base, k=4, beam=4, rounds=1, n_entry=4, ring=2
    )
    f = plan_facts(out)
    assert "CartesianProduct" not in f.text
    assert "Exchange SinglePartition" not in f.text, f.text
    assert "BatchEvalPython" not in f.text


@needs_data
def test_graph_delete_repair_is_equi_joins_only(spark):
    """graph_delete full lineage: the into-deleted probe, the bridge
    join, candidate scoring, and the surviving-edge anti-joins are all
    equi/anti hash joins; the re-rank window partitions by src — no
    CartesianProduct, no single-partition exchange, no Python island."""
    from pyspark.sql import functions as F

    from wasaffi_spark.operators import similarity
    from wasaffi_spark.sources.parquet import read_parquet

    emb = read_parquet(spark, SF_SMOKE + "/embeddings.parquet")
    graph = similarity.knn_descent(emb, k=4, rounds=0, ring=2)
    dele = emb.where(F.col("vec_id") % 16 == 3).select("vec_id")
    out = similarity.graph_delete(dele, graph, emb, k=4, _materialize=False)
    f = plan_facts(out)
    assert "CartesianProduct" not in f.text
    assert "Exchange SinglePartition" not in f.text, f.text
    assert "BatchEvalPython" not in f.text


@needs_data
def test_ivf_append_search_reuses_postings(spark):
    """ivf_append_topk: the probe join must be a broadcast hash join on
    the cell id over the UNION of base + appended postings (no corpus
    reassignment on the search path — _ivf_probes' assigned= seam), and
    the whole composed plan carries no CartesianProduct beyond the
    bounded centroid broadcasts and no single-partition exchange."""
    import re

    from pyspark.sql import functions as F

    from wasaffi_spark.operators import similarity
    from wasaffi_spark.sources.parquet import read_parquet

    emb = read_parquet(spark, SF_SMOKE + "/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 8 != 7)
    batch = emb.where(F.col("vec_id") % 8 == 7)
    queries = emb.where(F.col("vec_id") < 4)
    out = similarity.ivf_append_topk(
        queries, base, batch, k=3, n_cells=8, n_probe=2, iters=1
    )
    f = plan_facts(out)
    assert "CartesianProduct" not in f.text
    assert "Exchange SinglePartition" not in f.text, f.text
    assert re.findall(r"\(\d+\) BroadcastHashJoin", f.text), \
        "probe join must be a broadcast hash join"
    assert re.search(r"keys \[1\]: \[cell#\d+", f.text), \
        "join key must be cell"
