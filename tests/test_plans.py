"""Plan-shape regression tests: the physical-plan properties that make
these operators scale must not silently regress (SURVEY §4)."""

import pytest
from pyspark.sql import functions as F

from discoverx_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name):
    df = QUERIES[name][0](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = plan_of(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 6 needed columns reach the scan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    assert "l_extendedprice" in read_schema


def test_dim_joins_are_broadcast(spark):
    plan = plan_of(spark, "top_customer_revenue")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_scan_is_single_pass_partial_agg(spark):
    plan = plan_of(spark, "scan_documents")
    # partial + final hash aggregate, exactly one (tiny) exchange
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1


def test_pipeline_has_one_arrow_stage(spark):
    from discoverx_spark.pipeline import decide
    from discoverx_spark.transcripts import generate_transcripts

    plan = decide(generate_transcripts(spark, 10))._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1  # fused UDF: one Python pass
    assert "Exchange" not in plan              # fully narrow until write


def test_minhash_signatures_no_shuffle(spark):
    plan = plan_of(spark, "minhash_signatures_documents")
    # repartition of the single-file input is the only exchange
    assert plan.count("Exchange") <= 1
    assert "ArrowEvalPython" not in plan       # pure JVM projection


def test_window_single_exchange(spark):
    plan = plan_of(spark, "latest_event_per_user")
    assert plan.count("Exchange") == 1


def test_minhash_fold_not_duplicated(spark):
    """The k-min signature must be ONE aggregate fold in the plan: if
    CollapseProject ever inlines the struct alias into its k field
    extracts, the fold (and the whole shingle chain) is re-evaluated per
    column — a measured 6× regression."""
    df = QUERIES["minhash_signatures_documents"][0](spark, SF)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("aggregate(") == 1


def test_neardup_verification_is_join_free(spark):
    """Signature carried through the banding shuffle: verification must
    not re-join the signature frame (plan has exactly the band-key joins,
    no extra joins back onto id)."""
    from pyspark.sql import functions as F

    from discoverx_spark.operators.dedup import minhash_near_duplicates

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    plan = minhash_near_duplicates(docs, "text", "doc_id", k=8, bands=4) \
        ._jdf.queryExecution().executedPlan().toString()
    # window-based cap: the signature fold appears at most once per
    # structural reference (window + two self-join sides, deduped by
    # ReuseExchange at runtime) — NOT once per signature column (the
    # groupBy+join-back formulation exploded to 30 copies / 240 hash nodes)
    assert plan.count("xxhash64") <= 3 * 8
    # and no join back onto the signature frame by id for verification
    assert plan.count("Exchange hashpartitioning(id") <= 1  # the distinct


def test_stratified_sample_zero_shuffle(spark):
    """The stratified threshold is a when-chain literal, never a join:
    sampling must cost one scan pass with the filter on it."""
    from discoverx_spark.operators.sampling import stratified_hash_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = stratified_hash_sample(docs, "doc_id", "lang",
                                  {"en": 0.2, "de": 1.0}) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    assert "Filter" in plan


def test_vocab_counts_partial_agg(spark):
    """Token counting must combine map-side: partial + final aggregate,
    one exchange on the token key."""
    from discoverx_spark.operators.packing import token_counts

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = token_counts(docs, "text") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1


def test_top_tokens_is_take_ordered(spark):
    """Top-k must be a TakeOrderedAndProject, never a global sort."""
    from discoverx_spark.operators.packing import top_tokens

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = top_tokens(docs, "text", k=10) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_pack_sequences_single_window_exchange(spark):
    """Partitioned packing: one exchange on the tape key feeding the
    running-sum window — no extra shuffles."""
    from discoverx_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = pack_sequences(docs, "doc_id", "text", 256,
                          partition_col="lang") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1


def test_stupid_backoff_trains_once(spark):
    """The scorer's five model lookups (and its size/total probe) must
    scan ONE materialized counts RDD, not re-run the training aggregation
    per branch — the operator localCheckpoints internally, so even a
    caller passing the raw word_ngram_counts plan trains once."""
    from discoverx_spark.functions.ngram_lm import (stupid_backoff_score,
                                                    word_ngram_counts)

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text").limit(50)
    counts = word_ngram_counts(docs, "text", order=3)  # NOT checkpointed
    plan = stupid_backoff_score(docs, "text", "doc_id", counts) \
        ._jdf.queryExecution().executedPlan().toString()
    # the model branches read the checkpointed RDD ...
    assert "ExistingRDD" in plan
    # ... and the training explode + groupBy(gram, n) pipeline appears
    # nowhere: the only aggregates left are the per-doc fold's
    # partial+final pair (un-checkpointed, every lookup would carry its
    # own training aggregation)
    assert plan.count("HashAggregate") <= 4


def test_named_rule_sets_zero_shuffle(spark):
    """gopher_rules and c4_clean must stay pure projections: no
    exchange, no join — the signal folds run inside one scan pass."""
    for name in ("gopher_rules_documents", "c4_clean_documents"):
        plan = plan_of(spark, name)
        assert "Exchange" not in plan, name
        assert "Join" not in plan, name


def test_tool_call_stats_two_conv_exchanges(spark):
    """tool_call_stats: the run aggregations must reuse the tool-turn
    window's conv_id partitioning — two hash exchanges total (stats
    branch + tool-turn branch), never a (conv_id, tool) re-partition."""
    plan = plan_of(spark, "tool_call_stats")
    assert plan.count("Exchange hashpartitioning(conv_id") <= 2
    assert "hashpartitioning(conv_id, tool" not in plan
    assert "SortMergeJoin" not in plan


def test_registry_wide_plan_budgets(spark):
    """Every query in the registry must stay inside a shuffle budget and
    contain no CartesianProduct — a blanket guard against plan
    regressions anywhere in the surface (queries that perform writes as
    part of their setup are exercised for the same properties, their
    side effects going to the reusable scratch dir)."""
    # queries whose DataFrame is driver-built (createDataFrame) or whose
    # plan is dominated by generated VALUES — exchange budget still applies
    budgets = {
        # banding self-joins + distinct + (window cap): more exchanges
        # jaccard verify joins the shingle frame back onto the candidate
        # set twice (AQE broadcasts the tiny candidate side at runtime)
        "minhash_lsh_pairs": 8, "jaccard_verify_pairs": 12,
        "minhash_neardup_xxhash": 8, "simhash_neardup": 8,
        "conversation_near_duplicates": 8, "embedding_lsh_neardup": 8,
        "incremental_lsh_pairs": 8,
        # inverted-index self-join + norms joins + per-pair fold
        "sparse_neardup_documents": 9,
        # 3 real shuffles (term partition shared by tf-agg + df-window,
        # (query,doc) groupBy, per-query rank window) + 3 broadcasts
        # (query terms, qt, corpus stats) with their tiny upstream aggs
        "bm25_topk_batch_documents": 9,
        # (id, token) groupBy + per-doc fold groupBy + all-OOV restore
        # left join + id-keyed join back onto the input + weight broadcast
        "quality_classifier_join_documents": 6,
        # two B-bounded histogram groupBys + two 1-row total aggs (each a
        # SinglePartition exchange + broadcast), ratio broadcast, per-doc
        # (id,bucket) groupBy + fold groupBy + empty-doc restore join —
        # every shuffle bounded by B buckets or one row per doc
        "dsir_weights_documents": 13, "dsir_resample_documents": 13,
        # five lookups of one broadcast model relation (the unigram
        # total is a literal) + per-doc fold groupBy (model checkpointed
        # once; empty docs survive the posexplode_outer, no restore join)
        "stupid_backoff_documents": 9,
        # five lookups of one broadcast model relation (the totals are
        # literals) + per-doc fold groupBy + the input repartition (model
        # checkpointed once; empty docs survive the posexplode_outer)
        "kneser_ney_documents": 7,
        # two ranking windows (probe selection + final top-k) + assign
        "ivf_topk": 8,
        # history top-2 window + two op streams + full-outer + dim joins
        "housekeeping_gates": 8,
        # index anti-join (SMJ, index side not broadcastable at scale) +
        # novel-fp groupBy + semi-join back, over a two-branch union that
        # re-scans (not re-shuffles) the batch per reference
        "incremental_exact_dedup": 12,
        # index distinct + k-keyed left join + per-key stats (reusing the
        # join partitioning) + join-back + removal groupBy + rebuild join
        "incremental_line_dedup": 7,
        # multi-stage compositions
        "curation_pipeline_documents": 8, "dedup_conversations": 8,
        # gates window + conv-flatten groupBy + classifier (token groupBy,
        # fold groupBy, restore join) + two DSIR histograms + doc-bucket
        # groupBy + fold + top-k rank window + two broadcast joins back
        "curation_pipeline_v2": 20,
        # input repartition + (group,token) groupBy feed a checkpointed
        # counts frame; its three consumers (vocab rollup, G-row totals
        # broadcast, 1-row total broadcast) + token-keyed join + final
        # G-bounded groupBy are all vocabulary- or G-sized shuffles
        "domain_divergence_documents": 7,
        "user_sessions": 6, "transcripts_conversation_stats": 6,
        "conversation_stats_documents": 6,
        # composition of the full LSH top-k plan (bucket join + rank
        # windows) with the brute-force baseline plan + hit join + two
        # per-query aggs — both parents are individually budgeted; the
        # eval overlay adds the join and rollup exchanges
        "ann_recall_lsh": 10,
        # winnow window (id) + fp distinct + window-count cap on fp_hash
        # + self-join + pair groupBy (banding self-join family); the
        # candidate frame is lazily checkpointed, so the measured plan
        # is the post-cut tail
        "fingerprint_overlap_pairs": 7,
        "fingerprint_neardup_verified": 7,
        # three aggregation branches over the pruned fact scan (volume,
        # per-(source,lang) + per-source rollup, per-(source,fp) +
        # per-source rollup) + two broadcast joins on the 20-row key
        "corpus_report_documents": 14,
        # TWO winnowing chains (batch + the index built in the query's
        # setup: window + distinct each) + per-side window caps + the
        # probe join + pair groupBy — the probe itself adds only the
        # last two
        "incremental_fingerprint_overlap": 8,
        # four-operator composition: keep-best (one fp groupBy) + span
        # dedup (gram window + id-keyed rebuild groupBy) + zero-shuffle
        # chunking; the plan text holds the input repartition (_t_par)
        # and the fp exchange once per span-dedup branch (occurrences,
        # rebuild), ReusedExchange at runtime
        "dedup_stack_documents": 6,
        # input repartition (once per scan reference: the occurrence and
        # the rebuild branch, ReusedExchange at runtime) + the gram
        # window exchange + the id-keyed rebuild groupBy
        "span_dedup_documents": 4, "span_dedup_minlen_documents": 4,
    }
    default_budget = 5
    for name, (fn, _sql) in QUERIES.items():
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        n_ex = plan.count("Exchange")
        assert n_ex <= budgets.get(name, default_budget), \
            f"{name}: {n_ex} exchanges (budget {budgets.get(name, default_budget)})"


def test_bm25_is_an_inverted_index_probe(spark):
    """BM25 must aggregate only query-term postings (isin filter on the
    exploded terms) and finish with TakeOrdered, never a global sort."""
    from discoverx_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = bm25_topk(docs, "text", "doc_id", "table scan", k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "scan IN" in plan.replace("`", "") or "IN (" in plan  # postings filter
    assert "CartesianProduct" not in plan


def test_ivf_assign_broadcasts_centroids(spark):
    from discoverx_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = ivf_assign(emb, emb.filter(F.col("vec_id") < 16)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_partitioned_corpus_prunes_cells(spark, tmp_path):
    """The IVF scale path: corpus written partitioned by centroid_id, a
    probe of K cells must PRUNE the unprobed partitions at the source
    (PartitionFilters on the scan) — the property that turns a
    10^9-vector search into a K-cell read."""
    from discoverx_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8)
    path = str(tmp_path / "ivf_corpus")
    (emb.join(ivf_assign(emb, cents).withColumnRenamed("id", "vec_id"),
              "vec_id")
     .write.partitionBy("centroid_id").mode("overwrite").parquet(path))

    corpus = spark.read.parquet(path)
    probed = corpus.filter(F.col("centroid_id").isin(2, 5))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in \
        plan.split("PartitionFilters")[1][:120]
    # the pruned read really only touches the two probed cells
    assert probed.select("centroid_id").distinct().count() == 2
    n_cells = corpus.select("centroid_id").distinct().count()
    assert n_cells > 2   # pruning actually skipped partitions


def test_asof_join_single_exchange_no_nested_loop(spark):
    """The as-of join must be ONE shuffle on the key — never a
    BroadcastNestedLoopJoin (what a naive inequality join plans as)."""
    from discoverx_spark.queries import q_asof_join_events

    plan = q_asof_join_events(spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") == 1


def test_range_join_is_hash_join_not_nested_loop(spark):
    from discoverx_spark.queries import q_range_join_error_windows

    plan = q_range_join_error_windows(spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_ngram_diversity_zero_shuffle(spark):
    """Distinct-n ratios are a pure projection: nothing leaves the
    scan stage."""
    from discoverx_spark.queries import q_ngram_diversity_documents

    plan = q_ngram_diversity_documents(spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0


def test_winnow_shuffle_carries_longs_not_grams(spark):
    """The winnowing window shuffles (id, pos, hash-long) rows only —
    the gram string is hashed BEFORE the exchange, so text never rides
    the shuffle."""
    from discoverx_spark.operators.fingerprint import winnow_fingerprints

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = winnow_fingerprints(docs, "text", "doc_id", hash_mode="xxhash64")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the exchange's partitioning/output must not mention the gram col
    ex = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert ex and all("gram" not in ln for ln in ex)


def test_bloom_probe_single_arrow_stage(spark):
    """bloom_prefilter_novel evaluates the membership UDF once, on the
    checkpointed side of the lineage cut: the post-cut plan must show NO
    ArrowEvalPython at all (both output branches read the materialized
    probe column instead of re-running the UDF)."""
    from discoverx_spark.operators.bloom import bloom_prefilter_novel

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .selectExpr("doc_id", "text")
    index = docs.filter("doc_id % 2 = 0").selectExpr("text AS key")
    batch = docs.filter("doc_id % 2 = 1").selectExpr("doc_id", "text AS key")
    plan = bloom_prefilter_novel(batch, index, "key", expected_items=512) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 0  # probe ran pre-checkpoint


def test_chunk_documents_tokenizes_once(spark):
    """The token array must be evaluated only inside the Generate: a
    sibling size(toks) projection lands ABOVE the explode and re-runs
    the full-text regex once per output row (measured O(tokens × text)
    per document)."""
    from discoverx_spark.operators.packing import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    opt = chunk_documents(docs, "doc_id", "text", 32, 8) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("regexp_extract_all") == 1


def test_span_dedup_tokenizes_once(spark):
    """The lowercase token array sits behind a Generate barrier, so the
    shingle expression's references to it read an attribute, and the
    gram election is one window pass over one occurrence stream: one
    lowercase regex plus the rebuild's original-case one.  Inlined, the
    window=8 plan held 75 calls."""
    from discoverx_spark.operators.dedup import span_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    opt = span_dedup(docs, "text", "doc_id", window=8) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("regexp_extract_all") == 2


@pytest.mark.parametrize("name", ["dedup_keep_best_documents",
                                  "span_dedup_documents",
                                  "dedup_stack_documents"])
def test_dedup_plans_join_nothing_back(spark, name):
    """Keep-best carries the winning row out of its one aggregation and
    span dedup elects in a window and rebuilds in one grouped pass, so
    no stage joins back to its own input."""
    assert "Join" not in plan_of(spark, name)


def test_dedup_stack_file_count_is_stable(spark, tmp_path):
    """The write's parallelism follows the plan, not which query stage
    finishes first: three writes give the same number of files."""
    counts = set()
    for i in range(3):
        out = tmp_path / f"run{i}"
        QUERIES["dedup_stack_documents"][0](spark, SF).write.parquet(str(out))
        counts.add(len(list(out.glob("*.parquet"))))
    assert len(counts) == 1


def test_lm_broadcast_auto_policy(spark, monkeypatch):
    """broadcast='auto' keys the model-side JOIN STRATEGY off the
    materialized model row count (VERDICT r5 #1): under the threshold
    the model lookups ride broadcast hash joins; over it (threshold
    patched to 0 to simulate a web-scale trigram table) NO model relation
    is broadcast, so a 10⁹-row model can never OOM the driver through a
    forced hint.  Both scorers read their totals from the model probe as
    plan literals (Stupid Backoff's unigram total, Kneser-Ney's N₁₊(··)
    and V), so neither broadcasts a totals frame."""
    from discoverx_spark.functions import ngram_lm
    from discoverx_spark.functions.kneser_ney import (kneser_ney_model,
                                                      kneser_ney_score)
    from discoverx_spark.functions.ngram_lm import (stupid_backoff_score,
                                                    word_ngram_counts)

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text").limit(40)

    def plans():
        sb = stupid_backoff_score(
            docs, "text", "doc_id", word_ngram_counts(docs, "text")) \
            ._jdf.queryExecution().executedPlan().toString()
        kn = kneser_ney_score(
            docs, "text", "doc_id", kneser_ney_model(docs, "text")) \
            ._jdf.queryExecution().executedPlan().toString()
        return sb, kn

    sb_small, kn_small = plans()
    # small model: the five lookups of the one model relation each and
    # no totals broadcast (Stupid Backoff's five share one broadcast at
    # run time; Kneser-Ney's share two, one per pruned projection)
    assert sb_small.count("BroadcastExchange") == 5
    assert kn_small.count("BroadcastExchange") == 5
    assert "SortMergeJoin" not in sb_small

    # "huge" model: patch the policy threshold to 0 AND disable the
    # planner's own estimate-based auto-broadcast (a real 10⁹-row model
    # would blow the estimate; the tiny fixture would not) — with the
    # hint gone, no model relation may be broadcast
    monkeypatch.setattr(ngram_lm, "LM_BROADCAST_MAX_ROWS", 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        sb_big, kn_big = plans()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert sb_big.count("BroadcastExchange") == 0
    assert kn_big.count("BroadcastExchange") == 0
    assert ("SortMergeJoin" in sb_big) or ("ShuffledHashJoin" in sb_big)
    assert ("SortMergeJoin" in kn_big) or ("ShuffledHashJoin" in kn_big)


def test_t_par_sizes_partitioned_datasets_recursively(spark, tmp_path,
                                                      monkeypatch):
    """A ``key=value/`` partitioned dataset keeps its data files one level
    down: _t_par must size them there, so an input above the per-slot
    threshold is read as is, with no round-robin repartition."""
    from discoverx_spark import queries

    spark.range(200).select("id", (F.col("id") % 4).alias("key")) \
        .write.partitionBy("key").parquet(str(tmp_path / "parts.parquet"))

    def plan():
        return queries._t_par(spark, str(tmp_path), "parts") \
            ._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(queries, "_PAR_MIN_BYTES_PER_SLOT", 1 << 30)
    assert "RoundRobinPartitioning" in plan()  # small input: spread it
    monkeypatch.setattr(queries, "_PAR_MIN_BYTES_PER_SLOT", 1)
    assert "RoundRobinPartitioning" not in plan()
