"""Plan-shape regression tests (SURVEY.md section 4): the scale properties
are pinned as plan assertions, not prose."""

from pyspark.sql import functions as F

from ocr_proofreader_spark.config import RunConfig
from ocr_proofreader_spark.lexicon import broadcast_lexicon
from ocr_proofreader_spark.operators.proofread import proofread_fast
from ocr_proofreader_spark.operators.word_freq import word_freq
import plan_shapes as P


def test_fast_path_is_shuffle_free(spark, corpus_small, base_lexicon):
    docs = spark.read.parquet(f"{corpus_small}/documents.parquet")
    lex_bc = broadcast_lexicon(spark, base_lexicon)
    out = proofread_fast(docs, lex_bc, RunConfig())  # no rebalance
    assert P.count_exchanges(out) == 0
    assert "MapInPandas" in P.physical_plan(out)


def test_rebalance_adds_exactly_one_hash_exchange(spark, corpus_small,
                                                  base_lexicon):
    """r6: hash repartition by doc_id, NOT repartitionByRange — range
    partitioning runs a boundary-sampling job that re-executes the
    whole child plan (a second full scan of the spans payload) before
    the real exchange.  Both callers of the one placement guard
    (``partitioning.spread_input``) are pinned on both sides of it: a
    narrow input gets exactly one hash exchange, an input already split
    to the session parallelism gets none added."""
    from ocr_proofreader_spark.partitioning import spread_input

    docs = spark.read.parquet(f"{corpus_small}/documents.parquet")
    lex_bc = broadcast_lexicon(spark, base_lexicon)
    parallelism = spark.sparkContext.defaultParallelism
    callers = {
        "proofread_fast": lambda df: proofread_fast(
            df, lex_bc, RunConfig(rebalance_partitions=8)),
        "spread_input": lambda df: spread_input(df, "doc_id"),
    }
    narrow = docs
    assert narrow.rdd.getNumPartitions() < parallelism
    wide = docs.repartition(2 * parallelism)   # round-robin, no doc_id
    for name, place in callers.items():
        out = place(narrow)
        plan = P.physical_plan(out)
        assert P.count_exchanges(out) == 1, name
        assert "hashpartitioning(doc_id" in plan, name
        assert "rangepartitioning" not in plan, name

        out = place(wide)
        assert P.count_exchanges(out) == P.count_exchanges(wide), name
        assert "hashpartitioning(doc_id" not in P.physical_plan(out), name


def test_word_freq_has_mapside_combine_single_shuffle(spark, corpus_small):
    docs = spark.read.parquet(f"{corpus_small}/documents.parquet")
    wf = word_freq(docs)
    assert P.has_partial_aggregate(wf)
    assert P.count_exchanges(wf) == 1


def test_scan_prunes_columns(spark, corpus_small):
    docs = spark.read.parquet(f"{corpus_small}/documents.parquet")
    only_ids = docs.select("doc_id")
    lines = [ln for ln in P.formatted_plan(only_ids).splitlines()
             if "ReadSchema" in ln]
    assert lines, "formatted plan should expose ReadSchema"
    assert "spans" not in lines[0]  # column pruning reached the scan


def test_filter_pushdown_reaches_scan(spark):
    df = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .filter(F.col("doc_id") > 10).select("doc_id"))
    pushed = P.pushed_filters(df)
    assert "GreaterThan" in pushed or "doc_id" in pushed


def test_embedding_blocked_ops_avoid_cartesian(spark):
    """The scale-path similarity ops must never plan a CartesianProduct:
    LSH candidates come from an equi-join on band codes (hash-join
    family), and IVF's top-k is a TakeOrderedAndProject, not a global
    sort.  The exact near-dup baseline IS an all-pairs theta-join — it
    plans as a broadcast nested loop by design (it is the oracle, not
    the scale path)."""
    import os

    import pytest

    from ocr_proofreader_spark.operators import training_ops as ops
    src = "/root/testdata/sf0.001/embeddings.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    emb = spark.read.parquet(src)

    lsh = P.physical_plan(ops.embedding_near_dup_lsh(emb))
    assert "CartesianProduct" not in lsh
    assert "BroadcastNestedLoopJoin" not in lsh
    assert "HashJoin" in lsh  # Broadcast- at test scale, Shuffled- at SF

    ivf = P.physical_plan(ops.ann_topk_ivf(emb))
    assert "CartesianProduct" not in ivf
    assert "TakeOrderedAndProject" in ivf

    exact = P.physical_plan(ops.embedding_near_dup(emb))
    assert "CartesianProduct" not in exact
    assert "BroadcastNestedLoopJoin" in exact


def test_new_ops_plan_shapes(spark):
    """Round-2 operators keep plan discipline: the quality/fingerprint
    scans never shuffle, the multi-table LSH probe is shuffle-free
    before its top-k, and tfidf's only shuffles are its two aggregates
    plus the top-k window (corpus size joins as a broadcast)."""
    import os

    import pytest

    from ocr_proofreader_spark.operators import training_ops as ops
    src = "/root/testdata/sf0.001"
    if not os.path.isdir(src):
        pytest.skip("driver testdata missing")
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(src, "embeddings.parquet"))

    assert P.count_exchanges(ops.quality_metrics(docs)) == 0
    assert P.count_exchanges(ops.doc_fingerprint_rolling(docs)) == 0

    lsh = ops.ann_topk_lsh(emb)
    plan = P.physical_plan(lsh)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert P.count_exchanges(lsh) == 0      # probe + rerank, no shuffle

    tfidf = ops.tfidf_top_terms(docs)
    plan = P.physical_plan(tfidf)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row corpus-size join
    assert P.has_partial_aggregate(tfidf)
    # df must be a partial+final aggregate joined on word — never a
    # Window.partitionBy(word) count (stopword partitions = n_docs
    # rows in one straggler task; r5 fix).  The only window left is
    # the doc_id-keyed top-k, and WindowGroupLimit pushes its k=3
    # limit map-side.
    assert "windowspecdefinition(word" not in plan
    assert plan.count("windowspecdefinition") == 1
    assert "windowspecdefinition(doc_id" in plan
    assert "WindowGroupLimit" in plan
    # tf agg + tf-by-word + df agg-by-word + top-k by doc + the 1-row
    # SinglePartition gather for the corpus count
    assert P.count_exchanges(tfidf) == 5


def test_label_centroid_no_vector_collect(spark):
    """Centroid building must aggregate per (label, dim) cell — a
    constant-size buffer — never collect_list whole member vectors into
    one reducer (the round-2 scale-killer shape).  The only collect_list
    allowed is the dim-bounded (dim, sum) array rebuild."""
    import os

    import pytest

    from ocr_proofreader_spark.operators import training_ops as ops
    src = "/root/testdata/sf0.001/embeddings.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    emb = spark.read.parquet(src)
    plan = P.physical_plan(ops.label_centroid_sim(emb))
    assert "collect_list(embedding" not in plan
    assert "posexplode" in plan.lower() or "Generate" in plan
    assert P.has_partial_aggregate(ops.label_centroid_sim(emb))


def test_range_join_avoids_nested_loop(spark):
    """The range join must plan as a bin-bucketized equi hash join —
    never the BroadcastNestedLoop/Cartesian a raw BETWEEN theta-join
    would produce (quadratic per user at scale)."""
    import os

    import pytest

    from ocr_proofreader_spark.operators.relational import range_join_events
    src = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    ev = spark.read.parquet(src)
    plan = P.physical_plan(range_join_events(ev))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_line_dedup_no_hot_key_window(spark):
    """First-writer-wins line selection must be a partial+final
    aggregate — min(struct(doc_id, idx)) per line — never a
    Window.partitionBy(line)/row_number, which drags every occurrence
    of a 10^9-copy boilerplate line into one straggler partition with
    no map-side reduction (the round-3 verdict's top finding)."""
    import os

    import pytest

    from ocr_proofreader_spark.operators import training_ops as ops
    src = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    docs = spark.read.parquet(src)
    out = ops.line_dedup_corpus(docs)
    plan = P.physical_plan(out)
    assert "row_number" not in plan
    assert "partial_min" in plan   # map-side combine on the line key
    # the only Window-free selection: no Window operator at all
    assert "Window" not in plan


def test_unigram_logprob_broadcasts_freq(spark):
    """The tokens-to-frequency join must broadcast the vocabulary-sized
    freq side — a shuffle hash join keyed on the Zipf-skewed `word`
    would straggle on stopwords at corpus scale.  The remaining
    word-keyed exchange is the freq AGGREGATE, which pre-reduces hot
    keys map-side (partial_count)."""
    import os

    import pytest

    from ocr_proofreader_spark.operators import training_ops as ops
    src = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    docs = spark.read.parquet(src)
    out = ops.unigram_logprob(docs)
    plan = P.physical_plan(out)
    assert "BroadcastHashJoin" in plan
    assert P.has_partial_aggregate(out)
    # no ShuffledHashJoin / SortMergeJoin may land on the word key
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_ivf_cell_partition_pruning(spark, tmp_path):
    """SCALE.md's IVF claim, substantiated: with embeddings stored
    PARTITIONED BY their IVF cell, the probe's cell filter prunes at
    the source — the scan reads only n_probe of n_cells partitions
    (PartitionFilters in the plan, non-probed files never opened)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from ocr_proofreader_spark.operators import training_ops as ops
    src = "/root/testdata/sf0.001/embeddings.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    emb = spark.read.parquet(src)
    cents = ops._ivf_centroids(emb)
    assigned = ops.ivf_assign(emb, cents)
    store = str(tmp_path / "emb_by_cell")
    assigned.write.partitionBy("cell").parquet(store)

    qv = ops._query_vec(emb)
    probe = ops.ivf_probe_cells(qv, cents)
    scan = spark.read.parquet(store).filter(F.col("cell").isin(probe))
    plan = P.physical_plan(scan)
    # the cell predicate must land in the scan's PARTITION filters (an
    # unpartitioned filtered scan prints 'PartitionFilters: []', so the
    # non-empty-list match is the real assertion)
    import re
    m = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert m is not None and "cell" in m.group(1), plan
    # the physical proof: only the probed partitions' rows are read,
    # and the probed-cell row count matches the unpartitioned filter
    expected = assigned.filter(F.col("cell").isin(probe)).count()
    assert scan.count() == expected
    assert expected < assigned.count()   # pruning is real, not vacuous


def test_round4_ops_plan_shapes(spark):
    """Round-4 operators keep plan discipline: the PII scrub is a
    shuffle-free projection, the contamination probe broadcasts its
    (small) benchmark side as a semi-join, the simhash pairing is an
    equi hash join (never a nested loop), and the quality verdict
    carries map-side combines for its aggregates."""
    import os

    import pytest

    from ocr_proofreader_spark.operators import training_ops as ops
    src = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    docs = spark.read.parquet(src)

    assert P.count_exchanges(ops.pii_scrub(docs)) == 0

    cont = ops.benchmark_contamination(docs)
    plan = P.physical_plan(cont)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

    near = ops.simhash_near_dup(docs)
    plan = P.physical_plan(near)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan
    assert P.has_partial_aggregate(near)       # fingerprint bit votes

    qf = ops.quality_filter(docs)
    plan = P.physical_plan(qf)
    assert "CartesianProduct" not in plan
    assert P.has_partial_aggregate(qf)


def test_relational_patterns_plan_shapes(spark):
    """The EXISTS check plans as a LEFT SEMI join (never join+distinct
    fanout), the distribution query keeps partial aggregates, and the
    decorrelated above-average query broadcasts its nation-sized
    aggregate side."""
    import os

    import pytest

    from ocr_proofreader_spark.operators import relational as rel
    src = "/root/testdata/sf0.001"
    if not os.path.isdir(src):
        pytest.skip("driver testdata missing")
    orders = spark.read.parquet(os.path.join(src, "orders.parquet"))
    lineitem = spark.read.parquet(os.path.join(src, "lineitem.parquet"))
    customer = spark.read.parquet(os.path.join(src, "customer.parquet"))

    late = rel.late_shipment_orders(orders, lineitem)
    plan = P.physical_plan(late)
    assert "LeftSemi" in plan
    assert P.has_partial_aggregate(late)

    dist = rel.order_count_distribution(customer, orders)
    assert P.has_partial_aggregate(dist)
    assert "CartesianProduct" not in P.physical_plan(dist)

    above = rel.above_avg_balance(customer)
    plan = P.physical_plan(above)
    assert "BroadcastHashJoin" in plan
    assert P.has_partial_aggregate(above)


def test_minhash_candidates_no_hot_bucket_window(spark):
    """The LSH bucket-size cap must count buckets with a partial+final
    groupBy aggregate and remove over-cap buckets via a broadcast
    left-anti blacklist — never Window.partitionBy(band, sig), which
    drags every row of a 10^9-copy degenerate bucket into one straggler
    partition just to count it (the round-4 verdict's only scale
    finding; same disease the r3 verdict killed in line_dedup)."""
    import os

    import pytest

    from ocr_proofreader_spark.operators import training_ops as ops
    src = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    docs = spark.read.parquet(src)
    out = ops.minhash_candidates(docs)
    plan = P.physical_plan(out)
    assert "Window" not in plan
    assert "partial_count" in plan      # map-side reduced bucket sizes
    assert "BroadcastHashJoin" in plan  # the anti-join blacklist
    assert "LeftAnti" in plan


def test_minhash_self_join_broadcasts_without_hint(spark, tmp_path):
    """The LSH self-join carries no broadcast hint: on a small signature
    table the planner picks a broadcast hash join from its size, and with
    broadcasting off (a table past the threshold at scale) it falls back
    to a sort-merge join instead of failing or collecting to the
    driver."""
    from ocr_proofreader_spark.operators import training_ops as ops
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over the lazy dog")
         for i in range(6)], "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)  # a file scan: its size is known

    def self_join(plan: str) -> str:
        [line] = [ln for ln in plan.splitlines() if "Inner" in ln]
        return line

    assert "BroadcastHashJoin" in self_join(
        P.physical_plan(ops.minhash_candidates(docs)))

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = P.physical_plan(ops.minhash_candidates(docs))
    finally:
        spark.conf.set(key, old)
    assert "SortMergeJoin" in self_join(plan)
    # the over-cap blacklist keeps its broadcast hint either way
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_n_spans_column_prunes_branch_scans(spark, corpus_small,
                                            base_lexicon, tmp_path):
    """The fast/skew split normally needs size(spans), which no parquet
    reader can push — at 100 TB that is a double full scan.  When the
    input persists an n_spans column, BOTH branch filters must reach
    the scan as pushed data filters (row-group min/max pruning), and
    the output must be byte-identical to the size(spans) path."""
    from pyspark.sql import functions as F

    from ocr_proofreader_spark.config import RunConfig
    from ocr_proofreader_spark.lexicon import broadcast_lexicon
    from ocr_proofreader_spark.operators.proofread import proofread

    docs = spark.read.parquet(f"{corpus_small}/documents.parquet")
    with_col = docs.withColumn("n_spans", F.size("spans"))
    dst = str(tmp_path / "docs_nspans")
    with_col.write.parquet(dst)
    docs2 = spark.read.parquet(dst)
    assert "n_spans" in docs2.columns

    # threshold at the median span count so BOTH branches are non-empty:
    # r6's emptiness probe otherwise (correctly) drops the skew arm from
    # the plan before there is a GreaterThan filter to pin
    med = int(docs.selectExpr(
        "percentile(size(spans), 0.5) as m").collect()[0]["m"])
    cfg = RunConfig(chunk_threshold_spans=max(1, med))
    n_big = docs.filter(F.size("spans")
                        > cfg.chunk_threshold_spans).count()
    assert 0 < n_big < docs.count()

    lex_bc = broadcast_lexicon(spark, base_lexicon)
    out_plain = proofread(spark, docs, cfg, lex_bc)
    out_pruned = proofread(spark, docs2, cfg, lex_bc)

    # plan: every documents scan in the pruned variant carries an
    # n_spans predicate in PushedFilters (both branches)
    fmt = P.formatted_plan(out_pruned)
    pushed = [ln.strip() for ln in fmt.splitlines()
              if "PushedFilters" in ln and "n_spans" in ln]
    assert any("LessThanOrEqual(n_spans" in ln for ln in pushed), fmt
    assert any("GreaterThan(n_spans" in ln for ln in pushed), fmt

    # results identical to the size(spans) route
    a = sorted(out_plain.collect(), key=lambda r: r["doc_id"])
    b = sorted(out_pruned.collect(), key=lambda r: r["doc_id"])
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_top_words_per_lang_group_limit(spark):
    """The per-lang top-k window is only scale-safe because
    WindowGroupLimit bounds it map-side (partial + final): without it,
    one lang's whole vocabulary sorts in a single task.  Pin both
    phases so a regression (e.g. an orderBy change that defeats the
    rank-limit pushdown) fails loudly."""
    import os

    import pytest

    from ocr_proofreader_spark.operators import relational as rel
    src = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(src):
        pytest.skip("driver testdata missing")
    docs = spark.read.parquet(src)
    plan = P.physical_plan(rel.top_words_per_lang(docs))
    assert plan.count("WindowGroupLimit") == 2   # Partial + Final
