"""Plan-shape assertions (SURVEY.md §5.2.5): the physical plans the design
depends on at 100 TB — column pruning of html:binary, broadcast fetch join
with an unshuffled corpus side, predicate pushdown to parquet, salted
vs unsalted budget window shapes."""

import pytest
from pyspark.sql import functions as F

from sparkcrawl.config import CrawlConfig
from sparkcrawl.frontier import label_candidates, with_bucket


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def pages_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planshape")) + "/pages_idx"
    rows = [(i % 4, i, f"http://h{i}.example/", f"http://h{i}.example/", b"<html></html>")
            for i in range(100)]
    spark.createDataFrame(
        rows, "bucket int, url_hash long, canon string, page_url string, html binary"
    ).write.partitionBy("bucket").parquet(d)
    return spark.read.parquet(d)


def test_html_pruned_from_slim_scan(pages_idx):
    """Frontier-side reads never scan the binary column (F6): the parquet
    ReadSchema must exclude html when only keys are selected."""
    plan = _plan(pages_idx.select("bucket", "url_hash", "canon"))
    assert "html" not in plan, plan


def test_fetch_join_broadcasts_batch_not_corpus(spark, pages_idx):
    keys = spark.createDataFrame(
        [(i % 4, i, f"http://h{i}.example/") for i in range(10)],
        "bucket int, url_hash long, canon string",
    )
    joined = pages_idx.join(
        F.broadcast(keys), ["bucket", "url_hash", "canon"], "inner"
    )
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    # the corpus side streams: no shuffle exchange anywhere in the plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_redirect_leg_scans_slim_index_not_corpus(spark, tmp_path_factory):
    """The per-round redirect leg must scan the one-time redirects_idx table
    (VERDICT r3 #4): no pages_idx scan node, no html column anywhere in the
    leg's plan — on a 10^10-page corpus the 3xx rows are hash-scattered, so
    a pages_idx scan per round prunes nothing and reads the whole corpus's
    metadata+columns thousands of times."""
    from sparkcrawl.rounds import prepare_pages
    from sparkcrawl.snapstore import SnapStore
    from sparkcrawl.synth import generate

    corpus = str(tmp_path_factory.mktemp("redirplan"))
    generate(corpus, seed=7, n_hosts=3, pages_per_host=30, n_seeds=3)
    store = SnapStore(str(tmp_path_factory.mktemp("redirstore")))
    prepare_pages(spark, store, corpus + "/pages.parquet")
    keys = spark.createDataFrame(
        [(0, 1, "http://h0.example/")],
        "bucket int, url_hash long, canon string",
    )
    leg = store.read(spark, "redirects_idx").join(
        F.broadcast(keys), ["bucket", "url_hash", "canon"], "inner"
    )
    plan = _plan(leg)
    assert "redirects_idx" in plan, plan
    assert "pages_idx" not in plan, plan
    assert "html" not in plan, plan


def test_fetch_guard_controls_broadcast_hint(spark, pages_idx):
    """fetch_broadcast_max guard (VERDICT r3 #5): under the threshold the
    batch side carries a broadcast hint (BHJ even with stats-based broadcast
    disabled); past it no hint is forced — with autoBroadcast disabled the
    plan must fall back to a non-broadcast join, i.e. a round batch larger
    than executor memory can never be forced into a broadcast."""
    keys = spark.createDataFrame(
        [(i % 4, i, f"http://h{i}.example/") for i in range(10)],
        "bucket int, url_hash long, canon string",
    )
    on = ["bucket", "url_hash", "canon"]
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = _plan(pages_idx.join(F.broadcast(keys), on, "inner"))
        unhinted = _plan(pages_idx.join(keys, on, "inner"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" in hinted, hinted
    assert "BroadcastHashJoin" not in unhinted, unhinted


def test_parquet_filter_pushdown(pages_idx):
    plan = _plan(pages_idx.filter(F.col("url_hash") == 7).select("canon"))
    assert "PushedFilters: [" in plan and "url_hash" in plan.split("PushedFilters")[1][:120], plan


def test_partition_pruning_on_bucket(pages_idx):
    plan = _plan(pages_idx.filter(F.col("bucket") == 2).select("canon"))
    # partition filter appears as a partition filter, not a data filter
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120], plan


def _cand(spark):
    return spark.createDataFrame(
        [(f"http://h{i%3}.example/p{i}", f"http://h{i%3}.example/p{i}", i,
          f"h{i%3}.example", 0, 0, i, 0, None, True, 8)
         for i in range(30)],
        "url string, canon string, url_hash long, host string, depth int, "
        "priority int, seq long, discovered_round int, parent_url string, "
        "allowed boolean, cap int",
    )


def test_budget_window_salted_vs_direct(spark):
    cfg = CrawlConfig()
    salted = _plan(label_candidates(_cand(spark), cfg, salt=True))
    direct = _plan(label_candidates(_cand(spark), cfg, salt=False))
    # two window exchanges when salted (host+salt then host), one when not
    # (formatted explain mentions each Window node twice: tree + detail)
    assert direct.count("Window") == 2, direct
    assert salted.count("Window") == 2 * direct.count("Window")
    # identical verdicts either way (the semantic pin behind the switch)
    a = sorted(
        (r["url"], r["verdict"])
        for r in label_candidates(_cand(spark), cfg, salt=True).collect()
    )
    b = sorted(
        (r["url"], r["verdict"])
        for r in label_candidates(_cand(spark), cfg, salt=False).collect()
    )
    assert a == b


def test_tpch_pushdown(spark):
    from sparkcrawl.queries import queries

    df = queries()["tpch_q3"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "c_mktsegment" in plan  # the dimension filter reached the scan


def test_ann_multiprobe_uses_persisted_index(spark):
    """The IVF multiprobe plan must scan the build-once centroid index table
    instead of re-deriving centroids by exploding the full embeddings table
    inside the query (VERDICT r2 #4): exactly one Generate (posexplode) node
    — the single query vector — and a scan of the index parquet."""
    from sparkcrawl.queries import queries

    from sparkcrawl.indexstore import store_root

    df = queries()["ann_ivf_multiprobe"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # the index SnapStore table is scanned (VERDICT r4 #2: committed store
    # artifact, not a scratch parquet dir)
    assert store_root() in plan and "ivf_" in plan, plan
    # formatted explain names each node in tree + detail ⇒ 2 lines per node;
    # one posexplode total = the query vector, not the full table
    assert plan.count("Generate") <= 2, plan


def test_batch_dedup_agg_is_partial_no_window(spark):
    """The batch-dedup winner selection (rounds.py) must be an aggregation
    WITH a map-side partial phase and NO window: the round-1 row_number
    window shuffled + globally sorted every exploded link row (zero map-side
    reduction) and was the measured scaling bottleneck. A struct-valued
    min_by buffer is var-length, so Spark plans SortAggregate (per-partition
    sort by the group key) rather than HashAggregate — acceptable: the
    shuffle still carries one partially-aggregated row per (partition,
    canon), which is the property that matters at scale."""
    from sparkcrawl.frontier import FRONTIER_COLS

    cand = spark.createDataFrame(
        [(f"u{i % 7}", f"c{i % 7}", i, f"h{i % 3}", 1, 0, i, 0, None, 0, 0,
          None, i % 4)
         for i in range(50)],
        "url string, canon string, url_hash long, host string, depth int, "
        "priority int, seq long, discovered_round int, parent_url string, "
        "retries int, redirects int, meta string, bucket int",
    )
    rank1 = (
        cand.groupBy("canon")
        .agg(F.min_by(
            F.struct(*[c for c in FRONTIER_COLS if c != "canon"], "bucket"),
            F.col("seq")).alias("_w"))
        .select("canon", "_w.*")
    )
    plan = _plan(rank1)
    assert "partial_min_by" in plan, plan  # map-side combine before shuffle
    assert "Window" not in plan, plan


def test_paragraph_dedup_single_text_pass(spark):
    """The paragraph_dedup twin must explode the text column ONCE: the chunk
    set is persisted and both consumers (docfreq agg, join-back) read the
    cache — the plain-SQL CTE plan scanned+exploded text twice. Formatted
    plans inline the cache-build subplan per InMemoryTableScan reference, so
    the assertable property is: every parquet scan of documents sits UNDER
    an InMemoryTableScan (cache materialization), and only doc_id+text are
    read."""
    from sparkcrawl.queries import queries

    df = queries()["paragraph_dedup"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "InMemoryTableScan" in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert "Window" not in plan and "CartesianProduct" not in plan, plan


def test_pagerank_builds_edges_once_no_nested_loop(spark):
    """The pagerank twin must join each iteration against the PERSISTED edge
    table: the unrolled-CTE SQL re-inlined the edges CTE into every
    iteration (72 parquet scans for 5 iterations) and attached the COUNT(*)
    scalar via a BroadcastNestedLoopJoin. The twin's plan has cached edges
    (InMemoryTableScan), no nested-loop join, and reads only doc_id."""
    from sparkcrawl.queries import queries

    df = queries()["pagerank"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "InMemoryTableScan" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan
    assert "text" not in plan, plan  # column pruning: rank never reads text


def test_lm_perplexity_vocab_cached_scalar_not_nested_loop(spark):
    """The lm_perplexity twin is the two-pass CCNet shape: the vocab
    aggregate is persisted (InMemoryTableScan) and the total-token count is
    a driver-side literal — the plain-SQL CTE plan re-exploded the text
    three times and attached the scalar via a nested-loop join. The scoring
    pass reads only doc_id+text (the vocab build only text)."""
    from sparkcrawl.queries import queries

    df = queries()["lm_perplexity"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "InMemoryTableScan" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_dup_spans_single_gram_pass(spark):
    """The dup_spans twin must explode-and-hash the text ONCE: the gram
    table is persisted and both consumers (dup-gram agg, join-back) read
    the cache — the plain-SQL CTE plan would scan+explode text twice. Also
    no Window and no nested loop: the dup join is a hash equi-join on the
    gram hash."""
    from sparkcrawl.queries import queries

    df = queries()["dup_spans"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "InMemoryTableScan" in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan and "CartesianProduct" not in plan, plan


def test_semdedup_join_is_cluster_equi_join(spark):
    """SemDeDup's pair generation must hash-partition on the cluster label
    (an equi-join — Σ|cell|² work), never a nested-loop over all pairs
    (n² work): the vec_id < ordering and the cosine threshold are
    post-join filters, not join strategies."""
    from sparkcrawl.queries import queries

    df = queries()["semdedup"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "label" in plan, plan


def test_shard_assign_no_global_sort(spark):
    """shard_assign's window sorts WITHIN each hash-partitioned shard (the
    per-output-file writer order): the plan must hash-partition on the
    shard expression and contain no range-partitioned (global) sort."""
    from sparkcrawl.queries import queries

    df = queries()["shard_assign"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # formatted plans put the partitioning in the Exchange node's Arguments
    assert "hashpartitioning" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan


def test_kmeans_assignment_is_joinless_over_cached_quantized_vecs(spark):
    """The kmeans_embed twin folds the final assignment map-side against
    driver-held centroid literals over the PERSISTED quantized vectors: no
    join of any kind in the returned plan (the plain-SQL unrolled plan runs
    11 parquet scans and a join per distance round), one InMemoryTableScan,
    and the scan reads only vec_id+embedding."""
    from sparkcrawl.queries import queries

    df = queries()["kmeans_embed"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "InMemoryTableScan" in plan, plan
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan  # assignment itself never shuffles
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in plan, plan


def test_winnowing_single_shingle_pass_hash_stream_only(spark):
    """The winnowing twin explodes+hashes the text ONCE (persisted hash
    stream feeds the count, window and short-doc branches — the SQL's g CTE
    is referenced three times) and shuffles only the 8-byte hash stream:
    every parquet scan sits under the cache and reads only doc_id+text."""
    from sparkcrawl.queries import queries

    df = queries()["winnowing"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "InMemoryTableScan" in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mixture_weights_one_text_pass_broadcast_joinback(spark):
    """The mixture_weights twin projects the token counts ONCE (persisted),
    reads the 5-row language table driver-side, and broadcasts the weights
    back — no shuffle join, no second text pass."""
    from sparkcrawl.queries import queries

    df = queries()["mixture_weights"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "InMemoryTableScan" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string,lang:string>" in plan, plan


def test_bm25_single_text_pass_no_join(spark):
    """The bm25_search twin splits the text ONCE (persisted slim tf
    projection) and inlines the 1-row corpus stats as literals: no join of
    any kind in the scoring plan — the shared SQL's CROSS JOIN g attaches
    the stats via a nested loop and re-splits the text per tf column."""
    from sparkcrawl.queries import queries

    df = queries()["bm25_search"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "InMemoryTableScan" in plan, plan
    assert "Join" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_asof_join_is_one_window_no_range_join(spark):
    """The as-of join must plan as the union-tag + running-MAX window (one
    Window node, equi-join back for the payload) — never a per-row
    inequality probe: Spark plans a non-equi join condition as
    BroadcastNestedLoopJoin, O(n·m) at the design point."""
    from sparkcrawl.queries import queries

    df = queries()["asof_join"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # formatted explain = tree line + detail block per node: exactly one
    # Window node (the running MAX over purchase timestamps)
    assert 1 <= plan.count("Window") <= 2, plan


def test_range_join_is_bucketed_equi_join(spark):
    """The Spark side of range_join must run the time-bucketed formulation:
    every join is an equi-join on (user_id, bin) / p_event_id — no
    nested-loop or cartesian node anywhere (the naive inequality join the
    DuckDB oracle runs would plan as BroadcastNestedLoopJoin on Spark)."""
    from sparkcrawl.queries import queries

    df = queries()["range_join"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bpe_wordcount_shuffles_words_not_text(spark):
    """bpe_merges' only corpus-sized stage is the word-count aggregate:
    map-side partial count, ONE exchange hash-partitioned on the slim
    word column — the text column exists only in the scan. Every merge
    iteration after this runs over the |vocab|-row result."""
    from sparkcrawl.queries import _bpe_word_counts, register_views

    register_views(spark, "/root/testdata/sf0.001")
    plan = _plan(_bpe_word_counts(spark))
    assert "partial_count" in plan, plan
    assert "hashpartitioning(word" in plan, plan
    # the one exchange ships exactly the slim (word, partial count) pair —
    # the text column exists only in the scan-side nodes
    import re

    assert re.search(r"\(\d+\) Exchange\nInput \[2\]: \[word#", plan), plan


@pytest.mark.parametrize("name", ["quality_classifier", "badwords_filter",
                                  "gopher_rules"])
def test_filter_passes_are_map_only(spark, name):
    """quality_classifier and badwords_filter are the pipeline's model-
    inference / blocklist filter stages: ONE whole-stage-codegen projection
    over (doc_id[, lang], text) — no Exchange, no Join, no explode
    (Generate), and the parquet scan prunes to the consumed columns."""
    from sparkcrawl.queries import queries

    df = queries()[name](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan
    # formatted explain marks codegen per node; the higher-order aggregate
    # lambda itself is interpreted, but the surrounding stages must codegen
    assert "[codegen id :" in plan, plan
    assert "text:string" in plan and "html" not in plan, plan


def test_ann_pq_probes_persisted_index_distributed_topk(spark):
    """The PQ probe must scan the persisted codes/codebook parquet (the
    full-embeddings explode lives in the one-time index build) and select
    its ADC short-list via TakeOrderedAndProject (distributed top-k) — a
    global ROW_NUMBER window here would single-partition-sort every
    vector's ADC score at the design point."""
    from sparkcrawl.queries import queries

    from sparkcrawl.indexstore import store_root

    df = queries()["ann_pq"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert store_root() in plan and "pq_" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    # formatted explain names each node twice (tree + detail); Spark inlines
    # the query-vector CTE into both the dtab and re-rank legs, so ≤ 3
    # Generate nodes — 1-row query explodes plus the 64-candidate explode,
    # never the full embeddings table
    assert plan.count("Generate") <= 6, plan


def test_pq_codes_and_media_hist_written_multi_task(spark):
    """The O(n)-row index tables (PQ codes, media hist) must be committed
    with a multi-task hash-bucketed layout — a coalesce(1) write would
    serialize the full encode output through one core at the design point
    (VERDICT r4 'What's wrong #2'). The O(k)-row codebook/centroid tables
    stay single-file. Asserted on the committed data dirs: >1 part file
    for codes/hist, 1 for codebook/centroids."""
    import glob
    import os

    from sparkcrawl.indexstore import index_store
    from sparkcrawl.queries import queries

    # force both index builds (no-ops when already current)
    queries()["ann_pq"](spark, "/root/testdata/sf0.001")
    queries()["media_ann"](spark, "/root/testdata/sf0.001")
    store = index_store()
    multi, single = [], []
    for t in sorted(os.listdir(store.root)):
        if t == "rounds" or not store.exists(t):
            continue
        man = store._load_manifest(t, store.latest(t))
        parts = []
        for rel in man["files"]:
            parts += glob.glob(os.path.join(store.root, t, rel, "*.parquet"))
        (multi if t.endswith(("_codes", "_hist")) else single).append(
            (t, len(parts)))
    assert multi and all(n > 1 for _, n in multi), multi
    assert single and all(n == 1 for _, n in single), single
