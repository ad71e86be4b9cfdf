"""Physical-plan quality gates (SURVEY.md §4; the 100 TB design point).

These tests pin the *plan*, not the result: predicate pushdown reaching
the parquet scan, column pruning, broadcast join selection, partial
aggregation before the shuffle, and TakeOrderedAndProject for top-k.
A regression here is a performance bug even while results stay correct.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from data_pipeline_etl_spark.registry import QUERIES, load_all_operators
from tests.conftest import SF_DIR

load_all_operators()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(QUERIES["q_filter_range"](spark, SF_DIR))
    assert "PushedFilters:" in plan
    # the shipdate range and quantity predicates are pushed into parquet
    assert re.search(r"PushedFilters:.*l_shipdate", plan)
    assert re.search(r"PushedFilters:.*l_quantity", plan)


def test_column_pruning(spark):
    plan = _plan(QUERIES["q_filter_range"](spark, SF_DIR))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # only the 4 referenced columns of lineitem's 11 are read
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_broadcast_join_chosen(spark):
    plan = _plan(QUERIES["q_join_broadcast"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_small_dims_auto_broadcast(spark):
    """Even without the hint the planner must broadcast tiny dimensions."""
    plan = _plan(QUERIES["q_join_chain"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_partial_aggregation_before_shuffle(spark):
    plan = _plan(QUERIES["q_agg_groupby"](spark, SF_DIR))
    # two-phase agg: partial HashAggregate -> Exchange -> final HashAggregate
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_topk_plans_take_ordered(spark):
    plan = _plan(QUERIES["q_sort_limit"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_types(spark):
    assert "LeftSemi" in _optimized(QUERIES["q_join_semi"](spark, SF_DIR))
    assert "LeftAnti" in _optimized(QUERIES["q_join_anti"](spark, SF_DIR))


def test_theta_join_keeps_equi_component(spark):
    """The interval self-join must hash-partition on user_id — a
    nested-loop cross product here would be quadratic at scale."""
    plan = _plan(QUERIES["q_join_theta"](spark, SF_DIR))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_python_udf_in_builtin_queries(spark):
    """Hot-path queries stay JVM-side: no Python eval nodes except in the
    three declared UDF-surface queries."""
    udf_markers = (
        "BatchEvalPython",
        "ArrowEvalPython",
        "FlatMapGroupsInPandas",
        "MapInPandas",
    )
    # the declared Python-surface queries, where an eval node is the point
    python_surface = {
        "q_udaf_grouped",
        "q_dedup_minhash",
        "q_multimodal_decode",
        "q_multimodal_decode_real",
        "q_multimodal_phash",  # dHash over decoded pixels — mapInPandas by design
    }
    offenders = []
    for name, fn in QUERIES.items():
        if name.startswith("q_udf") or name in python_surface:
            continue
        plan = _plan(fn(spark, SF_DIR))
        if any(m in plan for m in udf_markers):
            offenders.append(name)
    assert not offenders, f"Python in hot path: {offenders}"


def test_winnow_shuffle_free(spark):
    """Fingerprint selection runs inside per-row array expressions — no
    hash exchange anywhere (the only allowed exchange is the query's
    fanout() round-robin parallelism floor)."""
    plan = _plan(QUERIES["q_text_winnow"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_sessionize_single_shuffle(spark):
    """Both window passes (lag boundary flag, running-sum session id) and
    the per-session aggregate run on ONE exchange of events by user_id —
    the aggregate keys (user_id, session_no) refine the window partition,
    so partial+final HashAggregate needs no second exchange."""
    plan = _plan(QUERIES["q_sessionize"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_survivor_windows_share_shuffle(spark):
    """row_number and count windows both partition on content_hash — a
    second exchange would mean the windows stopped sharing it."""
    plan = _plan(QUERIES["q_dedup_survivor"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_jaccard_no_per_row_size_recompute(spark):
    """Regression pin: carrying size(array_distinct(split(...))) through
    the element explode re-evaluates the split per exploded row on both
    sides of the self-join (measured 8x at sf0.1). Set sizes must come
    from the count aggregate, so the expression must not appear at all."""
    from data_pipeline_etl_spark.operators.materialized import uncached

    # force the fresh build: the session cache would hand back a bare
    # checkpoint scan and the pin would be vacuous (r16)
    with uncached():
        for name in ("q_sim_jaccard", "q_dedup_cluster"):
            plan = _plan(QUERIES[name](spark, SF_DIR))
            assert "size(array_distinct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, name


def test_neardup_lsh_band_blocked(spark):
    """Embedding near-dup candidates must come from the (band, sig)
    equi-join — never an all-pairs product or a low-cardinality metadata
    key (the 100 TB scale gate from the round-3 verdict)."""
    plan = _plan(QUERIES["q_sim_neardup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the candidate build is session-materialized behind a checkpoint
    # (r16), so the (band, sig) shuffle is pinned on the probe body —
    # the exact machinery the declared query's artifact is built from
    from data_pipeline_etl_spark.operators.llm_similarity import (
        band_candidate_pairs_for,
    )
    from data_pipeline_etl_spark.sources.tables import table

    build = _plan(band_candidate_pairs_for(table(spark, SF_DIR, "embeddings")))
    assert "CartesianProduct" not in build and "BroadcastNestedLoopJoin" not in build
    assert re.search(r"band#\d+L?, sig#\d+", build), build


def test_lsh_candidates_hash_joins_only(spark):
    """Band-bucket candidate generation must stay equi-join shaped."""
    plan = _plan(QUERIES["q_dedup_lsh_candidates"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_incremental_dedup_semi_anti_shape(spark):
    """The store screen must be a band-key semi join + doc-level anti
    join (no pair materialization, no product): the corpus side enters
    only as distinct band keys."""
    plan = _optimized(QUERIES["q_dedup_incremental"](spark, SF_DIR))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    phys = _plan(QUERIES["q_dedup_incremental"](spark, SF_DIR))
    assert "CartesianProduct" not in phys


def test_wholestage_codegen_active(spark):
    df = QUERIES["q_agg_groupby"](spark, SF_DIR)
    df.collect()  # AQE finalizes the plan on execution
    plan = _plan(df)
    # whole-stage-codegen'd operators carry the *(n) stage marker
    assert "*(1)" in plan and "*(2)" in plan, plan


def test_scan_batched_columnar(spark):
    plan = _plan(QUERIES["q_agg_groupby"](spark, SF_DIR))
    assert "Batched: true" in plan


def test_events_filter_pushdown_survives_ts_conversion(spark):
    """The centralized ns->NTZ conversion must not block pushdown of
    predicates on OTHER events columns."""
    from data_pipeline_etl_spark.sources.tables import table

    e = table(spark, SF_DIR, "events").where(F.col("event_type") == "purchase")
    plan = _plan(e)
    assert re.search(r"PushedFilters:.*event_type", plan), plan


def test_fanout_guard_is_noop_when_parallel(spark):
    """fanout() must not add a shuffle when the input already provides
    >= core-count partitions — the invariant that makes it free at
    cluster scale (many splits) while fixing single-row-group local
    scans."""
    from data_pipeline_etl_spark.sources.tables import fanout, table

    cpus = spark.sparkContext.defaultParallelism
    d = table(spark, SF_DIR, "documents")
    wide = d.repartition(cpus)
    assert fanout(wide) is wide  # already parallel: identity, no new node
    narrow = d.coalesce(1)
    assert fanout(narrow).rdd.getNumPartitions() == cpus


def test_pointrange_join_is_bucket_equi(spark):
    """The point-in-interval join must meet on the hour-bucket equi key
    (hash join with the range predicate as residual) — a nested-loop
    product here is quadratic at scale."""
    plan = _plan(QUERIES["q_join_pointrange"](spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[bucket", plan), plan


def test_contamination_inverted_index_join(spark):
    """Benchmark-vs-corpus contamination joins on the bigram key after
    distinct aggregation — never doc x doc."""
    plan = _plan(QUERIES["q_contamination"](spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_kl_single_corpus_explode(spark):
    """The KL pipeline must read + explode the corpus exactly ONCE: the
    cube aggregate computes all four frequency tables in one pass and
    the localCheckpoint barrier stops column pruning from specializing
    (and thus quadruplicating) the corpus subtree per branch. Without
    the barrier this planned as 4 FileScans + 4 explodes."""
    plan = _plan(QUERIES["q_text_kl"](spark, SF_DIR))
    import re as _re
    n_gen = len(_re.findall(r"Generate explode", plan))
    n_scan = len(_re.findall(r"FileScan parquet.*documents", plan))
    assert n_gen == 0 and n_scan == 0, plan  # barrier upstream of this plan
    # the checkpointed cube feeds all four branches
    assert "Scan ExistingRDD" in plan, plan


def test_ffill_window_after_preaggregated_join(spark):
    """Forward-fill must feed the per-user window from the one-row-per
    user-day pre-aggregate, with the 30-row day spine broadcast — never
    sorting corpus-scale rows. Pin: exactly one corpus-side parquet scan
    of events per subtree and no shuffle of the events table AFTER the
    daily aggregate's exchange (window partitions reuse user_id keys)."""
    plan = _plan(QUERIES["q_time_ffill"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the spine cross join is the broadcast-small sanctioned shape
    assert "BroadcastNestedLoopJoin" in plan
    # windows sort within hash-partitioned user_id, never globally
    assert "Exchange rangepartitioning" not in plan


def test_mode_and_corr_partial_aggregation(spark):
    """Deterministic mode and the moment aggregates must both keep the
    two-phase partial->final HashAggregate shape (map-side combine
    bounds shuffle volume by |groups|)."""
    for name in ("q_agg_mode", "q_corr_regr"):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert plan.count("HashAggregate") >= 2, name
        assert "Exchange hashpartitioning" in plan, name


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """AQE runtime filtering: a selective dim-side predicate compiles
    into a bloom filter evaluated on the FACT side before the shuffle
    join — at 100 TB this is what turns "join then discard 99% of fact
    rows" into "discard at the scan". Pin: with broadcast disabled (on a
    cluster the dim side can exceed the broadcast threshold) the
    executed plan carries bloom_filter_agg/might_contain, and the result
    is identical with the filter disabled."""
    saved = {}
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    for k, v in confs.items():
        saved[k] = spark.conf.get(k)
        spark.conf.set(k, v)
    try:
        from data_pipeline_etl_spark.sources.tables import table

        def join():
            l = table(spark, SF_DIR, "lineitem")
            o = table(spark, SF_DIR, "orders").where("o_orderpriority = '1-URGENT'")
            return (
                l.join(o, l.l_orderkey == o.o_orderkey)
                .groupBy("o_orderpriority")
                .agg(F.count("*").alias("n"))
            )

        plan = _plan(join())
        assert "bloom_filter_agg" in plan or "might_contain" in plan, plan
        with_bloom = {tuple(r) for r in join().collect()}
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        without_bloom = {tuple(r) for r in join().collect()}
        assert with_bloom == without_bloom
    finally:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_join_interval_in_bucket_expansion(spark):
    """Interval x interval overlap join must never plan a cartesian /
    nested-loop: pair expansion happens inside (part, bucket) groups, so
    the plan is scan -> explode -> 3 hash exchanges (group, pair-distinct,
    final rollup) with no join operator at all."""
    plan = _plan(QUERIES["q_join_interval"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 3, plan


def test_cdc_compact_aggregates_not_window(spark):
    """The latest-wins merge must be the map-side-combining max(struct)
    aggregate — a Window/row_number formulation (the oracle's clarity
    choice) would shuffle and sort every changelog version."""
    plan = _plan(QUERIES["q_cdc_compact"](spark, SF_DIR))
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_asof_nearest_single_window_pass(spark):
    """Both direction frames (prev via last, next via first) share the
    user_id partition and (ts, event_id) sort — the tagged-union design
    means ONE exchange and zero join operators; a range-join
    formulation would show SortMergeJoin/CartesianProduct here."""
    plan = _plan(QUERIES["q_join_asof_nearest"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_prefix_scan_windows_are_bucket_partitioned(spark):
    """The two-phase prefix-scan queries never run a corpus-sized keyless
    window: the data-sized running sum/max is PARTITIONED by the day/
    spend bucket, and the only keyless windows order over the bucket
    frame itself (|days| / |spend buckets| rows — calendar/price-range
    bounded, not corpus bounded). A regression to a single global window
    would show up here as a keyless spec ordering over t / spend_cents."""
    import re as _re

    def _balanced_specs(plan: str) -> list[str]:
        # capture the FULL windowspecdefinition(...) span with a paren
        # counter — a regex stopping at the first ')' truncates as soon
        # as the spec nests any expression (e.g. date_trunc in a
        # partition key), silently misclassifying instead of failing
        out = []
        marker = "windowspecdefinition("
        i = plan.find(marker)
        while i != -1:
            j, depth = i + len(marker), 1
            while depth:
                assert j < len(plan), plan[i : i + 200]
                depth += {"(": 1, ")": -1}.get(plan[j], 0)
                j += 1
            out.append(plan[i + len(marker) : j - 1])
            i = plan.find(marker, j)
        return out

    for name, part_first in (
        ("q_time_concurrency", "bkt"),
        ("q_skyline", "bkt"),
        ("q_abc_analysis", "bkt"),
        ("q_orders_gini", "bkt"),
    ):
        plan = _optimized(QUERIES[name](spark, SF_DIR)).replace("\n", " ")
        specs = _balanced_specs(plan)
        assert specs, plan
        partitioned = [s for s in specs if not _re.match(r"\w+#\d+L? (ASC|DESC)", s)]
        keyless = [s for s in specs if _re.match(r"\w+#\d+L? (ASC|DESC)", s)]
        # the corpus-sized sweep exists and is bucket-partitioned
        assert any(s.startswith(part_first + "#") for s in partitioned), specs
        # every keyless window orders over the bucket frame only
        for s in keyless:
            assert s.startswith(part_first + "#"), s


def test_store_compact_bucket_min_no_pair_join(spark):
    """Compaction survivorship is bucket-min arithmetic: the only joins
    are the bands->bucket-min lookup and the doc-level blocker attach —
    a pair self-join (doc x doc within a bucket) would go quadratic in
    hot buckets and would surface as a THIRD equi-join or a nested-loop
    node here. Join-node count is the quadratic-blowup signal (ADVICE
    r10: an absolute Exchange cap was Spark-version/AQE-rendering
    brittle — broadcast-vs-SMJ strategy flips move exchanges around
    without any pair-join regression, so count joins, not exchanges)."""
    plan = _plan(QUERIES["q_dedup_store_compact"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    equi_joins = sum(
        plan.count(node)
        for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert equi_joins == 2, (equi_joins, plan)


def test_bpe_trainer_lineage_truncated(spark):
    """The k-round BPE trainer's returned frame must be a union of k
    checkpoint-backed 1-row argmax frames: all pair counting, argmax
    sorting, and vocab rewriting ran behind the per-round
    localCheckpoints, so the FINAL plan carries no aggregate, no sort,
    and no source scan. A regression that drops the truncation (the
    naive lineage re-embeds every earlier round's argmax subtree,
    growing the plan EXPONENTIALLY in k) surfaces here as
    HashAggregate / Sort / scan nodes and a plan that balloons with k."""
    from data_pipeline_etl_spark.operators.llm_text import bpe_train_for

    words = spark.createDataFrame(
        [("abcd", 3), ("bcd", 2), ("cd", 5)], "w string, freq long"
    )
    plan = _plan(bpe_train_for(words, 4))
    assert plan.count("Scan ExistingRDD") == 4, plan
    for node in ("HashAggregate", "Sort", "Scan parquet", "Exchange"):
        assert node not in plan, (node, plan)


def test_bpe_encode_single_corpus_scan(spark):
    """q_text_bpe_encode's 100 TB contract: the merge loop runs at
    |vocab| size behind checkpoints, and the ENCODE plan touches the
    corpus exactly once — one parquet scan, token sequences and ids
    carried in by two broadcast joins (doc words x tokenized vocab,
    tokens x id table), never a shuffle join and never a second corpus
    pass for word stats (tokens partition each word's characters, so
    word/char counts fold into the same aggregate)."""
    plan = _plan(QUERIES["q_text_bpe_encode"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_bpe_decode_plan_shape(spark):
    """q_text_bpe_decode's 100 TB contract: the token path scans the
    corpus text exactly once and carries vocab/id/inverse-id in by
    THREE broadcast joins (doc words x tokenized vocab, tokens x id
    table, ids x inverse id table — the inversion must be a real join,
    not a pass-through of the token string); the ONLY shuffle join is
    the totality left-join, whose probe side is a second parquet scan
    PRUNED to the doc_id column. A second full-text scan, a shuffled
    vocab join, or a lost broadcast all surface here."""
    plan = _plan(QUERIES["q_text_bpe_decode"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 2, plan
    assert plan.count("BroadcastHashJoin") == 3, plan
    shuffle_joins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert shuffle_joins == 1, (shuffle_joins, plan)
    # the totality scan must prune to doc_id — one scan reads text,
    # the other must NOT (exactly one full-width ReadSchema)
    assert plan.count("text:string") == 1, plan


def test_embed_outliers_take_ordered(spark):
    """q_embed_outliers' top-20 must plan as TakeOrderedAndProject
    (distributed partial top-k per partition, merged on the driver) —
    never a global Sort of the scored corpus; the mu/sd profile arrives
    by broadcast, so no shuffle join touches the vectors."""
    plan = _plan(QUERIES["q_embed_outliers"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sample_topk_two_level_window(spark):
    """q_sample_topk's corpus window must be the TWO-LEVEL shape: the
    corpus-sized row_number partitions on (source, salt) — |sources| x
    32 keys, parallel at any scale — and only the candidate frame (k
    rows per bucket) sees the per-source window. A single-level
    per-source window over the corpus is the low-cardinality-partition
    trap."""
    plan = _plan(QUERIES["q_sample_topk"](spark, SF_DIR))
    assert re.search(r"windowspecdefinition\(source#\d+, salt#\d+L", plan), plan
    assert re.search(r"windowspecdefinition\(source#\d+, h#\d+ ASC", plan), plan


def test_bpe_fertility_plan_shape(spark):
    """q_text_bpe_fertility's 100 TB contract: the corpus TEXT is
    exploded exactly once (one full-width scan), per-word token counts
    come in by one broadcast join from the checkpoint-backed tokenized
    vocab (no token-id machinery, no per-token explode), and the only
    shuffle join is the |langs|-sized totality left-join whose probe
    side is a lang-pruned second scan."""
    plan = _plan(QUERIES["q_text_bpe_fertility"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 2, plan
    assert plan.count("text:string") == 1, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    shuffle_joins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert shuffle_joins == 1, (shuffle_joins, plan)


def test_bpe_checkpoint_storage_bounded(spark):
    """Superseded vocab checkpoints are freed FOR REAL each round
    (ADVICE r11: ``DataFrame.unpersist()`` on a localCheckpoint frame is
    a CacheManager no-op — the blocks live in the persistent-RDD
    registry, so the old code pinned one |vocab|-row RDD per round until
    driver GC). Pins the storage law a k~30k production train relies
    on: per run the persistent-RDD registry gains exactly the k 1-row
    argmax checkpoints (the merge table reads them) plus a BOUNDED <=2
    vocab-checkpoint residue, so growth from k=3 to k=6 is exactly the
    3 extra argmax frames. With the broken unpersist the vocab residue
    grows with k (k=3 -> +5, k=6 -> +11) and this fails."""
    from data_pipeline_etl_spark.operators.llm_text import bpe_train_for

    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    words = spark.createDataFrame(
        [("abcdefgh", 3), ("bcdefg", 2), ("cdef", 5), ("de", 7)],
        "w string, freq long",
    )
    new_by_k = {}
    for k in (3, 6):
        before = persisted()
        bpe_train_for(words, k).count()
        new_by_k[k] = persisted() - before
    assert len(new_by_k[6]) - len(new_by_k[3]) == 3, new_by_k
    assert len(new_by_k[3]) - 3 <= 2, new_by_k


def test_kmeans_checkpoint_storage_bounded(spark):
    """kmeans_lloyd frees each iteration's corpus-sized assignment
    checkpoint and the superseded centroid model as soon as the next
    eager checkpoint has materialized past them (ADVICE-r11 discipline;
    the assignment is |corpus|-row, so leaking one per iteration is the
    loop's dominant storage term at training scale). After a 4-iteration
    run exactly ONE checkpoint survives: the returned centroid model.
    The WCSS-monotone property test separately re-pins that the freed
    frames were genuinely dead."""
    from data_pipeline_etl_spark.operators.llm_similarity import kmeans_lloyd
    from data_pipeline_etl_spark.sources.tables import table

    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    before = persisted()
    cents, wcss = kmeans_lloyd(emb, k=4, iters=4)
    assert cents.count() == 4 and len(wcss) == 4
    assert len(persisted() - before) == 1, persisted() - before


def test_cc_checkpoint_storage_bounded(spark):
    """The pointer-doubling connected-components loop frees each
    superseded label checkpoint once the next round's convergence count
    has materialized past it (same ADVICE-r11 discipline as the BPE
    trainer). A 33-node chain needs several hop+jump rounds, so without
    the real free the persistent-RDD registry would end the run holding
    one |labels|-row checkpoint per round; with it exactly the FINAL
    label checkpoint survives. Also re-pins the labels themselves —
    freeing a checkpoint the jump still needed would crash or corrupt
    the fixpoint."""
    from data_pipeline_etl_spark.operators.llm_dedup import _connected_components

    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "src long, dst long"
    )
    edges = chain.unionByName(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    before = persisted()
    labels = _connected_components(edges).collect()
    assert {r["cluster_id"] for r in labels} == {0}
    assert len(labels) == 33
    assert len(persisted() - before) == 1, persisted() - before


def test_ngram_elements_held_once(spark):
    """q_dedup_ngram reads its bigram element frame from the session
    artifact: a second call in one session adds no persistent RDD (a
    per-call checkpoint would add one held element copy per call)."""
    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    first = QUERIES["q_dedup_ngram"](spark, SF_DIR).collect()
    before = persisted()
    second = QUERIES["q_dedup_ngram"](spark, SF_DIR).collect()
    assert sorted(second) == sorted(first)
    assert persisted() - before == set()


def test_corpus_report_single_scan_no_explode(spark):
    """The corpus health report must read the corpus exactly ONCE and
    never explode it: token counts come from size(split(..)) per row,
    so the only corpus-sized shuffle keys on distinct (source, lang,
    text) rows — the q_dedup_exact shape — and every later aggregate is
    metadata-scale."""
    df = QUERIES["q_corpus_report"](spark, SF_DIR)
    plan = _plan(df)
    # the (source, lang) barrier is checkpointed upstream (q_text_kl
    # pattern): the returned plan reads the metadata-scale RDD, never
    # the corpus — and the corpus subtree ran exactly once to build it
    assert len(re.findall(r"FileScan parquet.*documents", plan)) == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "Generate explode" not in plan, plan
    # cascading partial+final aggregates, no window, no sort
    assert "HashAggregate" in plan and "Window" not in plan, plan


def test_pca_iterations_read_checkpoint_not_corpus(spark):
    """q_embed_pca's (and q_embed_pca2's) returned frame is the LAST
    power-iteration step: it must read the d-row matvec checkpoint
    (Scan ExistingRDD), never the embeddings parquet — the corpus pass
    happened exactly once, at the mirrored-covariance checkpoint. All
    iteration joins are broadcasts (d- and 1-row frames); an
    exchange-based join here would mean the loop shuffles
    dimension-sized frames k times for nothing."""
    from data_pipeline_etl_spark.operators.materialized import uncached

    # fresh ladder build (the axis cache would satisfy these asserts with
    # the same shapes, but the pin is about the BUILD plan — r16)
    with uncached():
        for name in ("q_embed_pca", "q_embed_pca2"):
            plan = _plan(QUERIES[name](spark, SF_DIR))
            assert "FileScan parquet" not in plan, (name, plan)
            assert "Scan ExistingRDD" in plan, (name, plan)
            assert (
                "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
            ), (name, plan)
            assert "SortMergeJoin" not in plan, (name, plan)


def test_semistructured_single_scan_jvm_side(spark):
    """XML roundtrip and VARIANT extraction are single-scan map-side
    codecs + one partial+final aggregate: one FileScan, no join, no
    Python eval (the codec expressions are JVM-native), shuffle carries
    only |group| partial states."""
    for name, tbl in (("q_xml_roundtrip", "orders"), ("q_variant_extract", "events")):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert len(re.findall(rf"FileScan parquet.*{tbl}", plan)) == 1, (name, plan)
        assert "Join" not in plan, (name, plan)
        assert "HashAggregate" in plan, (name, plan)


def test_mix_curriculum_no_global_window(spark):
    """The curriculum's total order must come from the TWO-LEVEL prefix
    scan: the corpus window is partitioned on (bucket, range-bucket) —
    never on bucket alone (3 tasks) or nothing (1 task); the
    unpartitioned running-sum window exists only on the metadata-sized
    count frame, and offsets come back via a broadcast join."""
    plan = _plan(QUERIES["q_mix_curriculum"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the corpus row_number window partitions on BOTH keys
    m = re.search(r"windowspecdefinition\(bucket#\d+, rb#\d+L", plan)
    assert m, plan
    # the bucketed frame is checkpointed so documents parquet is scanned
    # (and tokenized) exactly once; both phases read the checkpoint
    assert "FileScan" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 2, plan


def test_mix_token_budget_two_level_scan(spark):
    """The per-source running sum must come from the TWO-LEVEL prefix
    scan: the corpus cumsum window partitions on (source, hex-bucket) —
    never on source alone (|sources| tasks over the corpus); the
    unpartitioned-by-bucket offset window lives only on the
    |sources| x 16-row count frame; offsets come back via a broadcast
    join; and the checkpointed projection keeps the documents parquet
    to one scan across both phases."""
    plan = _plan(QUERIES["q_mix_token_budget"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    m = re.search(r"windowspecdefinition\(source#\d+, hb#\d+", plan)
    assert m, plan
    assert "FileScan" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 2, plan
