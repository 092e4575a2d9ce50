"""Plan-property pins: the physical plans that must hold at scale
(pushdown, pruning, broadcast, codegen) — regressions here are perf
bugs even when results stay correct."""

from pyspark.sql import functions as F

from onehouse_demos_spark.operators.relational import (
    filter_project,
    join_dim_rollup,
    load,
    pricing_summary,
)
from onehouse_demos_spark.plans import (
    pushed_filters,
    read_schema_columns,
    scan_stats,
    uses_broadcast_join,
)
from tests.conftest import SF_DIR


def test_filter_pushdown_reaches_scan(spark):
    df = filter_project(spark, SF_DIR)
    pf = pushed_filters(df)
    assert any("o_orderpriority" in f for f in pf), pf
    assert any("o_totalprice" in f for f in pf), pf


def test_column_pruning(spark):
    df = filter_project(spark, SF_DIR)
    schemas = read_schema_columns(df)
    assert schemas, "no parquet scan found"
    # orders has 6 columns; this projection needs only 5
    assert schemas[0] <= {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    }, schemas


def test_dims_broadcast(spark):
    df = join_dim_rollup(spark, SF_DIR)
    assert uses_broadcast_join(df)


def test_sole_late_supplier_decorrelated_plan(spark):
    """The Q21 analog must stay decorrelated: supplier joins by
    broadcast, no cartesian/nested-loop from the (former) correlated
    subqueries, and the per-order flags come from ONE aggregation over
    lineitem rather than two extra fact self-joins."""
    from onehouse_demos_spark.operators.analytics import sole_late_supplier
    from onehouse_demos_spark.plans import explain_str

    df = sole_late_supplier(spark, SF_DIR)
    txt = explain_str(df)
    assert "BroadcastExchange" in txt, txt[:800]
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_agg_is_partial_then_final(spark):
    df = pricing_summary(spark, SF_DIR)
    from onehouse_demos_spark.plans import explain_str

    text = explain_str(df)
    # partial aggregation before the exchange (map-side combine)
    assert text.count("HashAggregate") >= 2, text[:500]


def test_snapshot_read_prunes_columns(spark, tmp_base):
    """Manifest-driven table reads must still allow Catalyst pruning:
    selecting one column from a snapshot reads only that column (+ the
    filter's deleted flag) from parquet."""
    from onehouse_demos_spark import LakehouseTable, TableConfig

    t = LakehouseTable.create(
        spark, tmp_base + "/t", TableConfig(name="t", record_key=["id"])
    )
    t.insert(load(spark, SF_DIR, "nation").withColumnRenamed("n_nationkey", "id"))
    df = t.snapshot().select("n_name")
    schemas = read_schema_columns(df)
    assert schemas and schemas[0] <= {"n_name", "_oh_is_deleted"}, schemas


def test_upsert_probe_is_column_pruned(spark, tmp_base):
    """The upsert key-probe phase must scan only the key column."""
    from onehouse_demos_spark import LakehouseTable, TableConfig
    from onehouse_demos_spark.tables.table import KEY_COL

    t = LakehouseTable.create(
        spark, tmp_base + "/t", TableConfig(name="t", record_key=["id"])
    )
    t.insert(spark.range(1000).select("id", (F.col("id") * 2).alias("v")))
    files = t.manifest.live_files()
    probe = t._read_files(files).select(KEY_COL)
    schemas = read_schema_columns(probe)
    assert schemas and schemas[0] == {KEY_COL}, schemas


def test_asof_and_sessionize_single_shuffle(spark):
    """AS-OF join and sessionization must stay single-exchange
    sort-based plans (the scale-safe shape — no per-row subqueries,
    no extra shuffles)."""
    from onehouse_demos_spark.operators.analytics import (
        asof_prior_click,
        sessionize_events,
    )
    from onehouse_demos_spark.plans import explain_str, num_exchanges

    for fn in (asof_prior_click, sessionize_events):
        df = fn(spark, SF_DIR)
        assert num_exchanges(df) <= 1, explain_str(df)[:800]
        assert "CartesianProduct" not in explain_str(df)


def test_knn_ivf_avoids_nested_loop(spark):
    """The IVF scale path must join on bucket keys — never the
    all-pairs nested loop the brute-force baseline uses."""
    from onehouse_demos_spark.operators.similarity import knn_ivf
    from onehouse_demos_spark.plans import explain_str

    txt = explain_str(knn_ivf(spark, SF_DIR))
    assert "BroadcastNestedLoop" not in txt and "CartesianProduct" not in txt


def test_range_join_is_hash_join_on_bucket(spark):
    """Bucket-expansion range join must plan as a broadcast HASH join
    on the bucket key — never the BroadcastNestedLoopJoin a raw
    interval predicate produces."""
    from onehouse_demos_spark.operators.analytics import range_join_bands
    from onehouse_demos_spark.plans import explain_str, uses_broadcast_join

    df = range_join_bands(spark, SF_DIR)
    txt = explain_str(df)
    assert "BroadcastNestedLoop" not in txt and "CartesianProduct" not in txt
    assert uses_broadcast_join(df), txt[:800]


def test_event_funnel_single_shuffle(spark):
    """Conditional-aggregation funnel: one exchange on user_id plus the
    final single-partition gather — never self-joins of the event log."""
    from onehouse_demos_spark.operators.analytics import event_funnel
    from onehouse_demos_spark.plans import explain_str, num_exchanges

    df = event_funnel(spark, SF_DIR)
    txt = explain_str(df)
    assert "Join" not in txt, txt[:800]
    assert num_exchanges(df) <= 2, txt[:800]


def test_skew_safe_agg_two_stage(spark):
    """Salted aggregation: partial agg on (key, salt), final on key —
    exactly two exchanges, both hash (no global sort)."""
    from onehouse_demos_spark.operators.analytics import skew_safe_agg
    from onehouse_demos_spark.plans import explain_str, num_exchanges

    df = skew_safe_agg(spark, SF_DIR)
    assert num_exchanges(df) <= 2, explain_str(df)[:800]


def test_map_stage_ops_are_shuffle_free(spark):
    """Chunking and quantization are pure map stages — any exchange in
    their plan is a scale regression (they run over the full corpus)."""
    from onehouse_demos_spark.operators.similarity import embedding_quantization
    from onehouse_demos_spark.operators.text import doc_chunking
    from onehouse_demos_spark.plans import explain_str, num_exchanges

    for fn in (doc_chunking, embedding_quantization):
        df = fn(spark, SF_DIR)
        assert num_exchanges(df) == 0, explain_str(df)[:800]


def test_adaptive_sign_bits_scale_with_corpus():
    """Bucket width must grow with corpus size so within-bucket
    candidate generation stays ~TARGET_BUCKET_ROWS² at any scale."""
    from onehouse_demos_spark.operators.similarity import (
        MAX_SIGN_BITS,
        MIN_SIGN_BITS,
        _adaptive_bits,
    )

    assert _adaptive_bits(0) == MIN_SIGN_BITS
    assert _adaptive_bits(1_000) == MIN_SIGN_BITS
    assert _adaptive_bits(10_000) == MIN_SIGN_BITS
    assert _adaptive_bits(1_000_000) == 10
    assert _adaptive_bits(100_000_000) == 17
    assert _adaptive_bits(10**12) == MAX_SIGN_BITS  # 100 TB-ish corpus


def test_knn_batch_join_has_no_broadcast_hint(spark):
    """The batch-ANN query side is ~1% of the corpus — unbroadcastable
    at scale. Pin that no explicit broadcast hint survives: with
    size-based auto-broadcast off, the plan must not broadcast."""
    from onehouse_demos_spark.operators.similarity import knn_batch_join
    from onehouse_demos_spark.plans import explain_str

    confs = [
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
        ("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"),
    ]
    saved = {k: spark.conf.get(k, None) for k, _ in confs}
    for k, v in confs:
        spark.conf.set(k, v)
    try:
        txt = explain_str(knn_batch_join(spark, SF_DIR))
        assert "BroadcastExchange" not in txt, txt[:800]
        assert "CartesianProduct" not in txt
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the join key with the same bucket count
    join with ZERO exchanges — the co-located layout 100 TB fact-fact
    joins depend on."""
    from pyspark.sql import functions as F

    from onehouse_demos_spark.plans import explain_str
    from onehouse_demos_spark.tables.bucketing import bucketed_join, write_bucketed

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    ).withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8,
                   sort_cols=["o_orderkey"], path=str(tmp_path / "bo"))
    write_bucketed(lineitem, "b_lineitem", ["o_orderkey"], 8,
                   sort_cols=["o_orderkey"], path=str(tmp_path / "bl"))
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = bucketed_join(spark, "b_orders", "b_lineitem",
                                   on=["o_orderkey"])
            txt = explain_str(joined)
            assert "Exchange" not in txt, txt[:1200]
            # result parity with the plain (shuffling) join
            n = joined.count()
            plain = orders.join(lineitem, "o_orderkey").count()
            assert n == plain
            # aggregation on the bucket key also reuses the layout
            agg = spark.table("b_lineitem").groupBy("o_orderkey").agg(
                F.sum("l_quantity").alias("q"))
            assert "Exchange" not in explain_str(agg), explain_str(agg)[:800]
        finally:
            if old is None:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            else:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_trained_ivf_recall_vs_bruteforce(spark):
    """The k-means IVF path must (a) return results only from probed
    cells, (b) recover most of the brute-force top-10 at nprobe=half
    the cells, (c) broadcast the centroid table rather than shuffling
    vectors during assignment."""
    from onehouse_demos_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf_trained,
    )

    exact = [r.vec_id for r in knn_bruteforce(spark, SF_DIR).collect()]
    approx = [r.vec_id for r in
              knn_ivf_trained(spark, SF_DIR, k_centroids=4, nprobe=2).collect()]
    assert len(approx) == 10
    # nprobe=2 of 4 cells: expect to recover at least half the exact set
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.5, (exact, approx)


def test_pq_adc_recall_vs_bruteforce(spark):
    """PQ/ADC search must (a) return k results, (b) recover at least
    half of the exact cosine top-10 (8 subspaces × 16 codes on 64-dim
    is a mild 16× compression — recall should be well above chance),
    (c) never read the original vectors in the scoring scan (the plan
    scores the codes table only)."""
    from onehouse_demos_spark.operators.similarity import (
        knn_bruteforce,
        pq_adc_topk,
    )

    exact = [r.vec_id for r in knn_bruteforce(spark, SF_DIR).collect()]
    approx = [r.vec_id for r in pq_adc_topk(spark, SF_DIR).collect()]
    assert len(approx) == 10
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.5, (exact, approx)


def _assert_per_row_assignment(txt):
    """The quantizers arrive by broadcast, and every row is assigned in
    its own map stage: no cartesian product, no aggregate, no hash
    exchange."""
    assert "BroadcastExchange" in txt, txt[:800]
    assert "CartesianProduct" not in txt
    assert "Aggregate" not in txt, txt[:800]
    assert "hashpartitioning" not in txt, txt[:800]


def test_pq_assignment_broadcasts_codebook(spark):
    from onehouse_demos_spark.operators.similarity import load_emb, pq_encode
    from onehouse_demos_spark.plans import explain_str

    books = [[[0.0] * 8, [1.0] * 8] for _ in range(8)]
    encoded = pq_encode(load_emb(spark, SF_DIR), books)
    _assert_per_row_assignment(explain_str(encoded))


def test_trained_ivf_assignment_broadcasts_centroids(spark):
    from pyspark.sql import functions as F

    from onehouse_demos_spark.operators.similarity import (
        _as_double,
        _nearest_col,
        _with_quantizers,
        load_emb,
    )
    from onehouse_demos_spark.plans import explain_str

    vecs = load_emb(spark, SF_DIR).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    assigned = _with_quantizers(vecs, cs=[[0.0] * 64, [1.0] * 64]).select(
        "vec_id", _nearest_col(F.col("v"), F.col("cs")).alias("cid")
    )
    _assert_per_row_assignment(explain_str(assigned))


def test_ohlc_bars_aggregate_only_no_window_no_join(spark):
    """OHLC open/close come from ordered aggregates (min_by/max_by):
    a partial+final aggregation over the scan — no Window operator, no
    self-join of the events, at most the agg's own exchange pair."""
    from onehouse_demos_spark.operators.analytics import events_ohlc_bars
    from onehouse_demos_spark.plans import explain_str

    txt = explain_str(events_ohlc_bars(spark, SF_DIR))
    assert "Window" not in txt, txt[:800]
    assert "Join" not in txt, txt[:800]
    assert txt.count("Exchange") <= 2, txt[:800]


def test_semantic_dedup_tau_has_no_pair_set_window(spark):
    """The SemDeDup tau must be a histogram selection, never a global
    sort of the candidate-pair set: no row_number anywhere in the
    plan (the old single-partition rank signature), and every Window
    in the plan sits ABOVE the cos_r histogram aggregate — its input
    is domain-bounded (≤ 20001 distinct rounded cosines), not the
    pair join."""
    from onehouse_demos_spark.operators.curation import semantic_dedup_keep
    from onehouse_demos_spark.plans import explain_str

    txt = explain_str(semantic_dedup_keep(spark, SF_DIR), mode="simple")
    assert "row_number" not in txt, txt[:1200]
    assert "Window" in txt  # the bounded cumulative-sum window exists
    # the histogram aggregate exists and is partial+final (map-side
    # combinable) — the pair set reduces before any windowing
    assert "HashAggregate(keys=[cos_r" in txt, txt[:1200]
    # exactly one window operator: the cumulative sum over the histogram
    assert txt.count("Window") == 1, txt[:1200]


def test_mor_merge_read_is_hash_aggregate_not_window(spark, tmp_path):
    """The MOR merge read (latest-commit-wins) must stay a hash
    aggregation (max_by over the ordering struct, partial+final), not
    a sort-based window: partial aggregation collapses versions
    map-side before the shuffle, so the exchange carries ~one row per
    key per map partition instead of every version."""
    from onehouse_demos_spark import LakehouseTable, TableConfig
    from onehouse_demos_spark.plans import explain_str

    t = LakehouseTable.create(
        spark,
        str(tmp_path / "mor_plan"),
        TableConfig(name="mor_plan", record_key=["k"], precombine="v",
                    table_type="mor"),
    )
    t.insert(spark.createDataFrame([("a", 1, 1.0)], "k string, v int, x double"))
    t.upsert(spark.createDataFrame([("a", 2, 2.0)], "k string, v int, x double"))
    txt = explain_str(t.snapshot(), mode="simple")
    assert "Window" not in txt, txt[:1200]
    assert "max_by" in txt, txt[:1200]
    # partial + final pair → map-side combine before the exchange
    assert txt.count("max_by") >= 2, txt[:1200]


def test_renamed_column_filter_pushes_down_physical_name(spark, tmp_path):
    """r6 column mapping: a filter on a RENAMED logical column must
    reach the parquet scan as a pushed filter on the PHYSICAL name
    (the alias projection is transparent to Catalyst), and the scan
    must stay column-pruned."""
    from onehouse_demos_spark import LakehouseTable, TableConfig

    t = LakehouseTable.create(
        spark, str(tmp_path / "ren"),
        TableConfig(name="ren", record_key=["id"], precombine="ver",
                    target_file_rows=10),
    )
    t.bulk_insert(spark.createDataFrame(
        [(i, 1, i * 10) for i in range(100)], "id int, ver int, amount int"
    ))
    t.rename_column("amount", "revenue")
    df = t.snapshot().filter(F.col("revenue") >= 900).select("id", "revenue")
    pf = pushed_filters(df)
    assert any("amount" in f for f in pf), pf  # physical name at the scan
    cols = read_schema_columns(df)
    assert cols and "ver" not in cols[0], cols  # pruning intact


def test_merge_by_source_uses_full_outer_only_when_needed(spark, tmp_path):
    """The BY SOURCE path needs target-only rows (full-outer join);
    a MERGE WITHOUT a BY SOURCE clause must keep the cheaper
    outer-join-from-source plan (no silent always-full-outer
    regression)."""
    from onehouse_demos_spark.sql import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql(
        "CREATE TABLE mp (id INT, v INT) USING lakehouse "
        "TBLPROPERTIES (primaryKey=id)"
    )
    eng.sql("INSERT INTO mp VALUES (1, 1), (2, 2)")
    spark.createDataFrame([(1, 10)], "id int, v int").createOrReplaceTempView(
        "mp_src"
    )
    eng.sql(
        "MERGE INTO mp t USING mp_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    plain = spark.table("__merge_joined")._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "FullOuter" not in plain, plain
    eng.sql(
        "MERGE INTO mp t USING mp_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    by_source = spark.table("__merge_joined")._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "FullOuter" in by_source, by_source
    assert {r.id: r.v for r in eng.sql("SELECT * FROM mp").collect()} \
        == {1: 10}


def test_partial_update_fold_is_hash_aggregate(spark, tmp_base):
    """r7: the partial_update payload fold must be ONE hash aggregate
    (null-gated max_by) — no window, no sort, no self-join."""
    from onehouse_demos_spark import LakehouseTable, TableConfig
    from onehouse_demos_spark.plans import explain_str

    t = LakehouseTable.create(
        spark,
        f"{tmp_base}/pu_plan",
        TableConfig(name="pu_plan", record_key=["id"], precombine="ver",
                    payload="partial_update", table_type="mor"),
    )
    t.insert(spark.createDataFrame([(1, 1, "a")], "id int, ver int, v string"))
    t.upsert(spark.createDataFrame([(1, 2, None)], "id int, ver int, v string"))
    df = t.snapshot()  # MOR _rt: read-time fold over base + log
    txt = explain_str(df)
    assert "Aggregate" in txt or "HashAggregate" in txt
    assert "Window" not in txt
    assert "SortMergeJoin" not in txt
    # COW control: the fold ran at WRITE time — the snapshot is a pure
    # scan, no merge operator at all
    t2 = LakehouseTable.create(
        spark,
        f"{tmp_base}/pu_plan_cow",
        TableConfig(name="pu_plan_cow", record_key=["id"], precombine="ver",
                    payload="partial_update"),
    )
    t2.insert(spark.createDataFrame([(1, 1, "a")], "id int, ver int, v string"))
    t2.upsert(spark.createDataFrame([(1, 2, None)], "id int, ver int, v string"))
    txt2 = explain_str(t2.snapshot())
    assert "Aggregate" not in txt2 and "Window" not in txt2


def test_scoped_changes_join_carries_partition(spark, tmp_base):
    """r7: partition-scoped changes() pairs (key, partition); the join
    must not be key-only (cross-partition dup keys would explode)."""
    from onehouse_demos_spark import LakehouseTable, TableConfig

    t = LakehouseTable.create(
        spark,
        f"{tmp_base}/chg_plan",
        TableConfig(name="chg_plan", record_key=["id"], precombine="ver",
                    partition_by=["p"]),
    )
    ddl = "id int, ver int, p string"
    b0 = t.timeline.latest_instant()
    t.insert(spark.createDataFrame([(1, 1, "x"), (1, 1, "y")], ddl))
    ch = t.changes(b0)
    rows = [(r.id, r.p, r["_change_type"]) for r in ch.collect()]
    assert sorted(rows) == [(1, "x", "insert"), (1, "y", "insert")]


def test_q6_every_predicate_pushes_to_scan(spark):
    """r8 pushdown canary: forecast_revenue_change (TPC-H Q6 shape) is
    one scan whose date/discount/quantity predicates ALL reach the
    parquet reader, with an exactly-4-column ReadSchema."""
    from onehouse_demos_spark.operators.analytics import (
        forecast_revenue_change,
    )

    df = forecast_revenue_change(spark, SF_DIR)
    pf = pushed_filters(df)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(col in f for f in pf), (col, pf)
    schemas = read_schema_columns(df)
    assert schemas and schemas[0] == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    }, schemas
    from onehouse_demos_spark.plans import explain_str

    txt = explain_str(df)
    assert "Join" not in txt


def test_q10_broadcasts_every_join(spark):
    """r8: returned_item_report (Q10 shape) — the quarter slice and
    both dims broadcast; no sort-merge join anywhere."""
    from onehouse_demos_spark.operators.analytics import (
        returned_item_report,
    )
    from onehouse_demos_spark.plans import explain_str

    txt = explain_str(returned_item_report(spark, SF_DIR))
    assert "SortMergeJoin" not in txt
    assert "BroadcastHashJoin" in txt


def test_bucket_upsert_plans_no_probe_join(spark, tmp_path):
    """On a bucket-layout table the candidate resolution is ONE
    aggregation job over the incoming batch — the upsert never plans
    the key-probe join (candidates come from the key hash), and a
    point write's rewrite set is confined to its bucket."""
    from onehouse_demos_spark import LakehouseTable, TableConfig

    t = LakehouseTable.create(
        spark,
        f"{tmp_path}/bkt_plan",
        TableConfig(name="bkt_plan", record_key=["id"], precombine="ver",
                    bucket_index_buckets=8),
    )
    t.insert(
        spark.createDataFrame(
            [(i, f"v{i}", 1) for i in range(200)], "id int, v string, ver int"
        )
    )
    files, n, _keys, _exact = t._files_for_keys(
        t._with_meta(
            spark.createDataFrame([(5, "x", 2)], "id int, v string, ver int"),
            "99999999999999999999",
        )
    )
    live = len(t.manifest.live_files())
    assert n == 1
    assert 0 < len(files) < live
    inst = t.upsert(
        spark.createDataFrame([(5, "X", 2)], "id int, v string, ver int")
    )
    assert len(inst.removes) <= len(files)


def test_hudi_replay_read_pushes_down(spark, tmp_path):
    """r9: the Hudi personality replay is a plain multi-path parquet
    scan — predicates and projections must reach the scan exactly
    like a native read (the personality adds zero plan overhead)."""
    from onehouse_demos_spark import LakehouseTable, TableConfig
    from onehouse_demos_spark.tables.hudi_export import (
        read_hudi_snapshot,
        sync_hudi_metadata,
    )

    t = LakehouseTable.create(
        spark,
        f"{tmp_path}/h",
        TableConfig(name="h", record_key=["k"], precombine="ver"),
    )
    t.insert(
        spark.createDataFrame(
            [(f"k{i}", 1, float(i)) for i in range(50)],
            "k string, ver int, px double",
        )
    )
    sync_hudi_metadata(t)
    df = read_hudi_snapshot(spark, t.base_path).filter(
        F.col("px") > 40.0
    ).select("k")
    pf = pushed_filters(df)
    assert any("px" in f for f in pf), pf
    schemas = read_schema_columns(df)
    assert schemas and schemas[0] <= {"k", "px"}, schemas


def test_ohlc_is_one_aggregate_no_window(spark):
    """events_ohlc_bars must stay a single hash aggregate (min_by /
    max_by pick open/close inside the agg) — a window-sort plan for
    OHLC re-sorts the whole fact table per bucket at 100 TB."""
    from onehouse_demos_spark.operators.analytics import events_ohlc_bars
    from onehouse_demos_spark.plans import explain_str

    txt = explain_str(events_ohlc_bars(spark, SF_DIR))
    assert "Window" not in txt, txt[:800]
    assert txt.count("Exchange") <= 2, txt[:800]


def test_unigram_logprob_broadcasts_corpus_scalars(spark):
    """The vocab totals ride a one-row broadcast, never a shuffle of
    the token stream against a scalar."""
    from onehouse_demos_spark.operators.text import unigram_logprob_scores
    from onehouse_demos_spark.plans import explain_str

    txt = explain_str(unigram_logprob_scores(spark, SF_DIR))
    assert "BroadcastExchange" in txt, txt[:800]
    assert "CartesianProduct" not in txt


def test_rank_threshold_queries_window_groups_not_facts(spark):
    """important_part_value computes rank, count and the threshold in
    ONE window pass over the one-row-per-part GROUPS frame: the plan
    must scan lineitem EXACTLY once (no cache, no threshold-side
    re-aggregation — the r12 review retired a leaky .cache() and two
    vacuous assertions here) and every Window node must consume the
    aggregated frame, never the raw fact scan."""
    import re

    from onehouse_demos_spark.operators.analytics import important_part_value
    from onehouse_demos_spark.plans import explain_str

    txt = explain_str(important_part_value(spark, SF_DIR))
    scan_ids = [int(m) for m in re.findall(r"Scan parquet\s*\((\d+)\)", txt)]
    agg_ids = [int(m) for m in re.findall(r"HashAggregate\s*\((\d+)\)", txt)]
    win_ids = [int(m) for m in re.findall(r"Window\s*\((\d+)\)", txt)]
    assert len(scan_ids) == 1, (scan_ids, txt[:1200])
    assert win_ids and agg_ids, txt[:1200]
    # node ids grow bottom-up: scan < aggregate < every window
    assert scan_ids[0] < min(agg_ids) < min(win_ids), (
        scan_ids, agg_ids, win_ids,
    )


def test_r13_window_entrants_join_shapes(spark):
    """Plan pins for the r13 window entrants' join strategies: the
    TPC-H-shaped cells must broadcast their dimension sides and never
    degenerate to a cartesian/nested-loop join (the one-row threshold
    broadcast in idle_customer_balance is the documented exception —
    a BroadcastNestedLoopJoin over exactly one scalar row)."""
    from onehouse_demos_spark.operators.analytics import (
        idle_customer_balance,
        large_volume_customers,
        nation_trade_volume,
        regional_market_share,
    )
    from onehouse_demos_spark.plans import explain_str

    for q in (nation_trade_volume, regional_market_share):
        txt = explain_str(q(spark, SF_DIR))
        assert "BroadcastExchange" in txt, txt[:800]
        assert "CartesianProduct" not in txt, txt[:800]
        assert "BroadcastNestedLoopJoin" not in txt, txt[:800]
    # Q8 semi-join: the ASIA customer filter must reach the fact side
    # as a LeftSemi, never a distinct+inner join
    txt = explain_str(regional_market_share(spark, SF_DIR))
    assert "LeftSemi" in txt, txt[:800]
    # Q18: exactly three scans (lineitem + orders + customer) — the
    # HAVING threshold must fold into the per-order aggregate, never a
    # second lineitem pass
    import re

    txt = explain_str(large_volume_customers(spark, SF_DIR))
    scans = set(re.findall(r"Scan parquet\s*\((\d+)\)", txt))
    assert len(scans) <= 3, (scans, txt[:800])
    assert "CartesianProduct" not in txt
    # Q22: the exact-integer threshold rides ONE scalar broadcast; the
    # never-urgent probe is a real anti join
    txt = explain_str(idle_customer_balance(spark, SF_DIR))
    assert "LeftAnti" in txt, txt[:800]
    assert "CartesianProduct" not in txt


def test_bigram_perplexity_windows_partition_by_doc(spark):
    """The bigram LM's position/LAG windows must partition by doc_id
    (per-doc frames — no global sort), and the corpus vocab scalar
    must ride a broadcast."""
    from onehouse_demos_spark.operators.text import bigram_perplexity_scores
    from onehouse_demos_spark.plans import explain_str

    txt = explain_str(bigram_perplexity_scores(spark, SF_DIR))
    assert "Window" in txt, txt[:500]
    # every Window node's partition spec names doc_id
    import re

    specs = re.findall(r"windowspecdefinition\(([^,]+),", txt)
    assert specs and all("doc_id" in s for s in specs), (specs, txt[:900])
    assert "BroadcastExchange" in txt, txt[:500]
    assert "CartesianProduct" not in txt


def test_r14_window_entrants_plan_shapes(spark):
    """Plan pins for the r14 window entrants that are query-shaped
    (the three tbl_* update/delete reads are build pipelines pinned by
    their own suites): Q19-shaped bracketed_revenue must broadcast the
    part dimension into one joined codegen stage — never three
    unioned scans, never a nested-loop fallback; the
    duplicate-passage runs must stay inside doc-partitioned window
    frames (no global sort); multimodal_metadata is a ZERO-SHUFFLE
    Arrow map stage (any Exchange would mean the metadata extraction
    repartitioned 100 TB for a projection)."""
    import re

    from onehouse_demos_spark.operators.analytics import bracketed_revenue
    from onehouse_demos_spark.operators.dedup import duplicate_passage_stats
    from onehouse_demos_spark.operators.multimodal import multimodal_metadata
    from onehouse_demos_spark.plans import explain_str

    txt = explain_str(bracketed_revenue(spark, SF_DIR))
    assert "BroadcastExchange" in txt, txt[:800]
    assert "BroadcastNestedLoopJoin" not in txt, txt[:800]
    assert "CartesianProduct" not in txt, txt[:800]
    scans = set(re.findall(r"Scan parquet\s*\((\d+)\)", txt))
    assert len(scans) <= 2, (scans, txt[:800])

    txt = explain_str(duplicate_passage_stats(spark, SF_DIR))
    assert "CartesianProduct" not in txt, txt[:800]
    # every window/sort is doc-scoped: no global (non-partitioned) Sort
    for m in re.finditer(r"Sort \[([^\]]*)\], (true|false)", txt):
        if m.group(2) == "true":  # global sort
            raise AssertionError(f"global sort in plan: {m.group(0)}")

    txt = explain_str(multimodal_metadata(spark, SF_DIR))
    assert "Exchange" not in txt, txt[:800]


def test_r14_optimized_plan_shapes(spark):
    """r14 optimization-round pins (OPTIMIZATION_r14.md): the measured
    plan-shape wins must not silently regress.

    - sole_late_supplier scans lineitem ONCE (the r13 shape physically
      scanned and pre-aggregated it twice because per_supp fed two
      branches); the per-order flags are windows over the same
      l_orderkey partitioning.
    - bm25_topk touches documents in ONE scan with ZERO Generate
      (explode) nodes — every per-doc stat folds into the split-array
      projection; corpus stats reduce the tiny persisted per-doc frame.
    - events_ohlc_bars aggregates with HashAggregate (the DECIMAL-
      packed min_by/max_by ordering key keeps the buffer mutable);
      a STRING ordering key would silently fall back to
      Sort+SortAggregate.
    """
    import re

    from onehouse_demos_spark.operators.analytics import (
        events_ohlc_bars,
        sole_late_supplier,
    )
    from onehouse_demos_spark.operators.text import bm25_topk
    from onehouse_demos_spark.plans import explain_str

    txt = explain_str(sole_late_supplier(spark, SF_DIR))
    li_scans = [
        m
        for m in re.finditer(r"Location: [^\n]*lineitem", txt)
    ]
    assert len(li_scans) == 1, (len(li_scans), txt[:1200])

    txt = explain_str(bm25_topk(spark, SF_DIR))
    doc_scans = [m for m in re.finditer(r"Location: [^\n]*documents", txt)]
    assert len(doc_scans) == 1, (len(doc_scans), txt[:1200])
    assert "Generate" not in txt, txt[:1200]

    txt = explain_str(events_ohlc_bars(spark, SF_DIR))
    assert "SortAggregate" not in txt, txt[:1200]
    assert "HashAggregate" in txt, txt[:1200]
