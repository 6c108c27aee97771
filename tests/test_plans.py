"""Physical-plan regression tests: the scale properties documented in
docs/SCALE.md must stay true (pushdown, pruning, broadcast, no Python in
prefilters). These are the '.explain' audits frozen as assertions."""

import re

import pytest
from pyspark.sql import functions as F


def plan_of(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_guarded_query_pushdown(spark, sf_dir):
    from gfw_data_api_spark.operators.query import execute_on_dataframe
    from gfw_data_api_spark.sources.tabular import load_table

    df = execute_on_dataframe(
        spark,
        load_table(spark, sf_dir, "lineitem"),
        "SELECT l_returnflag, count(*) AS cnt FROM t "
        "WHERE l_quantity > 10 GROUP BY l_returnflag",
    )
    plan = plan_of(spark, df)
    # filter reaches the parquet scan
    assert re.search(r"PushedFilters: \[.*GreaterThan\(l_quantity,10\.0\)", plan)
    # column pruning: only the two referenced columns are read
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert set(schema.split(",")) == {"l_quantity:double", "l_returnflag:string"}
    # map-side partial aggregation before the shuffle
    assert "partial_count" in plan


def test_spatial_filter_bbox_before_python(spark):
    """The cheap bbox prefilter must run before the Arrow-UDF predicate."""
    import pandas as pd

    from gfw_data_api_spark.functions import geometry as geo
    from gfw_data_api_spark.operators.query import filter_by_geometry

    pts = pd.DataFrame(
        {
            "id": [1],
            "geom": [geo.wkb_dumps({"type": "Point", "coordinates": [0.5, 0.5]})],
            "gfw_bbox": [[0.5, 0.5, 0.5, 0.5]],
        }
    )
    df = spark.createDataFrame(pts)
    square = {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]}
    plan = plan_of(spark, filter_by_geometry(df, square))
    python_eval = plan.find("ArrowEvalPython")
    assert python_eval > 0
    # the native bbox Filter node appears below (later in the tree than)
    # the Python eval node in the formatted output → executes first
    bbox_filter = plan.find("gfw_bbox#")
    assert bbox_filter > 0


def test_raster_zonal_partition_pruning(spark, tmp_path):
    import numpy as np

    from gfw_data_api_spark.catalog import Registry
    from gfw_data_api_spark.raster.grid import Grid
    from gfw_data_api_spark.raster.ingest import ingest_raster_tiles
    from gfw_data_api_spark.raster.zonal import query_raster

    registry = Registry(str(tmp_path / "cat"))
    grid = Grid(1.0, 10)
    tiles = {
        f"0{lat}N_01{lon}E": np.ones((10, 10)) for lat in range(1, 4) for lon in range(0, 3)
    }
    ingest_raster_tiles(registry, spark, "layer", "v1", grid, "year", tiles)
    aoi = {
        "type": "Polygon",
        "coordinates": [[[10.2, 0.2], [10.8, 0.2], [10.8, 0.8], [10.2, 0.8], [10.2, 0.2]]],
    }
    df = query_raster(spark, registry, "layer", "v1", "SELECT count(*) AS n FROM data", aoi)
    plan = plan_of(spark, df)
    # 9 tiles exist; only the single overlapping tile is scanned
    assert re.search(r"PartitionFilters: \[.*tile_id.*01N_010E", plan)


def test_broadcast_join_for_dimensions(spark, sf_dir):
    from gfw_data_api_spark.inventory import SPECS

    df = SPECS["i08_multiway_join_revenue"].spark_fn(spark, sf_dir)
    plan = plan_of(spark, df)
    assert "BroadcastHashJoin" in plan


def test_topk_never_global_sorts(spark, sf_dir):
    """Brute-force top-k must plan as TakeOrdered, not a full Sort+Limit."""
    from gfw_data_api_spark.llmops.similarity import brute_force_topk
    from gfw_data_api_spark.sources.tabular import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.select("embedding").first()[0]
    df = brute_force_topk(emb, [float(x) for x in query], k=5)
    plan = plan_of(spark, df)
    assert "TakeOrderedAndProject" in plan


def test_bucketed_tile_sets_join_without_shuffle(spark):
    """The cluster-scale layout: two tile sets bucketed on
    (tile_id, pixel_id) join with no Exchange on either side."""
    import numpy as np

    from gfw_data_api_spark.raster.grid import Grid
    from gfw_data_api_spark.raster.pixels import tile_set_from_array, write_tile_set_bucketed

    grid = Grid(1.0, 50)
    rng = np.random.default_rng(3)
    a = tile_set_from_array(spark, grid, "01N_010E", rng.uniform(1, 9, (50, 50)), no_data=None)
    b = tile_set_from_array(spark, grid, "01N_010E", rng.uniform(1, 9, (50, 50)), no_data=None)
    write_tile_set_bucketed(a, "bucketed_layer_a", buckets=4)
    write_tile_set_bucketed(b, "bucketed_layer_b", buckets=4)
    try:
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bucketed_layer_a").join(
                spark.table("bucketed_layer_b"), ["tile_id", "pixel_id"]
            )
            plan = plan_of(spark, joined)
            assert "Exchange" not in plan  # co-partitioned: no shuffle at all
            assert joined.count() == 2500
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_layer_a")
        spark.sql("DROP TABLE IF EXISTS bucketed_layer_b")


def test_chunk_and_pii_are_narrow(spark, sf_dir):
    """c01/c02 must not shuffle beyond the deliberate documents fanout."""
    from gfw_data_api_spark.llmops.clean import scrub_pii
    from gfw_data_api_spark.llmops.text import chunk_documents
    from gfw_data_api_spark.sources.tabular import load_table

    docs = load_table(spark, sf_dir, "documents", fanout=False)
    for df in (chunk_documents(docs), scrub_pii(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "EvalPython" not in plan, plan


def test_jaccard_df_cap_is_map_side(spark, sf_dir):
    """The hot-shingle cap must never shuffle the full index a second
    time: the hot set resolves driver-side once and applies as a map-side
    isin filter (or broadcast anti-join in the degenerate huge-hot-set
    case) — no SortMergeJoin LeftAnti anywhere."""
    from gfw_data_api_spark.llmops.dedup import ngram_jaccard_pairs
    from gfw_data_api_spark.sources.tabular import load_table

    docs = load_table(spark, sf_dir, "documents")
    # cap low enough that common shingles ARE hot at sf0.001 → the filter
    # branch is exercised, not skipped as empty
    df = ngram_jaccard_pairs(docs, max_doc_frequency=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"SortMergeJoin.*LeftAnti", plan), plan
    assert re.search(r"NOT.*IN|isin|INSET", plan, re.IGNORECASE), plan


def test_pagination_no_unpartitioned_window(spark, sf_dir):
    """paginate_df must not contain a WindowExec (count(*) OVER () with an
    empty partition spec funnels every row through one task)."""
    from gfw_data_api_spark.operators.pagination import paginate_df
    from gfw_data_api_spark.sources.tabular import load_table

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    df = paginate_df(cust, page=3, size=10, order_by=["c_custkey"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_approx_percentile_partial_aggregation(spark, sf_dir):
    """a02's sketch path must aggregate map-side (partial_approx_percentile
    before the exchange) — the property that bounds reducer state."""
    from gfw_data_api_spark.operators.percentiles import grouped_percentiles
    from gfw_data_api_spark.sources.tabular import load_table

    li = load_table(spark, sf_dir, "lineitem")
    df = grouped_percentiles(li, ["l_returnflag"], {"p50": ("l_quantity", 0.5)})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_approx_percentile" in plan, plan


def test_stratified_sample_is_shuffle_free(spark, sf_dir):
    """Hash-bucket sampling must stay a pure narrow filter: no Exchange
    anywhere in the plan at any scale."""
    from gfw_data_api_spark.llmops.sampling import hash_split, stratified_sample
    from gfw_data_api_spark.sources.tabular import load_table

    docs = load_table(spark, sf_dir, "documents", fanout=False)
    plan = plan_of(spark, stratified_sample(docs, "lang", {"en": 0.5}))
    assert "Exchange" not in plan
    plan = plan_of(spark, hash_split(docs))
    assert "Exchange" not in plan


def test_resample_locf_no_nested_loop(spark, sf_dir):
    """Grid↔observation join is an equi-join on (key, bucket): hash or
    sort-merge, never BroadcastNestedLoop/Cartesian."""
    from gfw_data_api_spark.operators.timeseries import resample_locf
    from gfw_data_api_spark.sources.tabular import load_table

    events = load_table(spark, sf_dir, "events")
    df = resample_locf(events, ["event_type"], order_col="event_id")
    plan = plan_of(spark, df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # bucket collapse is a partial-aggregated groupBy, not a window
    assert "partial_max_by" in plan or "HashAggregate" in plan


def test_connected_components_star_rounds_are_hash_joins(spark):
    """One star round = groupBy min + equi-join; the plan must never
    degrade to a nested-loop join."""
    from gfw_data_api_spark.llmops.components import _canon_edges, _large_star, _small_star

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a bigint, id_b bigint"
    )
    round_df = _small_star(_large_star(_canon_edges(pairs, "id_a", "id_b")))
    plan = plan_of(spark, round_df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bigram_lm_joins_model_once(spark, sf_dir):
    """The occurrence relation must join the vocab-sized model exactly
    once (two joins of the exploded corpus was measurably slower)."""
    from gfw_data_api_spark.llmops.text import bigram_lm_scores
    from gfw_data_api_spark.sources.tabular import load_table

    docs = load_table(spark, sf_dir, "documents", fanout=False)
    plan = plan_of(spark, bigram_lm_scores(docs))
    assert "BroadcastNestedLoopJoin" not in plan
    # occurrence explode (Generate) appears once per consumer; the join
    # tree re-uses the persisted occ via InMemoryRelation
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_repetition_signals_is_map_side(spark, sf_dir):
    """repetition_signals computes per-document state that never leaves
    the row (optimization r13): the plan must stay a single narrow map —
    no Exchange beyond load_table's scan fanout, no join, no explode.
    A refactor back to the explode → groupBy chains costs 4 exchanges
    per call AND re-inflates every iteration of the t26 LR envelope."""
    from gfw_data_api_spark.llmops.text import repetition_signals
    from gfw_data_api_spark.sources.tabular import load_table

    docs = load_table(spark, sf_dir, "documents", fanout=False)
    plan = plan_of(spark, repetition_signals(docs))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "Generate" not in plan, plan


def test_winnowing_is_map_side(spark, sf_dir):
    """winnowing_fingerprints' rolling min and per-doc dedup are per-row
    (optimization r13): no Exchange, no Window — only the final output
    explode (one Generate)."""
    from gfw_data_api_spark.llmops.dedup import winnowing_fingerprints
    from gfw_data_api_spark.sources.tabular import load_table

    docs = load_table(spark, sf_dir, "documents", fanout=False)
    plan = plan_of(spark, winnowing_fingerprints(docs, k=5, window=4))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_featurize_has_no_join(spark, sf_dir):
    """classifier.featurize must stay ONE narrow map (optimization r13):
    the repetition fractions inline the sorted-array fold instead of
    joining repetition_signals back on doc_id — a regression here makes
    corpus-scale scoring pay a corpus-scale shuffle."""
    from gfw_data_api_spark.llmops.classifier import featurize
    from gfw_data_api_spark.sources.tabular import load_table

    docs = load_table(spark, sf_dir, "documents", fanout=False)
    plan = plan_of(spark, featurize(docs))
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_ivf_assignment_evaluates_once_under_filter(spark, sf_dir):
    """The IVF cell-assignment pandas UDF must evaluate ONCE even when a
    filter references the cell column (guide §4.4; optimization r12).
    The ``asNondeterministic`` pin on ``_assign_cell`` is what prevents
    Catalyst from pushing a duplicated ArrowEvalPython below the filter
    — a refactor that drops the pin reintroduces a full BLAS pass per
    consumer filter and fails here (ADVICE r12)."""
    from gfw_data_api_spark.llmops import ivf
    from gfw_data_api_spark.sources.tabular import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf.train_ivf(emb, nlist=4, iters=2)
    probed = ivf.build_ivf_index(emb, centroids).filter(
        F.col("ivf_cell").isin([0, 1])
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_pq_carry_cols_rejects_result_column_collisions(spark, sf_dir):
    """carry_cols entries that shadow the result columns (id_col or the
    adc_dist alias) must fail loudly at call time, not with an opaque
    analysis error (ADVICE r12)."""
    import numpy as np

    from gfw_data_api_spark.llmops.pq import pq_topk

    books = np.zeros((2, 2, 2))
    books[:, 1, :] = 1.0
    enc = spark.createDataFrame(
        [(1, [0, 1]), (2, [1, 0])], "vec_id bigint, pq_codes array<int>"
    )
    with pytest.raises(ValueError, match="carry_cols.*collide"):
        pq_topk(enc, books, [0.0, 0.0, 0.0, 0.0], k=1, carry_cols=["adc_dist"])
    with pytest.raises(ValueError, match="carry_cols.*collide"):
        pq_topk(enc, books, [0.0, 0.0, 0.0, 0.0], k=1, carry_cols=["vec_id"])
