"""Physical-plan assertions: the plans we'd want at 100 TB, not just plans
that pass.  Each check pins a property SURVEY.md §4 / ARCHITECTURE.md claims:
filter+projection pushdown into the parquet scan, broadcast for small dims,
map-side partial aggregation, hash-based semi/anti joins, whole-stage
codegen on the relational glue."""
import pytest

from mlscraper_spark import queries as Q


def _plan(spark, sf_dir, fn, execute=False):
    df = fn(spark, sf_dir)
    if execute:  # AQE finalizes (and codegens) only at execution time
        df.write.mode("overwrite").format("noop").save()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_filter_and_projection_pushdown(spark, sf):
    plan = _plan(spark, sf, Q.q02_filter_projection)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThanOrEqual(l_quantity" in plan
    # column pruning: scan must read only the 4 needed columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema, "scan reads columns it must prune"


def test_broadcast_join_for_small_dim(spark, sf):
    plan = _plan(spark, sf, Q.q03_broadcast_join)
    assert "BroadcastHashJoin" in plan


def test_partial_aggregation(spark, sf):
    plan = _plan(spark, sf, Q.q01_pricing_summary)
    # partial (map-side) + final agg pair
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial_count" in plan


def test_anti_and_semi_joins_are_hash_joins(spark, sf):
    anti = _plan(spark, sf, Q.q06_anti_join)
    semi = _plan(spark, sf, Q.q07_semi_join)
    assert "LeftAnti" in anti
    assert "LeftSemi" in semi
    assert "NestedLoop" not in anti and "NestedLoop" not in semi


def test_whole_stage_codegen_present(spark, sf):
    import io
    from contextlib import redirect_stdout

    df = Q.q04_shuffle_join(spark, sf)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("codegen")
    assert "WholeStageCodegen" in buf.getvalue()


def test_corpus_prep_two_shuffles_no_udf(spark, sf):
    """q37 composite pipeline: exactly the two aggregation Exchanges
    (fingerprint dedup + language rollup) plus the final single-partition
    orderBy, map-side partial aggs on both, and zero Python UDF stages —
    the whole normalize/gate/lang-ID chain stays in JVM expressions."""
    plan = _plan(spark, sf, Q.q37_corpus_prep)
    body = plan.split("AdaptiveSparkPlan")[-1]
    n_exchange = body.count("Exchange")
    assert n_exchange <= 3, f"expected <=3 Exchanges (2 aggs + sort): {n_exchange}"
    assert body.count("HashAggregate") >= 4  # partial+final per agg
    assert "SortAggregate" not in body, "dedup agg fell back to sort-agg"
    assert "partial_count" in body or "partial_min" in body
    assert "BatchEvalPython" not in body and "ArrowEvalPython" not in body
    assert "FlatMapsInPandas" not in body and "MapInPandas" not in body


def test_topk_uses_windowed_rank_not_global_sort(spark, sf):
    plan = _plan(spark, sf, Q.q05_topk_per_group)
    assert "Window" in plan or "WindowGroupLimit" in plan
    # Spark ≥3.5 pushes rank<=k into WindowGroupLimit (partial top-k)
    assert "WindowGroupLimit" in plan, "rank filter should push into group-limit"


def test_extraction_stage_has_no_shuffle(spark, sf):
    """No DATA shuffle (hash/range exchange) anywhere in the extraction
    path.  A round-robin Exchange is permitted: it is the scan-parallelism
    floor (queries._spread) that spreads a single-split small input across
    cores, and disappears entirely when the input is large enough to split
    on its own."""
    df = Q.q23_extract_scraper(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_ivf_quantizer_is_broadcast(spark, sf):
    """q29's coarse quantizer must be broadcast (the 16-centroid side
    never shuffles the corpus), assignment must partial-aggregate before
    its one exchange per vector, and nothing may fall back to python."""
    plan = _plan(spark, sf, Q.q29_ann_ivf)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan  # quantizer is broadcast state
    assert "partial_max" in plan or "partial_first" in plan, (
        "argmax must map-side combine the ×16 fan-out")
    # corpus-sized hash exchanges: assignment (vec_id), cell self-join ×2,
    # top-k window — never more.  Count DISTINCT plan ids: the cached
    # assignment subtree prints once under each InMemoryTableScan
    import re

    distinct = {
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning.*\[plan_id=(\d+)\]", plan)
    }
    assert len(distinct) <= 4, plan


def test_rollup_is_one_expand_one_shuffle(spark, sf):
    """q31's ROLLUP must expand grouping sets before the partial agg —
    one scan, one Exchange — not three separate aggregations."""
    plan = _plan(spark, sf, Q.q31_rollup_summary)
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_asof_join_is_not_nested_loop(spark, sf):
    """q32's as-of join must use the equi key (hash/sort join with the
    temporal predicate as a post-condition), never a nested loop over
    events × orders."""
    plan = _plan(spark, sf, Q.q32_asof_join)
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_pivot_is_one_conditional_agg(spark, sf):
    """q33's pivot must stay one aggregation pipeline — Spark plans it as
    a two-level aggregate ((user_id, type) then pivot on user_id), both
    levels map-side combined, never a join of per-type aggregates."""
    plan = _plan(spark, sf, Q.q33_pivot_event_types)
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_moving_sum_single_shuffle_window(spark, sf):
    """q34's sliding frame must evaluate inside one Window over one
    shuffle on user_id."""
    plan = _plan(spark, sf, Q.q34_moving_sum)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan


def test_ngram_index_caps_stop_grams(spark, sf):
    """q30's inverted-index join must be a hash equi-join on the shingle
    hash (never a nested-loop/cartesian) with the df<=50 cap applied
    before the self-join."""
    plan = _plan(spark, sf, Q.q30_ngram_jaccard)
    # hash equi-join on the shingle hash (broadcast at toy sf, shuffled at
    # scale — both are equi-joins); never a nested-loop/cartesian
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_fingerprint_neardup_is_banded_equi_join(spark, sf):
    """q35's LSH banding must plan as a hash equi-join on (band, val) —
    never all-pairs — with the popcount verify as a plain filter."""
    plan = _plan(spark, sf, Q.q35_fingerprint_neardup)
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_thumbnail_pipeline_has_no_shuffle(spark, sf):
    """q36 (extract → resize) is two chained Arrow stages over the scan:
    embarrassingly parallel — no DATA shuffle (a round-robin Exchange from
    the queries._spread scan-parallelism floor is permitted; it no-ops on
    inputs that split on their own)."""
    plan = _plan(spark, sf, Q.q36_image_thumbnails)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_q24_job_count(spark, sf):
    """q24 caches only the parsed nodes, which both of its branches read;
    the values side and the direct text hits are recomputed, as caching
    them costs a materializing job each and saves nothing."""
    from mlscraper_spark.caches import release_caches
    from tests.conftest import jobs_submitted

    try:
        rows, n_jobs = jobs_submitted(
            spark, lambda: Q.q24_match_scan(spark, sf).collect())
    finally:
        release_caches()
    assert rows and all(r.n_matches == 1 for r in rows)
    assert n_jobs == 9, n_jobs
