"""Physical-plan audits: the optimizations the engine's docstrings claim
must actually appear in the executed plan (pushdown reaching the parquet
scan, column pruning, broadcast dims, partial aggregation, chunked range
join avoiding the nested-loop plan, bucketed co-located joins with no
exchange). A regression that silently de-optimizes a plan (e.g. a UDF
blocking pushdown) fails here even though results stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from palimpzest_spark.plans.queries import QUERIES

from tests.conftest import SF_TEST


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    plan = _plan(QUERIES["filter_project"](spark, SF_TEST))
    assert "PushedFilters" in plan and "GreaterThan" in plan, (
        "filter must reach the parquet scan as a pushed filter"
    )
    # column pruning: the scan's ReadSchema must not include unused wide
    # columns (documents.text is never read by filter_project)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("text" not in ln for ln in read_schema)


def test_q3_broadcasts_the_dimension_side(spark):
    plan = _plan(QUERIES["q3_top_revenue_orders"](spark, SF_TEST))
    assert "BroadcastHashJoin" in plan, "dim side of q3 must broadcast"


def test_q1_partial_aggregation_and_codegen(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_TEST)
    plan = _plan(df)
    assert "partial" in plan.lower(), "map-side partial aggregate missing"
    # AQE hides codegen subtrees until stages finalize — count them with AQE
    # off for the static plan of the same query
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
        out = (
            QUERIES["q1_pricing_summary"](spark, SF_TEST)
            ._jdf.queryExecution()
            .explainString(mode)
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    n = int(out.split("Found ")[1].split(" WholeStageCodegen")[0])
    assert n >= 2, f"expected codegen subtrees spanning scan+agg, got {n}:\n{out[:300]}"


def test_range_join_is_not_nested_loop(spark):
    plan = _plan(QUERIES["range_join_event_windows"](spark, SF_TEST))
    assert "BroadcastNestedLoopJoin" not in plan, (
        "chunked range join must compile to an equi-join on the chunk id"
    )
    assert "CartesianProduct" not in plan


def test_ann_topk_uses_take_ordered(spark):
    plan = _plan(QUERIES["ann_cosine_topk"](spark, SF_TEST))
    assert "TakeOrderedAndProject" in plan, (
        "top-k must be TakeOrderedAndProject, not a full sort"
    )


def test_bernoulli_sample_filter_is_pushdown_friendly(spark):
    plan = _plan(QUERIES["sample_bernoulli_docs"](spark, SF_TEST))
    # the md5-threshold predicate is a deterministic JVM expression: it must
    # run inside codegen with no Python evaluation node
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located join: both sides bucketed+sorted on the key -> sort-merge
    join with ZERO Exchange nodes (the 100TB fact-fact join pattern: pay the
    shuffle once at write time, never per query)."""
    left = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    for name, df in [("t_buck_l", left), ("t_buck_r", right)]:
        df.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable(name)
    try:
        with_buckets = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("t_buck_l").join(spark.table("t_buck_r"), "k")
            plan = _plan(j)
            assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
            assert j.count() == 10_000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_buckets)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_buck_l")
        spark.sql("DROP TABLE IF EXISTS t_buck_r")


def test_asof_join_tie_on_right_ts_is_deterministic(spark):
    """Two right rows sharing (key, right_ts) must attach the SAME winner on
    every run/partitioning: the window tiebreaks on the right-payload struct
    (max wins), not on partition layout."""
    from palimpzest_spark.operators.join import asof_join

    left = spark.createDataFrame([(1, 10)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, 5, "a"), (1, 5, "b")], "k int, rts int, payload string"
    )
    outs = set()
    for parts in (1, 7):
        out = asof_join(
            left.repartition(parts), right.repartition(parts),
            on=["k"], left_ts="ts", right_ts="rts",
        ).collect()
        assert len(out) == 1
        outs.add(out[0]["payload"])
    assert outs == {"b"}, outs  # max struct (rts, payload) wins, always


@pytest.mark.parametrize(
    "name, budget",
    [
        ("topk_per_group", 5),
        ("dedup_minhash_docs", 6),
        ("text_repetition_stats", 6),
        ("sem_topk_attach_oracle", 7),
        ("pack_sequences_oracle", 5),
    ],
)
def test_query_suite_job_budget(spark, name, budget, count_jobs):
    """Building and running each query the query_suite benchmark times (to
    the noop sink, as the benchmark does) starts at most its pinned number
    of Spark jobs, footer reads included: a new collect or count fails."""
    jobs, _ = count_jobs(
        lambda: QUERIES[name](spark, SF_TEST).write.format("noop").mode("overwrite").save()
    )
    assert jobs <= budget, f"{name} started {jobs} Spark jobs"
