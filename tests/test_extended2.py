"""Targeted tests for the second extension batch (q55-q62 operators):
interval join vs a naive reference over randomized inputs, the HLL
error bound, and the kernel fan-out helper's no-op guarantee."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),       # key
        st.integers(0, 20_000),  # ts seconds
    ),
    min_size=1,
    max_size=40,
)


@settings(**SETTINGS)
@given(left=rows_strategy, right=rows_strategy, window=st.integers(1, 5000))
def test_window_count_matches_naive(spark, left, right, window):
    """window_count == brute-force count of right_ts in [lts-w, lts)."""
    from odsc_agentic_ai_summit_2025_spark.operators.rangejoin import (
        window_count,
    )

    ldf = spark.createDataFrame(
        [(i, k, t * 1_000_000) for i, (k, t) in enumerate(left)],
        "row_id long, k long, lus long",
    ).selectExpr("row_id", "k", "timestamp_micros(lus) AS lts")
    rdf = spark.createDataFrame(
        [(k, t * 1_000_000) for (k, t) in right], "k long, rus long"
    ).selectExpr("k", "timestamp_micros(rus) AS rts")

    got = {
        r["row_id"]: r["n_in_window"]
        for r in window_count(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts",
            lower_s=-window, upper_s=0,
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        expect = sum(
            1 for (rk, rt) in right if rk == k and t - window <= rt < t
        )
        assert got[i] == expect, (i, k, t, window)


def test_interval_join_left_keeps_unmatched(spark):
    from odsc_agentic_ai_summit_2025_spark.operators.rangejoin import (
        interval_join,
    )

    ldf = spark.createDataFrame(
        [(1, 0, 1_000_000_000)], "row_id long, k long, lus long"
    ).selectExpr("row_id", "k", "timestamp_micros(lus) AS lts")
    rdf = spark.createDataFrame(
        [(9, 1_000_000_000)], "k long, rus long"  # different key: no match
    ).selectExpr("k", "timestamp_micros(rus) AS rts")
    out = interval_join(
        ldf, rdf, on="k", left_ts="lts", right_ts="rts",
        lower_s=-10, upper_s=0, how="left",
    ).collect()
    assert len(out) == 1
    assert out[0]["row_id"] == 1 and out[0]["rts"] is None


def test_window_count_null_and_duplicate_rows(spark):
    """Row identity is a KEY, not the row's values: duplicate left
    rows each keep their own count and NULL-bearing rows are neither
    dropped nor re-emitted (the old value-keyed anti/group logic
    failed both)."""
    from odsc_agentic_ai_summit_2025_spark.operators.rangejoin import (
        interval_join,
        window_count,
    )

    # two IDENTICAL left rows + one row with a NULL payload column
    ldf = spark.createDataFrame(
        [(0, 100 * 1_000_000, "x"), (0, 100 * 1_000_000, "x"),
         (0, 200 * 1_000_000, None)],
        "k long, lus long, payload string",
    ).selectExpr("k", "timestamp_micros(lus) AS lts", "payload")
    rdf = spark.createDataFrame(
        [(0, 95 * 1_000_000), (0, 99 * 1_000_000), (0, 150 * 1_000_000)],
        "k long, rus long",
    ).selectExpr("k", "timestamp_micros(rus) AS rts")

    rows = window_count(
        ldf, rdf, on="k", left_ts="lts", right_ts="rts",
        lower_s=-10, upper_s=0,
    ).collect()
    counts = sorted(
        ((r["payload"], r["n_in_window"]) for r in rows),
        key=lambda t: (t[0] is not None, t),
    )
    # each duplicate gets its own count of 2; the NULL row gets 0
    assert counts == [(None, 0), ("x", 2), ("x", 2)]

    out = interval_join(
        ldf, rdf, on="k", left_ts="lts", right_ts="rts",
        lower_s=-10, upper_s=0, how="left",
    ).collect()
    # 2 matches × 2 duplicate rows + 1 unmatched NULL row = 5; the
    # matched NULL-free rows must NOT be re-emitted as unmatched
    assert len(out) == 5
    null_rows = [r for r in out if r["payload"] is None]
    assert len(null_rows) == 1 and null_rows[0]["rts"] is None


def test_approx_distinct_error_bound(spark, sf_dir):
    """The portable 32-register HLL (~1.04/√32 ≈ 18 % rsd) must land
    within 3σ of the exact count; Spark's native HLL++ at rsd=0.02
    (the production tier, not oracle-able) within 5 %."""
    from pyspark.sql import functions as F

    from odsc_agentic_ai_summit_2025_spark.plans.extended2 import (
        q57_approx_distinct,
    )
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_table

    for row in q57_approx_distinct(spark, sf_dir).collect():
        exact = row["exact_custs"]
        approx = row["approx_custs"]
        assert abs(approx - exact) <= max(2, 3 * 0.184 * exact), row

    native = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("a"),
            F.countDistinct("o_custkey").alias("e"),
        )
    )
    for row in native.collect():
        assert abs(row["a"] - row["e"]) <= max(1, 0.05 * row["e"]), row


def test_ensure_min_partitions_noop_when_wide(spark):
    from odsc_agentic_ai_summit_2025_spark.sources.io import (
        ensure_min_partitions,
    )

    wide = spark.range(1000).repartition(8)
    assert ensure_min_partitions(wide, 4) is wide  # already wide: no-op
    narrow = spark.range(1000).coalesce(1)
    assert ensure_min_partitions(narrow, 4).rdd.getNumPartitions() == 4


def _jobs_started(sc, group, fn):
    """(Spark jobs ``fn`` started, by job id from the status tracker
    once the listener bus has delivered every event, and its result)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_ensure_min_partitions_runs_no_job(spark, tmp_path):
    """The fan-out decision is read from the plan: on an adaptive
    join input it starts no job (``df.rdd`` would run the join's query
    stages), and a one-split target returns the frame untouched."""
    from odsc_agentic_ai_summit_2025_spark.sources.io import (
        ensure_min_partitions,
    )

    sc = spark.sparkContext
    path = str(tmp_path / "ids")
    spark.range(200).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)

    def join():  # a fresh frame: one that has run holds its final plan
        return scan.join(
            spark.range(0, 200, 3).groupBy("id").count(), "id", "left_anti"
        )

    plan = join()._jdf.queryExecution().executedPlan()
    assert plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    want = sorted(r.id for r in join().collect())

    n_jobs, fanned = _jobs_started(
        sc, "emp-join", lambda: ensure_min_partitions(join(), 3)
    )
    assert n_jobs == 0
    assert fanned.rdd.getNumPartitions() >= 3
    assert sorted(r.id for r in fanned.collect()) == want

    for df in (join(), scan):
        n_jobs, same = _jobs_started(
            sc, "emp-one", lambda: ensure_min_partitions(df, 1)
        )
        assert n_jobs == 0 and same is df


def test_chunking_covers_all_tokens(spark, sf_dir):
    """Every token position appears in ≥1 chunk; chunk sizes ≤ 32."""
    from odsc_agentic_ai_summit_2025_spark.plans.extended2 import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        q61_chunk_docs,
    )
    from odsc_agentic_ai_summit_2025_spark.functions.text import token_count
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_table

    chunks = q61_chunk_docs(spark, sf_dir)
    per_doc = chunks.groupBy("doc_id").agg(
        F.max("n_chunk_tokens").alias("max_len"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.max(F.col("chunk_id") * CHUNK_STRIDE + F.col("n_chunk_tokens")).alias(
            "covered"
        ),
    )
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    bad = (
        per_doc.join(docs, "doc_id")
        .filter(
            (F.col("max_len") > CHUNK_SIZE) | (F.col("covered") < F.col("n_tokens"))
        )
        .count()
    )
    assert bad == 0
