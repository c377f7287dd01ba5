"""Behavioral tests for composed relational operators
(operators/relational.py) that aren't fully pinned by the oracled
queries — currently the snapshot-diff operator (q77 covers the oracle
parity; these cover null handling, column selection, and key safety)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mlb_data_pipeline_spark.operators.relational import dataset_diff


def _snap(spark, rows):
    return spark.createDataFrame(rows, "k long, a string, b long")


def test_dataset_diff_labels(spark):
    old = _snap(spark, [(1, "x", 10), (2, "y", 20), (3, "z", 30)])
    new = _snap(spark, [(2, "y", 20), (3, "Z", 30), (4, "w", 40)])
    out = {r["k"]: r["change_type"] for r in dataset_diff(old, new, ["k"]).collect()}
    assert out == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_dataset_diff_null_vs_empty_vs_absent(spark):
    # NULL, empty string, and the literal sentinel-ish text must all
    # hash distinctly — a diff that conflates them reports 'unchanged'
    # for a real change
    old = _snap(spark, [(1, None, 1), (2, "", 1), (3, "null", 1)])
    new = _snap(spark, [(1, "", 1), (2, "null", 1), (3, None, 1)])
    out = {r["k"]: r["change_type"] for r in dataset_diff(old, new, ["k"]).collect()}
    assert out == {1: "changed", 2: "changed", 3: "changed"}
    same = {r["k"]: r["change_type"] for r in dataset_diff(old, old, ["k"]).collect()}
    assert set(same.values()) == {"unchanged"}


def test_dataset_diff_compare_cols_subset(spark):
    old = _snap(spark, [(1, "x", 10)])
    new = _snap(spark, [(1, "x", 99)])
    # full compare sees the b change; restricting to 'a' does not
    assert dataset_diff(old, new, ["k"]).collect()[0]["change_type"] == "changed"
    assert (
        dataset_diff(old, new, ["k"], compare_cols=["a"]).collect()[0]["change_type"]
        == "unchanged"
    )


def test_dataset_diff_single_shuffle_join(spark):
    old = _snap(spark, [(1, "x", 10)])
    new = _snap(spark, [(1, "x", 10)])
    plan = (
        dataset_diff(old, new, ["k"])
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("Join FullOuter") == 1


def test_dataset_diff_key_only_snapshots(spark):
    # all columns are keys -> membership diff: added/removed/unchanged,
    # never 'changed'
    old = spark.createDataFrame([(1,), (2,)], "k long")
    new = spark.createDataFrame([(2,), (3,)], "k long")
    out = {r["k"]: r["change_type"] for r in dataset_diff(old, new, ["k"]).collect()}
    assert out == {1: "removed", 2: "unchanged", 3: "added"}


def test_numeric_histogram_clamps_outliers_and_counts(spark):
    import pytest

    from mlb_data_pipeline_spark.operators.relational import numeric_histogram

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (4.9,), (5.0,), (9.9,), (27.0,), (None,)], "x DOUBLE"
    )
    got = {r.bin: (r.lo_edge, r.hi_edge, r.n) for r in numeric_histogram(df, "x", 0.0, 10.0, 2).collect()}
    # bin 0 = [0,5): values 0.0, 4.9, plus clamped -5.0
    assert got[0] == (0.0, 5.0, 3)
    # bin 1 = [5,10): 5.0, 9.9, plus clamped 27.0; None dropped
    assert got[1] == (5.0, 10.0, 3)
    with pytest.raises(ValueError):
        numeric_histogram(df, "x", 10.0, 0.0, 2)


def test_table_profile_stats_and_native_type_minmax(spark):
    import pytest

    from mlb_data_pipeline_spark.operators.relational import table_profile

    df = spark.createDataFrame(
        [(9, "b"), (10, None), (None, "a"), (10, "a")], "n BIGINT, s STRING"
    )
    got = {r.column: (r.n_nulls, r.n_distinct, r.min_value, r.max_value)
           for r in table_profile(df, ["n", "s"]).collect()}
    # min over native ints: 9 < 10 (a string-cast-first min would say "10")
    assert got["n"] == (1, 2, "9", "10")
    assert got["s"] == (1, 2, "a", "b")
    with pytest.raises(ValueError):
        table_profile(df, [])


def test_salted_join_equals_plain_join_and_partitions_on_salt(spark):
    import pytest

    from mlb_data_pipeline_spark.operators.relational import salted_join

    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold") for i in range(200)], "id BIGINT, k STRING"
    )
    small = spark.createDataFrame([("hot", 1), ("cold", 2)], "k STRING, v INT")
    plain = {(r.id, r.k, r.v) for r in big.join(small, "k").collect()}
    salted = salted_join(big, small, ["k"], n_salts=4)
    assert {(r.id, r.k, r.v) for r in salted.collect()} == plain
    # the physical join genuinely keys on the salt
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan
    with pytest.raises(ValueError):
        salted_join(big, small, ["k"], n_salts=0)


def test_distribution_drift_zero_self_positive_shifted(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.relational import distribution_drift

    a = spark.range(0, 1000).select((F.col("id") % 100).cast("double").alias("x"))
    # identical populations: every bin matches -> PSI exactly 0
    same = distribution_drift(a, a, "x", 0.0, 100.0, 10).collect()
    assert all(r.psi_term == 0.0 for r in same)
    assert same[0].psi_total == 0.0
    # shifted population concentrates mass in the top bins -> large PSI
    b = spark.range(0, 1000).select(
        (F.lit(50.0) + (F.col("id") % 50).cast("double")).alias("x")
    )
    shifted = distribution_drift(a, b, "x", 0.0, 100.0, 10).collect()
    assert shifted[0].psi_total > 0.25
    assert all(r.psi_total == shifted[0].psi_total for r in shifted)
    # per-bin terms sum to the total (within the 1e-9 quantization)
    assert abs(sum(r.psi_term for r in shifted) - shifted[0].psi_total) < 1e-6
    # an empty side still produces a defined report: smoothing turns it
    # into the uniform reference, so a NON-uniform A reads as drift
    skew = spark.range(0, 1000).select(
        F.least(F.col("id") % 100, F.lit(9)).cast("double").alias("x")
    )
    empty = a.filter(F.col("x") < -1)
    rep = distribution_drift(skew, empty, "x", 0.0, 100.0, 10).collect()
    assert all(not (r.psi_total != r.psi_total) for r in rep)
    assert rep[0].psi_total > 0.25
    with _pytest.raises(ValueError):
        distribution_drift(a, a, "x", 0.0, 0.0, 10)


def test_categorical_drift_null_category_and_disjoint(spark):
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.relational import categorical_drift

    a = spark.createDataFrame(
        [("x",), ("x",), ("y",), (None,)], "c STRING"
    )
    b = spark.createDataFrame(
        [("x",), (None,), (None,), ("z",)], "c STRING"
    )
    rep = {r.category: r for r in categorical_drift(a, b, "c").collect()}
    # NULLs from BOTH sides land in ONE <NULL> row (sentinel, not null key)
    assert rep["<NULL>"].n_a == 1 and rep["<NULL>"].n_b == 2
    # categories unique to one side appear with a zero count on the other
    assert rep["y"].n_b == 0 and rep["z"].n_a == 0
    assert set(rep) == {"x", "y", "z", "<NULL>"}
    # identical inputs -> exactly zero
    same = categorical_drift(a, a, "c").collect()
    assert all(r.psi_term == 0.0 and r.psi_total == 0.0 for r in same)


def test_zorder_key_interleaves_and_validates(spark):
    import pytest
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.relational import zorder_key

    # 2-bit toy: x=3 (bits 11), y=0 -> z bits x at even-ish positions
    # b*n+i: x contributes bits 0 and 2 -> z=5; y=3,x=0 -> bits 1,3 -> z=10
    df = spark.createDataFrame(
        [(3.0, 0.0), (0.0, 3.0), (3.0, 3.0), (None, 0.0)], "x DOUBLE, y DOUBLE"
    )
    cols = [("x", 0.0, 4.0), ("y", 0.0, 4.0)]
    got = [r.z for r in df.select(zorder_key(cols, 2).alias("z")).collect()]
    assert got == [5, 10, 15, 0]  # NULL clamps to cell 0
    with pytest.raises(ValueError):
        zorder_key([("x", 0.0, 4.0)], 2)
    with pytest.raises(ValueError):
        zorder_key(cols, 32)
    with pytest.raises(ValueError):
        zorder_key([("x", 4.0, 4.0), ("y", 0.0, 1.0)], 2)


def test_salted_join_left_exact_and_small_preserving_types_raise(spark):
    import pytest

    from mlb_data_pipeline_spark.operators.relational import salted_join

    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else "orphan") for i in range(100)], "id BIGINT, k STRING"
    )
    small = spark.createDataFrame(
        [("hot", 1), ("unmatched", 9)], "k STRING, v INT"
    )
    # left join: unmatched BIG rows appear exactly once (big isn't replicated)
    plain = {(r.id, r.k, r.v) for r in big.join(small, "k", "left").collect()}
    got = [
        (r.id, r.k, r.v)
        for r in salted_join(big, small, ["k"], n_salts=4, how="left").collect()
    ]
    assert set(got) == plain and len(got) == len(plain)
    # semi/anti are big-side row selections — also safe
    assert (
        salted_join(big, small, ["k"], n_salts=4, how="left_anti").count()
        == big.join(small, "k", "left_anti").count()
    )
    # types where the REPLICATED side can emit unmatched rows must raise:
    # 'unmatched' would otherwise surface n_salts times null-extended
    for how in ("right", "full", "full_outer", "right_outer", "outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(big, small, ["k"], n_salts=4, how=how)


def test_percentiles_exact_nearest_rank(spark):
    from mlb_data_pipeline_spark.operators.relational import percentiles_exact

    rows = [("g", float(v)) for v in range(1, 101)]  # 1..100
    df = spark.createDataFrame(rows, "grp STRING, value DOUBLE")
    [r] = percentiles_exact(df, ["grp"], "value", [0.5, 0.9, 0.99, 1.0]).collect()
    assert (r.p50, r.p90, r.p99, r.p100) == (50.0, 90.0, 99.0, 100.0)
    # singleton group: every percentile is the single value
    [s] = percentiles_exact(
        spark.createDataFrame([("x", 7.0)], "grp STRING, value DOUBLE"),
        ["grp"], "value", [0.5, 0.99],
    ).collect()
    assert (s.p50, s.p99) == (7.0, 7.0)
    import pytest

    with pytest.raises(ValueError):
        percentiles_exact(df, ["grp"], "value", [0.0])


def test_bloom_prefilter_join_equals_plain_join_all_hows(spark):
    import pytest
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.relational import bloom_prefilter_join

    big = spark.range(5000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
    )
    small = spark.range(30).select((F.col("id") * 31).alias("k"), F.col("id").alias("w"))
    for how in ("left_semi", "inner", "left_anti"):
        got = sorted(tuple(r) for r in bloom_prefilter_join(big, small, ["k"], how=how).collect())
        want = sorted(tuple(r) for r in big.join(small, ["k"], how).collect())
        assert got == want, how
    # empty small side: semi empty, anti is the whole big side — no job
    # may fail on the all-zero bitmap
    empty = small.filter("k < 0")
    assert bloom_prefilter_join(big, empty, ["k"], how="left_semi").count() == 0
    assert bloom_prefilter_join(big, empty, ["k"], how="left_anti").count() == 5000
    # outer joins would keep bloom-rejected rows: must refuse
    with pytest.raises(ValueError):
        bloom_prefilter_join(big, small, ["k"], how="left")
    with pytest.raises(ValueError):
        bloom_prefilter_join(big, small, ["k"], fpp=1.5)
    with pytest.raises(ValueError):
        bloom_prefilter_join(big, small, ["k"], n_hashes=0)


def test_bloom_prefilter_join_multi_key_and_null_keys(spark):
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.relational import bloom_prefilter_join

    big = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 11), (2, "a", 12), (None, "a", 13), (3, None, 14)],
        "k1 INT, k2 STRING, v INT",
    )
    small = spark.createDataFrame([(1, "a"), (9, "z")], "k1 INT, k2 STRING")
    for how in ("left_semi", "inner", "left_anti"):
        got = sorted(
            (tuple(r) for r in bloom_prefilter_join(big, small, ["k1", "k2"], how=how).collect()),
            key=repr,
        )
        want = sorted(
            (tuple(r) for r in big.join(small, ["k1", "k2"], how).collect()), key=repr
        )
        # null join keys never match; for anti they must all survive
        assert got == want, how


def test_round7_late_ops_survive_empty_input(spark, tmp_path):
    from mlb_data_pipeline_spark.operators.bloomstore import (
        bloom_store_filter,
        bloom_store_stats,
        build_bloom_store,
    )
    from mlb_data_pipeline_spark.operators.curation import time_split
    from mlb_data_pipeline_spark.operators.relational import bloom_prefilter_join
    from mlb_data_pipeline_spark.operators.search import perplexity_tiers

    empty = spark.createDataFrame([], "doc_id BIGINT, text STRING, ts TIMESTAMP, k BIGINT")
    some = spark.createDataFrame([(1, "a b c d", None, 1)], "doc_id BIGINT, text STRING, ts TIMESTAMP, k BIGINT")
    # empty big side, empty small side, both
    assert bloom_prefilter_join(empty, some, ["k"]).count() == 0
    assert bloom_prefilter_join(some, empty, ["k"]).count() == 0
    assert bloom_prefilter_join(empty, empty, ["k"], how="left_anti").count() == 0
    # tiers over an empty corpus: no rows, no crash (empty calib too)
    assert perplexity_tiers(empty).count() == 0
    # time split over empty input
    assert time_split(empty, "ts", "1996-01-01", embargo_days=5).count() == 0
    # bloom store built over nothing still gates (everything is new)
    path = str(tmp_path / "bloom_empty")
    build_bloom_store(empty, ["text"], path, expected_items=100)
    assert bloom_store_filter(some, ["text"], path, keep="new").count() == 1
    assert bloom_store_filter(some, ["text"], path, keep="maybe_seen").count() == 0
    assert bloom_store_stats(spark, path).collect()[0].bits_set == 0


# ---------------------------------------------------------------------------
# Interval-overlap join (round 9)
# ---------------------------------------------------------------------------


def test_interval_overlap_join_equals_naive(spark):
    from mlb_data_pipeline_spark.operators.relational import interval_overlap_join

    lrows = [(i, (i * 13) % 50, (i * 13) % 50 + (i % 9)) for i in range(60)]
    rrows = [(100 + i, (i * 7) % 55, (i * 7) % 55 + (i % 6)) for i in range(60)]
    left = spark.createDataFrame(lrows, "id_l long, s_l long, e_l long")
    right = spark.createDataFrame(rrows, "id_r long, s_r long, e_r long")
    want = {
        (a, b)
        for a, sa, ea in lrows
        for b, sb, eb in rrows
        if sa <= eb and sb <= ea
    }
    for grid in (1, 3, 5, 16):
        got = {
            (r.id_l, r.id_r)
            for r in interval_overlap_join(
                left, right, "s_l", "e_l", "s_r", "e_r", grid=grid
            ).collect()
        }
        assert got == want, grid
    # exactly-once: counts equal too (no duplicate pair rows)
    n = interval_overlap_join(left, right, "s_l", "e_l", "s_r", "e_r", grid=3).count()
    assert n == len(want)


def test_interval_overlap_join_no_cartesian_and_guard(spark):
    from mlb_data_pipeline_spark.operators.relational import interval_overlap_join

    left = spark.createDataFrame([(1, 0, 5)], "id_l long, s_l long, e_l long")
    right = spark.createDataFrame([(2, 3, 9)], "id_r long, s_r long, e_r long")
    out = interval_overlap_join(left, right, "s_l", "e_l", "s_r", "e_r", grid=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    wide = spark.createDataFrame([(3, 0, 10_000_000)], "id_l long, s_l long, e_l long")
    bad = interval_overlap_join(wide, right, "s_l", "e_l", "s_r", "e_r", grid=1, max_cells=100)
    with pytest.raises(Exception, match="max_cells|USER_RAISED"):
        bad.collect()


def test_interval_overlap_join_rejects_inverted_interval(spark):
    from mlb_data_pipeline_spark.operators.relational import interval_overlap_join

    left = spark.createDataFrame([(1, 9, 3)], "id_l long, s_l long, e_l long")  # end < start
    right = spark.createDataFrame([(2, 0, 10)], "id_r long, s_r long, e_r long")
    bad = interval_overlap_join(left, right, "s_l", "e_l", "s_r", "e_r", grid=2)
    with pytest.raises(Exception, match="end < start|USER_RAISED"):
        bad.collect()


def test_gap_fill_daily_forward_fills_and_flags(spark):
    import datetime as dt

    from mlb_data_pipeline_spark.operators.relational import gap_fill_daily

    d = dt.date
    rows = [
        ("a", d(2024, 1, 1), 10),
        ("a", d(2024, 1, 4), 40),   # 2 missing days between
        ("b", d(2024, 2, 1), 7),    # singleton group: no gaps
    ]
    df = spark.createDataFrame(rows, "k string, day date, v long")
    out = {(r.k, r.day): (r.v, r.is_gap) for r in gap_fill_daily(df, ["k"], "day", "v").collect()}
    assert out[("a", d(2024, 1, 1))] == (10, False)
    assert out[("a", d(2024, 1, 2))] == (10, True)   # forward-filled
    assert out[("a", d(2024, 1, 3))] == (10, True)
    assert out[("a", d(2024, 1, 4))] == (40, False)
    assert out[("b", d(2024, 2, 1))] == (7, False)
    assert len(out) == 5  # group b's calendar never bleeds into a's


def test_activity_islands_runs_and_singletons(spark):
    import datetime as dt

    from mlb_data_pipeline_spark.operators.relational import activity_islands

    d = dt.date
    rows = [
        (1, d(2024, 1, 1)), (1, d(2024, 1, 2)), (1, d(2024, 1, 3)),  # run of 3
        (1, d(2024, 1, 3)),                                          # dup day ignored
        (1, d(2024, 1, 7)),                                          # singleton
        (2, d(2024, 1, 2)), (2, d(2024, 1, 3)),                      # run of 2
    ]
    df = spark.createDataFrame(rows, "user_id long, ts date")
    got = {
        (r.user_id, r.island_start): (r.island_end, r.n_days)
        for r in activity_islands(df, ["user_id"], "ts").collect()
    }
    assert got[(1, d(2024, 1, 1))] == (d(2024, 1, 3), 3)
    assert got[(1, d(2024, 1, 7))] == (d(2024, 1, 7), 1)
    assert got[(2, d(2024, 1, 2))] == (d(2024, 1, 3), 2)
    assert len(got) == 3


def test_interval_overlap_join_salted_matches_and_levels_hot_cell(spark):
    """VERDICT r9 ask #6: uniform grid cells re-create key skew when
    many intervals stack on one region. Crafted hot cell: results with
    n_salts=8 are EXACTLY the unsalted join's, skew_report flags the
    hot cell (and recommends a salt), and the salted key's heaviest
    load is a fraction of the unsalted cell's."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.operators.relational import (
        interval_overlap_join,
        skew_report,
    )

    # 600 left intervals all covering [0, 9] (one hot grid cell at
    # grid=10) + a sprinkle elsewhere; 40 right intervals on the cell
    left = spark.range(600).select(
        F.col("id").alias("lid"), F.lit(0).alias("ls"), F.lit(9).alias("le")
    ).unionByName(
        spark.range(20).select(
            (F.col("id") + 1000).alias("lid"),
            (F.col("id") * 100 + 200).alias("ls"),
            (F.col("id") * 100 + 209).alias("le"),
        )
    )
    right = spark.range(40).select(
        F.col("id").alias("rid"), F.lit(5).alias("rs"), F.lit(14).alias("re_")
    )
    plain = sorted(
        map(tuple, interval_overlap_join(left, right, "ls", "le", "rs", "re_", grid=10).collect())
    )
    salted = sorted(
        map(
            tuple,
            interval_overlap_join(
                left, right, "ls", "le", "rs", "re_", grid=10, n_salts=8
            ).collect(),
        )
    )
    assert salted == plain and len(plain) == 600 * 40

    # the diagnose step: skew_report over the exploded cell column
    lexp = left.withColumn("__cell", F.floor(F.col("ls") / 10).cast("long"))
    rep = skew_report(lexp, ["__cell"]).collect()
    hot = rep[0]
    assert hot["__cell"] == 0 and hot.n_rows == 600

    # the leveling claim: heaviest (cell, salt) load ~ heaviest cell / 8
    salted_load = (
        lexp.withColumn(
            "__salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in lexp.columns]), F.lit(8)),
        )
        .groupBy("__cell", "__salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert salted_load < 600 / 2  # well under the unsalted hot-cell load


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("source", ["parquet", "driver_rows"])
def test_spread_for_cpu_runs_no_job_on_a_shuffle_and_broadcast_plan(spark, tmp_path, source):
    # Dataset.rdd on an AQE plan runs its shuffle and broadcast stages
    # outside any SQL execution (and the real action later runs them
    # again); the decision must come from the plan alone
    from mlb_data_pipeline_spark.operators.relational import spread_for_cpu

    rows = [(i, i % 7) for i in range(5000)]
    if source == "parquet":
        path = str(tmp_path / "t")
        spark.createDataFrame(rows, "id long, k long").write.parquet(path)
        base = spark.read.parquet(path)
    else:  # RDD-backed: no size estimate at all
        base = spark.createDataFrame(rows, "id long, k long")
    dim = spark.range(0, 7).withColumnRenamed("id", "k")
    df = base.groupBy("k").count().join(F.broadcast(dim), "k")
    assert "AdaptiveSparkPlan" in df._jdf.queryExecution().executedPlan().toString()
    out, jobs = _jobs_in_group(spark, f"spread_probe_{source}", lambda: spread_for_cpu(df))
    assert jobs == 0
    # a few KB of post-shuffle output: AQE would coalesce it below the
    # core count, so the spread fires, as the old probe's count did
    assert out is not df
    assert sorted(out.collect()) == sorted(df.collect())


def test_spread_for_cpu_keeps_the_plan_only_count_without_stages(spark, tmp_path):
    from mlb_data_pipeline_spark.operators.relational import spread_for_cpu

    path = str(tmp_path / "t")
    target = spark.sparkContext.defaultParallelism
    spark.range(0, 1000, 1, 1).write.parquet(path)
    few = spark.read.parquet(path)
    out, jobs = _jobs_in_group(spark, "spread_probe_scan", lambda: spread_for_cpu(few))
    assert jobs == 0
    assert out is not few and out.rdd.getNumPartitions() == target
    many = spark.range(0, 1000, 1, 2 * target)
    assert spread_for_cpu(many) is many
