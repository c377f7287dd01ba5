"""Composed relational operators that Spark lacks as single primitives.

Each is a pure DataFrame->DataFrame function built from Catalyst
primitives only (no Python UDFs), so plans stay inside whole-stage
codegen and scale with partitioning, not driver memory.

Reference parity notes are in each docstring (file:line into
/root/reference/).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(df: DataFrame, group_cols: list[str], order_by: list[Column], k: int, rn_col: str = "rn") -> DataFrame:
    """Top-k rows per group — the reference's per-query k-NN shape
    (scripts/rag_pipeline_2.py:46 returns k results per query).

    Scale: a single hash shuffle on the group key; ranking is one pass
    per partition. For global top-k use ``df.orderBy(...).limit(k)``
    instead (Spark plans TakeOrderedAndProject — no full sort).
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return df.withColumn(rn_col, F.row_number().over(w)).filter(F.col(rn_col) <= k)


def asof_latest(df: DataFrame, key_cols: list[str], time_col: str, cutoff, tiebreak: list[str]) -> DataFrame:
    """As-of join half: latest row per key with time <= cutoff (J7).

    The reference's analogue is "player stats as-of game date"
    (implied by hw5/player_stats_2024.csv year snapshots). Composed as
    filter + window rank; the filter prunes before the shuffle, so at
    100 TB the state is bounded by rows-before-cutoff per key, and the
    cutoff predicate pushes down into the Parquet scan.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(time_col).desc(), *[F.col(c).desc() for c in tiebreak]
    )
    return (
        df.filter(F.col(time_col) <= F.lit(cutoff))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def band_range_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_val: str,
    band: float,
    scale: int = 2,
) -> DataFrame:
    """Range (theta) join |left_val - right_val| <= band, as an equi-join.

    Naive non-equi joins plan as BroadcastNestedLoopJoin — O(n*m) and a
    cluster-killer at scale. Instead we bucket the value axis and explode
    each left row into its bucket and the two adjacent buckets; the join
    is then a plain hash equi-join on the bucket id with a residual band
    filter. Intermediate size is bounded by 3x the bucket co-membership,
    not n*m.

    Bucketing happens in an exact integer domain (values rounded at
    ``scale`` decimals to longs, bucket = integer floor-div): with
    ``width > band`` in that domain, two in-band integers are at most one
    bucket apart by construction. Doing this on raw doubles instead is
    subtly wrong — floor(x/width) can land a value at an exact multiple
    of width in the bucket below, putting an in-band pair 2 buckets apart
    and silently dropping it. The residual filter still compares the
    original double values, so results are exact for data with at most
    ``scale`` decimal places (and a pair-safe over-approximation plus
    exact residual otherwise, provided the rounding slack of 1 ulp-cent
    stays under ``width - band``; the +2 margin below covers it).
    """
    m = 10**scale
    band_i = int(round(band * m))
    width_i = band_i + 2  # > band_i + rounding slack → adjacency guaranteed
    li = F.round(F.col(left_val) * m).cast("long")
    ri = F.round(F.col(right_val) * m).cast("long")

    # exact floor division on longs (`/` on longs is double division in
    # Spark; (x - pmod(x, w)) is an exact multiple of w, so the quotient
    # is exact and pmod gives floor semantics for negatives too)
    def fdiv(x):
        return ((x - F.pmod(x, F.lit(width_i))) / width_i).cast("long")

    lb = fdiv(li)
    rb = fdiv(ri)
    lexp = left.withColumn("__bucket", F.explode(F.array(lb - 1, lb, lb + 1)))
    rexp = right.withColumn("__bucket", rb)
    joined = lexp.join(rexp, "__bucket").filter(
        F.abs(F.col(left_val) - F.col(right_val)) <= F.lit(band)
    )
    return joined.drop("__bucket")


def median_exact(df: DataFrame, group_cols: list[str], value_col: str, out_col: str) -> DataFrame:
    """Exact interpolated median (percentile_cont 0.5) per group (A9).

    Computed from the two middle order statistics with the averaging
    done in the DECIMAL domain — bit-identical across engines, unlike
    double interpolation (see functions.numeric). Two window passes on
    one shuffle of the group key.
    """
    w = Window.partitionBy(*group_cols).orderBy(F.col(value_col).asc())
    ranked = df.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(Window.partitionBy(*group_cols))
    )
    lo = F.floor((F.col("__n") + 1) / 2)
    hi = F.floor((F.col("__n") + 2) / 2)
    dec_val = F.col(value_col).cast("decimal(18,2)")
    return (
        ranked.filter((F.col("__rn") == lo) | (F.col("__rn") == hi))
        .groupBy(*group_cols)
        .agg(
            (
                (
                    F.max(F.when(F.col("__rn") == F.floor((F.col("__n") + 1) / 2), dec_val))
                    + F.max(F.when(F.col("__rn") == F.floor((F.col("__n") + 2) / 2), dec_val))
                )
                * F.lit(0.5).cast("decimal(2,1)")
            )
            .cast("double")
            .alias(out_col)
        )
    )


def spread_for_cpu(df: DataFrame) -> DataFrame:
    """Redistribute a degenerate-parallelism input before CPU-bound narrow
    transforms (shingling, per-token hashing, feature extraction): one
    round-robin shuffle to ``defaultParallelism`` partitions when the
    input would otherwise leave most cores idle.

    Decided from the plan; nothing runs. Two shapes:

    - No query stage (a scan, a cached or checkpointed frame, narrow
      transforms over them): the partition count is fixed at plan time,
      e.g. parquet splits (no finer than row groups), and
      ``df.rdd.getNumPartitions()`` reads it without a job. Spread when
      it is at most half the cores.
    - An AQE plan (a shuffle, a broadcast or a subquery): the output
      count exists only after AQE has run the stages and coalesced the
      last shuffle, and ``Dataset.rdd`` would run them outside any SQL
      execution — the real action then runs them again. AQE packs
      coalesced partitions to at least ``minPartitionSize`` (its
      advisory size when ``parallelismFirst`` is off), so an output
      smaller than ``defaultParallelism`` of those comes out with fewer
      partitions than cores. Spread when the optimized plan's
      ``sizeInBytes`` estimate is below that, or when a leaf has no
      statistics (an RDD-backed frame reports
      ``spark.sql.defaultSizeInBytes``, which poisons every estimate
      above it): a needless spread costs one round-robin shuffle of the
      input, never more than the second full pass ``Dataset.rdd`` ran
      to find out.

    A large input passes through unchanged (many more splits, or
    estimated bytes, than cores), so the shuffle lands where it is
    cheap; only a plan over an RDD-backed leaf can pay it at scale.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    if qe.executedPlan().getClass().getSimpleName() != "AdaptiveSparkPlanExec":
        spread = df.rdd.getNumPartitions() * 2 <= target
    else:
        conf = spark._jsparkSession.sessionState().conf()
        sql_conf = spark._jvm.org.apache.spark.sql.internal.SQLConf
        if conf.getConf(sql_conf.COALESCE_PARTITIONS_PARALLELISM_FIRST()):
            floor = conf.getConf(sql_conf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE())
        else:
            floor = conf.getConf(sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES())
        plan = qe.optimizedPlan()
        leaves = plan.collectLeaves()
        unknown = conf.getConf(sql_conf.DEFAULT_SIZE_IN_BYTES())
        spread = any(
            int(str(leaves.apply(i).stats().sizeInBytes())) >= unknown for i in range(leaves.size())
        ) or int(str(plan.stats().sizeInBytes())) < target * floor
    return df.repartition(target) if spread else df


def ordered_small(df: DataFrame, *cols: str) -> DataFrame:
    """Total order for a SMALL final result set (hundreds-thousands of
    rows): shuffle to one partition, sort locally. A global ``orderBy``
    plans an Exchange rangepartitioning whose boundary-sampling job
    re-executes the whole upstream plan — for an expensive pipeline with
    a tiny output that doubles the query. Never use on large results
    (single-partition sort); those want ``orderBy`` (range sort) or
    ``orderBy().limit(k)`` (TakeOrdered)."""
    return df.repartition(1).sortWithinPartitions(*cols)


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    change_col: str = "change_type",
) -> DataFrame:
    """Snapshot diff between two versions of a keyed dataset: one row
    per key present in either side, labeled ``added`` / ``removed`` /
    ``changed`` / ``unchanged`` — the corpus-versioning companion to the
    §2.11 stores (what did today's pipeline run actually change?) and
    the regression gate a warehouse publish step wants (reference
    analogue: the raw→staging→analytics promotion in
    scripts/bigquery_load.py / warehouse.py, which overwrites blind).

    Change detection hashes the ``compare_cols`` (default: all
    non-key columns common to both sides, sorted by name) by md5-ing
    EACH column separately and concatenating the fixed-width digests
    (null -> '-', which no md5 hex digest can equal) before the outer
    md5 — injection-proof: no value can shift bytes into a neighboring
    column's slot, unlike separator-joined concat where a value
    containing the separator (or a literal null sentinel) makes two
    different rows encode identically. Engine-neutral, so the whole
    diff is SQL-mirrorable. Keys must be unique per side (a keyed
    snapshot); duplicates make 'changed' ambiguous and should be
    deduped first.

    100 TB shape: ONE full-outer shuffle join on the key columns —
    the minimum possible for a keyed diff; the hash is a narrow
    projection on each side, and counts-by-change-type aggregate
    map-side. Output carries key cols + ``change_col``.
    """
    if compare_cols is None:
        ks = set(key_cols)
        compare_cols = sorted(
            (set(old.columns) & set(new.columns)) - ks
        )

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        parts = [
            F.coalesce(F.md5(F.col(c).cast("string")), F.lit("-")) for c in compare_cols
        ]
        if not parts:
            # every column is a key: presence IS the content, so the
            # hash degenerates to a constant and the diff reports only
            # added / removed / unchanged
            parts = [F.lit("")]
        return df.select(
            *key_cols, F.md5(F.concat(*parts)).alias(f"__h_{tag}")
        )

    joined = hashed(old, "old").join(hashed(new, "new"), key_cols, "full_outer")
    change = (
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") == F.col("__h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(*key_cols, change.alias(change_col))


def numeric_histogram(
    df: DataFrame, col: str, lo: float, hi: float, nbins: int
) -> DataFrame:
    """Fixed-bin numeric histogram — the distribution-profiling step of
    a feature-QA / data-quality report (the continuous sibling of the
    categorical group-count): bin i covers
    [lo + i*(hi-lo)/nbins, lo + (i+1)*(hi-lo)/nbins), out-of-range
    values clamp into the edge bins (a QA histogram must show outlier
    mass, not silently drop it). One narrow projection + one grouped
    count — combiner-friendly, shuffle carries nbins rows per task.

    Engine-neutral binning: bin = floor((x - lo) * nbins / (hi - lo))
    computed in exactly that order — each step a single correctly
    rounded IEEE op, so any engine evaluating the same order produces
    the identical bin (the established quantized-expression contract;
    no ties to break because floor is exact).

    Returns (bin, lo_edge, hi_edge, n) sorted by bin; empty bins are
    absent (left-join a sequence if a dense axis is needed)."""
    if not (hi > lo) or nbins < 1:
        raise ValueError(f"need hi > lo and nbins >= 1, got [{lo}, {hi}) x {nbins}")
    x = F.col(col).cast("double")
    raw = F.floor((x - F.lit(float(lo))) * F.lit(float(nbins)) / F.lit(float(hi - lo)))
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1)).cast("int")
    width = (hi - lo) / nbins
    return (
        df.filter(x.isNotNull())
        .select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .select(
            "bin",
            (F.lit(float(lo)) + F.col("bin") * F.lit(float(width))).alias("lo_edge"),
            (F.lit(float(lo)) + (F.col("bin") + 1) * F.lit(float(width))).alias("hi_edge"),
            "n",
        )
        .orderBy("bin")
    )


def distribution_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbins: int,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the dataset-monitoring sibling of ``dataset_diff`` (which
    answers *which rows* changed; this answers *did the distribution*
    move, the alert a 100 TB ingest needs when upstream silently starts
    sending different data). Bins both sides with ``numeric_histogram``'s
    clamped fixed-bin formula, full-outer joins the two histograms, and
    reports per-bin PSI contributions plus the total:

        PSI = sum_bins (p_a - p_b) * ln(p_a / p_b)

    with additive smoothing p = (n + 0.5) / (total + 0.5 * nbins) so
    empty bins never divide by zero (bins empty on BOTH sides are
    excluded — they carry no evidence; with smoothing they would still
    contribute a spurious epsilon when the totals differ). Rule of
    thumb: < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 investigate.

    Engine-neutral arithmetic (same contract as the BM25 idf): every
    double op in pinned order, ln floor-quantized at 1e-6, and each
    bin's PSI term floor-quantized to integer 1e-9 units so the TOTAL
    is a sum of longs — order-free, identical bits on any engine and
    any partitioning. Cost: two grouped counts (combiner-friendly,
    nbins rows per task on the shuffle) + one nbins-row join; the
    single-partition window at the end touches nbins rows, never data.
    """
    ha = (
        numeric_histogram(df_a, col, lo, hi, nbins)
        .select("bin", F.col("n").alias("n_a"))
    )
    hb = (
        numeric_histogram(df_b, col, lo, hi, nbins)
        .select("bin", F.col("n").alias("n_b"))
    )
    j = ha.join(hb, "bin", "full").select(
        "bin",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    # constant partition key: same single-partition evaluation over the
    # nbins-row frame, without WindowExec's all-data warning
    w = Window.partitionBy(F.lit(0))
    half = float(0.5 * nbins)
    pa = (F.col("n_a").cast("double") + F.lit(0.5)) / (
        F.sum("n_a").over(w).cast("double") + F.lit(half)
    )
    pb = (F.col("n_b").cast("double") + F.lit(0.5)) / (
        F.sum("n_b").over(w).cast("double") + F.lit(half)
    )
    qln = F.floor(F.log(pa / pb) * F.lit(1000000.0)) / F.lit(1000000.0)
    units = F.floor((pa - pb) * qln * F.lit(1000000000.0)).cast("long")
    return (
        j.select("bin", "n_a", "n_b", units.alias("__u"))
        .select(
            "bin",
            "n_a",
            "n_b",
            (F.col("__u").cast("double") / F.lit(1000000000.0)).alias("psi_term"),
            (F.sum("__u").over(w).cast("double") / F.lit(1000000000.0)).alias(
                "psi_total"
            ),
        )
        .orderBy("bin")
    )


def table_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """ANALYZE-style column profile — (column, n_nulls, n_distinct,
    min_value, max_value) per requested column, the schema-QA report a
    warehouse runs on every ingest (the engine-side form of the
    reference's implicit "is the scrape sane" check). ONE aggregation
    pass computes every statistic (all min/max/null counters are
    map-side combinable); the per-column EXACT distinct counts make
    Spark plan an expand (rows x n_cols before the partial agg) — the
    honest cost of exactness, fine for ingest-sized deltas; swap in
    approx_count_distinct for corpus-wide profiles where +-2% is
    acceptable. min/max are computed in the column's native type and
    cast to string AFTER aggregating (string-cast before min would
    order "10" < "9"), then the single agg row unpivots through one
    array-of-structs explode — no driver-side loop."""
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    row = df.agg(*aggs)
    packed = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__nn_{c}").alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_value"),
                F.col(f"__mx_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return (
        row.select(F.explode(packed).alias("p"))
        .select("p.column", "p.n_nulls", "p.n_distinct", "p.min_value", "p.max_value")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Explicit salt-and-replicate equi-join for pathological key skew:
    when one join key carries a disproportionate share of the big side,
    the single shuffle partition holding it becomes the straggler (or
    spills). Salting splits every big-side key across ``n_salts``
    sub-partitions — big rows get a DETERMINISTIC salt (xxhash64 over
    the whole row, so identical rows still co-locate and plans stay
    reproducible), the small side replicates once per salt, and the
    join runs on (keys..., salt). For the supported join types the
    result is EXACTLY the plain join — salting changes partitioning,
    never semantics — which is why the r01 oracle is the unsalted SQL
    join.

    Supported ``how``: inner, left/left_outer, left_semi, left_anti —
    the types where the REPLICATED (small) side never emits unmatched
    rows. With right/full outer, a small-side key absent from the big
    side would surface once per salt replica (n_salts duplicate
    null-extended rows), so those types raise; put the preserved side
    on the left, or use the plain join (an outer's unmatched small
    rows are not skew-prone anyway).

    Prefer AQE's skew-join splitting where it fires (sort-merge joins
    over statistics it can see); explicit salting is the tool when the
    skewed side feeds a broadcast-ineligible join AQE won't split, or
    when the skew is known ahead of time and the ``n_salts`` x
    small-side replication (the only cost) is cheap."""
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    if how.lower().replace("_", "") not in {"inner", "left", "leftouter", "leftsemi", "semi", "leftanti", "anti"}:
        raise ValueError(
            f"salted_join does not preserve {how!r} semantics: the replicated "
            "small side would emit its unmatched rows once per salt. Use "
            "inner/left/left_semi/left_anti, or swap the sides."
        )
    big2 = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    )
    small2 = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(n_salts)]))
    )
    return big2.join(small2, on + ["__salt"], how).drop("__salt")


def categorical_drift(df_a: DataFrame, df_b: DataFrame, col: str) -> DataFrame:
    """``distribution_drift`` for categorical columns: PSI over the
    category frequency tables instead of numeric bins (the monitor for
    "did the source/language/event-type MIX shift between snapshots").
    Categories absent from one side get additive smoothing with
    nbins = the number of observed categories; NULL is tracked as its
    own ``<NULL>`` category (an upstream change that starts nulling a
    field is exactly what this alarm is for — and NULL join keys never
    match, so it must be a sentinel BEFORE the full-outer join, not a
    null group). Same engine-neutral arithmetic as
    the numeric form: pinned op order, 1e-6-quantized ln, per-category
    terms floor-quantized to integer 1e-9 units so the total is an
    order-free sum of longs.

    Cost: two grouped counts (combiner-friendly) + one full-outer join
    on category + a single-partition window over the category rows —
    fine up to ~millions of distinct categories; for id-like columns
    use ``distribution_drift`` over a hash bucket instead."""
    na = F.col("n_a")
    nb = F.col("n_b")
    cat = F.coalesce(F.col(col).cast("string"), F.lit("<NULL>")).alias("category")
    ha = df_a.groupBy(cat).agg(F.count("*").alias("n_a"))
    hb = df_b.groupBy(cat).agg(F.count("*").alias("n_b"))
    j = ha.join(hb, "category", "full").select(
        "category",
        F.coalesce(na, F.lit(0)).alias("n_a"),
        F.coalesce(nb, F.lit(0)).alias("n_b"),
    )
    w = Window.partitionBy(F.lit(0))
    half = F.count("*").over(w).cast("double") * F.lit(0.5)
    pa = (na.cast("double") + F.lit(0.5)) / (F.sum(na).over(w).cast("double") + half)
    pb = (nb.cast("double") + F.lit(0.5)) / (F.sum(nb).over(w).cast("double") + half)
    qln = F.floor(F.log(pa / pb) * F.lit(1000000.0)) / F.lit(1000000.0)
    units = F.floor((pa - pb) * qln * F.lit(1000000000.0)).cast("long")
    return (
        j.select("category", "n_a", "n_b", units.alias("__u"))
        .select(
            "category",
            "n_a",
            "n_b",
            (F.col("__u").cast("double") / F.lit(1000000000.0)).alias("psi_term"),
            (F.sum("__u").over(w).cast("double") / F.lit(1000000000.0)).alias(
                "psi_total"
            ),
        )
        .orderBy("category")
    )


def zorder_key(
    cols: list[tuple[str, float, float]], bits: int = 16
) -> Column:
    """Z-order (Morton) key over 2+ numeric columns — the multi-key
    file-skipping layout ``compact_parquet``'s single-axis range
    clustering can't give (a lexicographic sort clusters only its
    leading key; bit-interleaving keeps EVERY dimension's locality, so
    parquet min/max footers stay tight on all of them and a box
    predicate prunes files on each dimension at once — the OPTIMIZE
    ZORDER of lakehouse tables, from the Morton curve).

    Each (col, lo, hi) normalizes through the histogram contract's
    clamped fixed-bin formula — floor((x - lo) * 2^bits / (hi - lo)),
    clamped to [0, 2^bits) — all single correctly-rounded IEEE ops, so
    any engine computes the identical cell (``zorder_sql`` emits the
    mirrored DuckDB expression from the same parameters). Bits then
    interleave round-robin (shared with ``operators.layout.zorder_key``
    — one interleave implementation): bit b of column i lands at z-bit
    b * n_cols + i. NULLs clamp to cell 0 (they sort first — scan
    layout, not semantics). Total bits n_cols * bits must fit a signed
    long (<= 62); the default 16 supports up to 3 columns.

    Sibling variants: THIS form takes float (lo, hi) over DOUBLE
    columns — the OPTIMIZE-ZORDER path ``compact_parquet`` uses on
    measure columns; ``operators.layout.scale_to_bits_int`` +
    ``layout.zorder_key`` is the INTEGER-exact form for id/temporal
    keys (floor-div cells, 2^53 exactness gate) used by
    ``write_zordered``."""
    from .layout import zorder_key as interleave

    n = len(cols)
    if n < 2:
        raise ValueError("zorder needs >= 2 columns (use sort_cols for one)")
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed long")
    cells = []
    for c, lo, hi in cols:
        if not hi > lo:
            raise ValueError(f"need hi > lo for {c}, got [{lo}, {hi})")
        x = F.col(c).cast("double")
        raw = F.floor((x - F.lit(float(lo))) * F.lit(float(2**bits)) / F.lit(float(hi - lo)))
        cells.append(
            F.coalesce(F.least(F.greatest(raw, F.lit(0)), F.lit(2**bits - 1)), F.lit(0)).cast("long")
        )
    return interleave(cells, bits)


def zorder_sql(cols: list[tuple[str, float, float]], bits: int = 16) -> str:
    """DuckDB mirror of ``zorder_key`` — generated from the SAME
    parameters so the two engines cannot drift (the ``redact_sql``
    pattern)."""
    n = len(cols)
    terms = []
    for i, (expr, lo, hi) in enumerate(cols):
        cell = (
            f"CAST(COALESCE(least(greatest(floor((CAST({expr} AS DOUBLE) - {float(lo)}) "
            f"* {float(2 ** bits)} / {float(hi - lo)}), 0), {2 ** bits - 1}), 0) AS BIGINT)"
        )
        for b in range(bits):
            terms.append(f"((({cell} >> {b}) & 1) << {b * n + i})")
    return "(" + " + ".join(terms) + ")"


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    top_n: int = 10,
) -> DataFrame:
    """Join-key skew diagnostics: the report a pipeline runs BEFORE
    choosing between a plain shuffle join, AQE skew splitting, and
    ``salted_join``. Emits the ``top_n`` heaviest keys with their row
    counts, each key's share of the table, its ratio to the mean key
    load, and the ``n_salts`` that would level it (ceil of that ratio —
    the value to pass to ``salted_join``).

    One map-side-combinable count per key + a top-N — the same cost as
    the aggregation the join would run anyway. All ratios are single
    IEEE divisions of exact integer counts (engine-identical)."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").cast("long").alias("__total"),
        F.count(F.lit(1)).alias("__n_keys"),
    )
    top = counts.orderBy(F.col("n_rows").desc(), *[F.col(c) for c in key_cols]).limit(top_n)
    return (
        top.crossJoin(F.broadcast(totals))  # 1-row scalar join
        .select(
            *key_cols,
            "n_rows",
            (F.col("n_rows").cast("double") / F.col("__total")).alias("share"),
            (
                F.col("n_rows").cast("double")
                * F.col("__n_keys")
                / F.col("__total")
            ).alias("skew_ratio"),
            F.ceil(
                F.col("n_rows").cast("double") * F.col("__n_keys") / F.col("__total")
            )
            .cast("long")
            .alias("suggested_salts"),
        )
        .orderBy(F.col("n_rows").desc(), *[F.col(c) for c in key_cols])
    )


def percentiles_exact(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    ps: list[float],
) -> DataFrame:
    """Exact nearest-rank percentiles per group (the p50/p90/p99 band a
    latency/quality dashboard wants): percentile p = the order
    statistic at rank max(1, ceil(p*n)). One ranked window pass on one
    shuffle of the group key, every requested percentile read from the
    same pass. ceil(p*n) is a single IEEE multiply+ceil on exact
    operands — engine-identical (the interpolated variant lives in
    ``median_exact``; nearest-rank needs no decimal midpoint at all).

    Output columns are named p50/p90/p99 (p*100, trailing .0 dropped).
    """
    if not ps or any(not (0 < p <= 1) for p in ps):
        raise ValueError(f"ps must be fractions in (0, 1], got {ps}")
    w = Window.partitionBy(*group_cols).orderBy(F.col(value_col).asc())
    ranked = df.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(Window.partitionBy(*group_cols))
    )
    dec_val = F.col(value_col).cast("decimal(18,2)")
    aggs = []
    for p in ps:
        rank = F.greatest(F.lit(1), F.ceil(F.lit(float(p)) * F.col("__n")))
        name = f"p{p * 100:g}".replace(".", "_")
        aggs.append(
            F.max(F.when(F.col("__rn") == rank, dec_val)).cast("double").alias(name)
        )
    return ranked.groupBy(*group_cols).agg(*aggs)


def bloom_size_bits(n: int, fpp: float, max_bits: int = 1 << 30) -> int:
    """Standard Bloom sizing -n*ln(fpp)/ln(2)^2, rounded up to whole
    64-bit words, floored at one word, clamped to ``max_bits``
    (clamping raises the false-positive rate, never correctness)."""
    import math

    m = max(64, int(math.ceil(-max(n, 1) * math.log(fpp) / (math.log(2) ** 2))))
    return min(((m + 63) // 64) * 64, max_bits)


def _bloom_positions(on: list[str], m: int, n_hashes: int) -> list[Column]:
    keys = [F.col(c) for c in on]
    return [
        F.pmod(F.xxhash64(*keys, F.lit(i)), F.lit(m)) for i in range(n_hashes)
    ]


def bloom_words(df: DataFrame, on: list[str], m: int, n_hashes: int) -> DataFrame:
    """Sparse Bloom bitmap over ``df``'s key columns as (__w word index,
    __word 64-bit word) rows — one combinable bit_or aggregation over
    the exploded hash positions; only non-zero words appear. The shared
    builder behind ``bloom_prefilter_join`` and the persisted bloom
    store (operators/bloomstore.py)."""
    pos = df.select(
        F.explode(F.array(*_bloom_positions(on, m, n_hashes))).alias("__p")
    ).distinct()
    return pos.groupBy(F.shiftright(F.col("__p"), 6).alias("__w")).agg(
        F.bit_or(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("bigint"),
                F.col("__p").bitwiseAND(F.lit(63)).cast("int"),
            )
        ).alias("__word")
    )


def bloom_probe(bitmap: list[int], on: list[str], m: int, n_hashes: int) -> Column:
    """Boolean maybe-in-set predicate over the DENSE bitmap (length
    m/64, embedded as an array literal): true iff every hash position's
    bit is set. One ``forall`` over the k positions so the bitmap
    literal appears ONCE in the expression tree (k separate element_at
    tests would serialize the array k times into the task binary).
    Codegen'd, pushable — a plain Filter wherever it lands.

    The literal enters the plan as ONE string parsed by
    ``cast(split(...) as array<bigint>)`` — a foldable expression
    Catalyst evaluates once at optimization — NOT ``F.lit(list)``:
    py4j marshals Python lists element-by-element (~3k elements/s, 30
    seconds for a 90k-word bitmap measured), while a single string
    crosses the gateway as one blob in milliseconds."""
    if bitmap:
        packed = ",".join(map(str, bitmap))
        bloom = F.expr(f"cast(split('{packed}', ',') as array<bigint>)")
    else:
        bloom = F.array().cast("array<bigint>")
    return F.forall(
        F.array(*_bloom_positions(on, m, n_hashes)),
        lambda p: F.call_function(
            "shiftright",
            F.element_at(bloom, (F.shiftright(p, 6) + F.lit(1)).cast("int")),
            p.bitwiseAND(F.lit(63)).cast("int"),
        ).bitwiseAND(F.lit(1))
        == F.lit(1),
    )


def bloom_prefilter_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    *,
    how: str = "left_semi",
    n_hashes: int = 5,
    expected_items: int | None = None,
    fpp: float = 0.01,
    max_bits: int = 1 << 30,
) -> DataFrame:
    """Equi-join with an explicit Bloom-filter pre-filter on the big
    side: build a bitmap over the small side's join keys, broadcast it
    (megabytes, even when the small side itself is far too large to
    broadcast as data), drop big-side rows the bitmap rejects BEFORE
    the shuffle, then run the exact join over the survivors. The
    result is EXACTLY ``big.join(small, on, how)`` — the bloom only
    prunes (false positives are removed by the exact join; a Bloom
    filter has no false negatives) — which is why the q13 oracle is
    the plain SQL join.

    When it pays: a selective semi/inner join whose small side is
    above the broadcast threshold. At 100 TB the win is shuffle bytes
    — a 1%-selective probe ships ~1% of the fact table instead of all
    of it. For left_anti the bitmap works in reverse: rows the bloom
    REJECTS are definite non-matches and bypass the join entirely;
    only maybe-match rows (the small fraction) pay the shuffle.

    Spark's runtime row-level filtering
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) injects the
    same trick automatically, but only when the creation side already
    carries a selective scan filter and the join is shuffle-shaped;
    the explicit form covers pre-aggregated/derived small sides and
    lets several consumers reuse one pruned big side.

    Mechanics (no UDF, engine-neutral): positions are
    ``pmod(xxhash64(keys..., i), m)`` for i < n_hashes; the bitmap is
    built as (word_index, bit_or(bit)) — one combinable aggregation
    over exploded positions — then collected to the driver (bounded by
    construction: m/8 bytes, the same metadata-sized collect as the
    IVF centroid load) and embedded as an ``array<bigint>`` LITERAL,
    so the probe is a plain codegen'd Filter of k element_at + shift +
    mask tests sitting directly on the big-side scan, BELOW its
    exchange. The one-row-broadcast alternative (bitmap as a joined
    column) is a trap: the probe becomes a join condition referencing
    both sides, Catalyst cannot push it through, and join reordering
    hoists it ABOVE the verify join's shuffle — pruning nothing. ``m``
    is sized from ``expected_items`` (or one count() of the small
    side) at the standard -n*ln(fpp)/ln(2)^2, clamped to ``max_bits``
    (clamping raises the false-positive rate, never correctness).
    """
    hnorm = how.lower().replace("_", "")
    if hnorm not in {"inner", "leftsemi", "semi", "leftanti", "anti"}:
        raise ValueError(
            f"bloom_prefilter_join supports inner/left_semi/left_anti, got {how!r}: "
            "outer joins keep bloom-rejected big rows, so the pre-filter would "
            "change semantics"
        )
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")

    n = expected_items if expected_items is not None else small.count()
    m = bloom_size_bits(n, fpp, max_bits)
    bitmap = [0] * (m // 64)
    for row in bloom_words(small, on, m, n_hashes).collect():
        # bounded: m/8 bytes of bitmap metadata
        bitmap[row["__w"]] = row["__word"]
    maybe_match = bloom_probe(bitmap, on, m, n_hashes)

    if hnorm in {"leftanti", "anti"}:
        return big.filter(~maybe_match).unionByName(
            big.filter(maybe_match).join(small, on, "left_anti")
        )
    return big.filter(maybe_match).join(small, on, how)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    grid: int,
    max_cells: int = 1024,
    n_salts: int = 1,
) -> DataFrame:
    """All (left, right) pairs whose INTEGER intervals overlap
    (l_start <= r_end AND r_start <= l_end) — the two-sided
    generalization of ``band_range_join`` (sessions x promotions,
    reservations x outages, reads x genes).

    A naive non-equi join plans as BNLJ — O(n*m). Here both sides
    explode onto a fixed grid of cells (cell = value // grid, one row
    per covered cell), the join is a plain hash equi-join on the cell
    id, and each overlapping pair is emitted EXACTLY ONCE without a
    DISTINCT: only the join row whose cell equals
    max(l_start, r_start) // grid — the first cell the overlap
    region touches, a value both sides of any overlapping pair share —
    survives. Intermediate volume is co-located cell membership, never
    n*m, and the dedup is a stateless filter, not a shuffle.

    ``grid`` should sit near the TYPICAL interval length (cells/row ~
    len/grid + 1); ``max_cells`` guards degenerate spans — an interval
    covering more than ``max_cells`` cells raises in-plan rather than
    silently exploding the join (split such outliers or raise
    ``grid``).

    SKEW: grid cells are uniform, so a HOT cell (many intervals
    stacked on one region — outage windows over a popular hour)
    re-creates the skewed-key problem: that cell's whole membership
    lands on one reducer and its candidate product is quadratic in the
    stack height. Diagnose with ``skew_report`` over the exploded cell
    column; ``n_salts > 1`` then routes the cell join through
    ``salted_join`` — left cell rows split deterministically across
    salts, right cell rows replicate per salt, so the hottest
    reducer's input (and its per-key candidate product) drops by
    ~n_salts at the price of an n_salts x right-side replication.
    Results are EXACTLY the unsalted join's (r51 oracle contract);
    the pairs-never-quadratic cap (``max_cells``) is orthogonal — it
    bounds cells per INTERVAL, not intervals per CELL."""
    if grid < 1:
        raise ValueError(f"grid must be >= 1, got {grid}")
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")

    def cells(start, end):
        lo = F.floor(F.col(start) / grid).cast("long")
        hi = F.floor(F.col(end) / grid).cast("long")
        n = hi - lo + 1
        # two in-plan guards: an oversized span would silently explode
        # the join, and an INVERTED interval (end < start) would make
        # F.sequence descend and emit garbage cells — both are data
        # bugs worth a loud stop, not quiet wrong pairs
        guard = (
            F.when(
                F.col(end) < F.col(start),
                F.raise_error(
                    F.lit("interval end < start; fix or filter malformed intervals")
                ).cast("long"),
            )
            .when(
                n > F.lit(max_cells),
                F.raise_error(
                    F.lit(
                        f"interval spans more than max_cells={max_cells} grid cells; "
                        "raise grid or split the outlier interval"
                    )
                ).cast("long"),
            )
            .otherwise(lo)
        )
        return F.sequence(guard, hi)

    lexp = left.withColumn("__cell", F.explode(cells(left_start, left_end)))
    rexp = right.withColumn("__cell", F.explode(cells(right_start, right_end)))
    if n_salts > 1:
        cell_join = salted_join(lexp, rexp, ["__cell"], n_salts=n_salts)
    else:
        cell_join = lexp.join(rexp, "__cell")
    joined = cell_join.filter(
        (F.col(left_start) <= F.col(right_end)) & (F.col(right_start) <= F.col(left_end))
    )
    first_cell = F.floor(F.greatest(F.col(left_start), F.col(right_start)) / grid).cast("long")
    return joined.filter(F.col("__cell") == first_cell).drop("__cell")


def gap_fill_daily(
    df: DataFrame,
    group_cols: list[str],
    day_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group daily gap fill with forward fill (time-series
    regularization): each group's calendar spans ITS OWN [min_day,
    max_day] (one grouped agg + an in-plan ``sequence`` explode — no
    driver-side calendar), observed rows join back on (group, day),
    and missing days take the last observed value
    (``last(ignorenulls)`` over an unbounded-preceding frame).
    Output: group cols, day, <value_col> (filled), ``is_gap``.

    100 TB: the calendar explode is |groups| x days — proportional to
    the OUTPUT, not the input; the fill is one window per group
    ordered by day, the same shuffle the join already paid. Days
    before a group's first observation cannot forward-fill and stay
    NULL (flagged is_gap) — semantics, not an accident."""
    g = [F.col(c) for c in group_cols]
    bounds = df.groupBy(*g).agg(
        F.min(F.col(day_col).cast("date")).alias("__lo"),
        F.max(F.col(day_col).cast("date")).alias("__hi"),
    )
    calendar = bounds.select(
        *group_cols,
        F.explode(F.sequence("__lo", "__hi")).alias(day_col),
    )
    observed = df.select(
        *group_cols, F.col(day_col).cast("date").alias(day_col), F.col(value_col)
    )
    joined = calendar.join(observed, [*group_cols, day_col], "left")
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        *group_cols,
        day_col,
        F.last(value_col, ignorenulls=True).over(w).alias(value_col),
        F.col(value_col).isNull().alias("is_gap"),
    )


def activity_islands(df: DataFrame, key_cols: list[str], day_col: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    key (streak detection — retention features, SLA windows). The
    classic constant-group trick: over distinct (key, day), day minus
    row_number() days is constant exactly within a consecutive run, so
    one window pass + one group-by yields island start/end/length.
    Two shuffles total (both on the key), no iteration, no UDF."""
    days = df.select(*key_cols, F.col(day_col).cast("date").alias("__day")).distinct()
    w = Window.partitionBy(*key_cols).orderBy("__day")
    grouped = days.withColumn(
        "__grp", F.date_sub(F.col("__day"), F.row_number().over(w))
    )
    return (
        grouped.groupBy(*key_cols, "__grp")
        .agg(
            F.min("__day").alias("island_start"),
            F.max("__day").alias("island_end"),
            F.count("*").alias("n_days"),
        )
        .drop("__grp")
    )
