"""Persisted Bloom seen-keys store (round 7) — the ingest membership
gate.

The 100 TB pattern for "have we ever ingested this URL / doc id /
content hash?": never re-scan (or even re-shuffle against) the
historical corpus. The store holds ONE Bloom bitmap over every key
ever appended, as sparse (widx, word) parquet rows — m/8 bytes total
regardless of corpus size — so the day-2 gate is: load the bitmap
(driver-side, bounded metadata like the IVF centroid load), then one
narrow codegen'd Filter over the delta. Rows the bitmap REJECTS are
DEFINITELY new (a Bloom filter has no false negatives) and can skip
the exact-dedup machinery entirely; the small maybe-seen fraction
(new-but-collided at ~fpp, plus true re-ingests) goes to the exact
verify path. That is the same definite/maybe split
``bloom_prefilter_join`` exploits, persisted across runs.

Append is bit_or-idempotent: replaying a batch ORs the same bits into
the same words, so at-least-once delivery (the streaming leg) needs no
replay guard at all — the one store in the family whose merge is
naturally idempotent. Rewrites go through ``safe_rewrite`` (crash
leaves the old store intact). Keys hash with Spark's ``xxhash64``, so
store queries register rows-only (the established contract for
engine-specific hashing); the definite/maybe semantics are pinned in
pytest instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .relational import bloom_probe, bloom_size_bits, bloom_words

_META_WIDX = -1  # sentinel row carrying (m, n_hashes) even when no bits are set


def build_bloom_store(
    df: DataFrame,
    on: list[str],
    path: str,
    *,
    expected_items: int | None = None,
    fpp: float = 0.01,
    n_hashes: int = 5,
    max_bits: int = 1 << 30,
    mode: str = "error",
) -> None:
    """Create the store over ``df``'s keys. ``expected_items`` must be
    sized for the LIFETIME key count, not the first batch — a Bloom
    bitmap cannot grow (every append must agree on m), and overfilling
    degrades fpp toward 1 (``bloom_store_stats`` watches saturation).
    ``mode="overwrite"`` rebuilds an existing store from scratch (the
    saturation escape hatch); the default refuses to clobber one.
    """
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    n = expected_items if expected_items is not None else df.count()
    m = bloom_size_bits(n, fpp, max_bits)
    spark = df.sparkSession
    meta = local_frame(spark, [(_META_WIDX, 0)], "__w BIGINT, __word BIGINT")
    words = bloom_words(df, on, m, n_hashes).unionByName(meta)
    words.withColumn("m", F.lit(m)).withColumn(
        "n_hashes", F.lit(n_hashes)
    ).coalesce(1).write.mode(mode).parquet(path.rstrip("/"))


def _load_meta(spark: SparkSession, path: str) -> tuple[DataFrame, int, int]:
    store = spark.read.parquet(path.rstrip("/"))
    m, k = store.select("m", "n_hashes").first()
    return store, int(m), int(k)


def append_bloom_store(df: DataFrame, on: list[str], path: str) -> None:
    """OR the delta's keys into the stored bitmap. Idempotent by
    construction (bit_or of already-set bits is a no-op), so replays —
    including the streaming leg's at-least-once redeliveries — need no
    guard. Crash-safe via safe_rewrite."""
    from ..sources.writers import safe_rewrite

    spark = df.sparkSession
    store, m, k = _load_meta(spark, path)
    fresh = bloom_words(df, on, m, k)
    merged = (
        store.select("__w", "__word")
        .unionByName(fresh)
        .groupBy("__w")
        .agg(F.bit_or("__word").alias("__word"))
        .withColumn("m", F.lit(m))
        .withColumn("n_hashes", F.lit(k))
        .coalesce(1)
    )

    def build(tmp: str) -> None:
        merged.write.mode("overwrite").parquet(tmp)

    safe_rewrite(spark, path.rstrip("/"), build)


def bloom_store_filter(
    df: DataFrame, on: list[str], path: str, *, keep: str = "new"
) -> DataFrame:
    """Gate ``df`` against the store: ``keep="new"`` returns rows whose
    keys are DEFINITELY not in the store (the safe-to-skip-dedup set);
    ``keep="maybe_seen"`` returns the complement (true re-ingests plus
    ~fpp false positives) for the exact verify path. The two outputs
    partition the input exactly."""
    if keep not in {"new", "maybe_seen"}:
        raise ValueError(f"keep must be 'new' or 'maybe_seen', got {keep!r}")
    store, m, k = _load_meta(df.sparkSession, path)
    bitmap = [0] * (m // 64)
    for row in store.filter(F.col("__w") >= 0).collect():  # bounded: m/8 bytes
        bitmap[row["__w"]] = row["__word"]
    maybe = bloom_probe(bitmap, on, m, k)
    return df.filter(maybe if keep == "maybe_seen" else ~maybe)


def bloom_store_stats(spark: SparkSession, path: str) -> DataFrame:
    """One-row saturation report: bits set, total bits, fill fraction
    and the implied false-positive rate fill^k — the signal that the
    store needs rebuilding at a larger m (a bitmap cannot grow in
    place). All integer/bit math until the two output divisions."""
    store, m, k = _load_meta(spark, path)
    return (
        store.filter(F.col("__w") >= 0)
        .agg(F.sum(F.bit_count("__word")).alias("bits_set"))
        .select(
            F.coalesce(F.col("bits_set"), F.lit(0)).alias("bits_set"),
            F.lit(m).alias("m_bits"),
            (F.coalesce(F.col("bits_set"), F.lit(0)) / F.lit(m)).alias("fill"),
            F.pow(
                F.coalesce(F.col("bits_set"), F.lit(0)) / F.lit(m), F.lit(k)
            ).alias("implied_fpp"),
        )
    )
