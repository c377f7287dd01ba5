"""Session factory config knobs (docs/DEPLOY.md §0)."""

from __future__ import annotations

from mlb_data_pipeline_spark.session import session_config


def test_max_partition_bytes_defaults_to_local_bench_value(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MAX_PARTITION_BYTES", raising=False)
    assert session_config()["spark.sql.files.maxPartitionBytes"] == "32m"


def test_max_partition_bytes_env_overridable(monkeypatch):
    # a cluster deploy must be able to restore the Spark default without
    # editing code — bench tuning must not leak into production sessions
    monkeypatch.setenv("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m")
    assert session_config()["spark.sql.files.maxPartitionBytes"] == "128m"


def test_shuffle_partitions_follows_cpu_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    cfg = session_config()
    assert cfg["spark.sql.shuffle.partitions"] == "7"
    assert session_config(shuffle_partitions=3)["spark.sql.shuffle.partitions"] == "3"


def test_codegen_cache_is_pinned_in_the_builder_config():
    # a static conf: it has to be in the builder dict, not set later;
    # 4000 holds one full registry pass (docs/DEPLOY.md §0)
    assert session_config()["spark.sql.codegen.cache.maxEntries"] == "4000"


def test_warm_rerun_compiles_nothing(spark, sf_dir, tmp_path):
    """The six ``interactive`` registry queries and one RAG retrieve,
    then the first query again: the rerun must reuse its generated
    classes. In a fresh session at sf0.001 the seven requests compile
    well over 100 classes (one full cycle of the benchmark's requests
    ~210), so under Spark's default cache of 100 the first query's
    classes are evicted before the rerun and compiled again."""
    from pyspark.sql import functions as F

    from mlb_data_pipeline_spark.catalog import table_path
    from mlb_data_pipeline_spark.pipelines.rag import build_chunk_store, retrieve
    from mlb_data_pipeline_spark.plans import REGISTRY, load_all

    load_all()
    queries = (
        "q00_monthly_revenue_by_region", "q04_pricing_summary", "q24_top_tokens",
        "q32_tumbling_hourly", "q33_sessionization", "q36_knn_join",
    )
    docs = spark.read.parquet(table_path(sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    build_chunk_store(docs).write.parquet(str(tmp_path / "store"))
    store = spark.read.parquet(str(tmp_path / "store"))
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def first():
        return REGISTRY[queries[0]].spark(spark, sf_dir).collect()

    want = first()
    for q in queries[1:]:
        REGISTRY[q].spark(spark, sf_dir).collect()
    retrieve(spark, store, "walk-off homer in extra innings", 3).collect()
    before = compiles.getCount()
    assert first() == want
    assert compiles.getCount() == before
