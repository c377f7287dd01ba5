"""IO-layer queries: sources and sinks exercised under the oracle gate.

The readers/writers in ``sources/`` are pytest-covered, but the
correctness contract (CORRECTNESS_r{N}.json) only sees registry queries —
so each source/sink op also gets a query that ROUND-TRIPS engine tables
through the op and hash-compares the result against a DuckDB oracle run
on the ORIGINAL parquet. If serialization is lossy, types drift, or the
merge/delete semantics are off by one row, the hash breaks.

Reference analogues: CSV ingest (hw5/load_csv.py:12-22), JSON blob
storage (pipeline.py:40-49), date-keyed layout (mlb_pipeline_dag.py:119),
vector upsert/clear (pipeline.py:58-77, scrape_store_embed.py:79), HTML
scrape parse (pipeline.py:24-38), schedule API payloads
(mlb_schedule_to_gcs.py:33-62).

Scratch writes go under /tmp (never the read-only testdata); every query
rebuilds its scratch state from the source tables on each call, so
repeated runs (warm-up, timed runs, driver retries) are deterministic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..session import local_frame
from ..sources.feeds import rest_json_source, scrape_articles
from ..sources.readers import parse_schedule_payloads, read_csv, read_json
from ..sources.writers import delete_by_predicate, upsert_by_key, write_json_single, write_partitioned
from .registry import query

_SCRATCH = "/tmp/spark_graft_io"


def _scratch(sf_dir: str, name: str) -> str:
    return os.path.join(_SCRATCH, os.path.basename(sf_dir.rstrip("/")), name)


# ---------------------------------------------------------------------------
# Q11 — CSV sink -> CSV scan -> JSON sink -> JSON scan double round-trip
#        (S1, S2, S10)
# ---------------------------------------------------------------------------

_Q11_SQL = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal
FROM supplier
ORDER BY s_suppkey
"""

_SUPPLIER_SCHEMA = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)


@query("q11_file_roundtrip", oracle=_Q11_SQL, covers="S1,S2,S10,P1,O9")
def q11_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier -> CSV (quoted) -> explicit-schema CSV scan (S1) ->
    single-file JSON export (S10) -> explicit-schema JSON scan (S2) ->
    full table. The hash gate proves BOTH text round-trips are lossless
    for long/int/string/double: doubles print via shortest-decimal and
    re-parse to the identical IEEE value in each format."""
    csv_path = _scratch(sf_dir, "q11_supplier_csv")
    json_path = _scratch(sf_dir, "q11_supplier_json")
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    (
        supplier.write.mode("overwrite")
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(csv_path)
    )
    from_csv = read_csv(spark, csv_path, _SUPPLIER_SCHEMA, header=True)
    write_json_single(from_csv, json_path)
    back = read_json(spark, json_path, _SUPPLIER_SCHEMA)
    return back.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal").orderBy("s_suppkey")


# ---------------------------------------------------------------------------
# Date-partitioned lake write + pruned read-back (S8). Ex-q18: merged
# into q25's writer family as the 'partitioned' branch (round 9) — the
# freed slot holds the SQ8 quantized k-NN (ex-r48). The standalone form
# stays importable for tests.
# ---------------------------------------------------------------------------


def partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders partitioned by year (the engine's form of the
    reference's ``articles/{date}/`` layout), then read ONE partition
    back. The o_year=1995 filter prunes at the directory level — the
    read never touches the other years' files."""
    path = _scratch(sf_dir, "q18_orders_by_year")
    orders = load_table(spark, sf_dir, "orders").withColumn("o_year", F.year("o_orderdate"))
    write_partitioned(orders, path, ["o_year"])
    back = spark.read.parquet(path).filter(F.col("o_year") == 1995)
    return (
        back.groupBy(F.month("o_orderdate").alias("month"))
        .agg(F.count("*").alias("n_orders"))
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Q19 — vector-store maintenance: upsert-by-key + delete-where (S11, P7, V6)
# ---------------------------------------------------------------------------

_Q19_SQL = """
WITH init AS (
  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 2 = 0
),
batch AS (
  SELECT vec_id, embedding, label + 100 AS label FROM embeddings WHERE vec_id % 3 = 0
),
merged AS (
  SELECT i.* FROM init i WHERE i.vec_id NOT IN (SELECT vec_id FROM batch)
  UNION ALL
  SELECT * FROM batch
),
final AS (
  SELECT * FROM merged WHERE NOT (vec_id % 7 = 0)
)
SELECT label >= 100 AS upserted,
       COUNT(*) AS n_vectors,
       CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id,
       CAST(SUM(len(embedding)) AS BIGINT) AS sum_dims
FROM final
GROUP BY 1
ORDER BY 1
"""


@query("q19_vector_store_maintenance", oracle=_Q19_SQL, covers="S11,P7,V6,S3")
def q19_vector_store_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's collection lifecycle (pipeline.py:58-77) against a
    parquet-backed vector store: seed with even vec_ids, UPSERT a batch
    of re-labeled vectors keyed on vec_id (delete-then-add,
    scrape_store_embed.py:79), DELETE-where vec_id % 7 = 0
    (collection.delete, pipeline.py:63-64), then audit what remains.
    The oracle rebuilds the same end state with set ops on the original
    table, so any duplicate, lost row, or stale pre-upsert value breaks
    the hash."""
    path = _scratch(sf_dir, "q19_vector_store")
    emb = load_table(spark, sf_dir, "embeddings")
    init = emb.filter(F.col("vec_id") % 2 == 0)
    init.write.mode("overwrite").parquet(path)
    batch = emb.filter(F.col("vec_id") % 3 == 0).withColumn("label", F.col("label") + F.lit(100))
    upsert_by_key(spark, path, batch, ["vec_id"])
    delete_by_predicate(spark, path, F.col("vec_id") % 7 == 0)
    store = spark.read.parquet(path)
    return (
        store.groupBy((F.col("label") >= 100).alias("upserted"))
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum("vec_id").cast("bigint").alias("sum_vec_id"),
            F.sum(F.size("embedding")).cast("bigint").alias("sum_dims"),
        )
        .orderBy("upserted")
    )


# ---------------------------------------------------------------------------
# Q22 — feed-parse family (S6 HTML scrape + S5 RSS, tagged union;
#        round 7 merged the former q43 RSS branch in)
# ---------------------------------------------------------------------------

_Q22_SQL = """
SELECT 'html' AS channel, doc_id,
       CAST(NULL AS VARCHAR) AS link,
       'Doc #' || CAST(doc_id AS VARCHAR) AS title,
       trim(substr(text, 1, 80)) || ' lang=' || lang AS body,
       CAST(NULL AS TIMESTAMP) AS published_ts,
       CAST(NULL AS VARCHAR) AS title_xpath
FROM documents
WHERE doc_id < 100
UNION ALL
SELECT 'rss', CAST(NULL AS BIGINT), link, title, CAST(NULL AS VARCHAR),
       CAST(published_ts AS TIMESTAMP), title AS title_xpath
FROM (VALUES
  ('https://ex.com/a1', 'Yankees win opener',   '2024-03-28 14:00:00'),
  ('https://ex.com/a2', 'Padres walk off',      '2024-03-28 23:45:10'),
  ('https://ex.com/a3', 'Trade rumors roundup', '2024-03-29 08:15:00')
) AS t(link, title, published_ts)
ORDER BY channel, doc_id, link
"""


@query("q22_html_scrape_parse", oracle=_Q22_SQL, covers="S6,S5,T15,T4,T3,T11,U2,T9")
def q22_html_scrape_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-parse family, tagged union (round 7 merges the former q43
    RSS branch in, freeing that window slot for the SCD2 merge):

    * 'html' — documents rendered as HTML pages, run through the S6
      scrape parser (pipeline.py:24-38 rules: title = first <h1>, body
      = ' '-join of <p> texts, tags stripped); the oracle states the
      expected extraction directly from the source table.
    * 'rss' — S5 feed ingestion with a canned payload: distributed item
      extraction over the XML column (mapInPandas), CDATA handling,
      RFC-822 pubDate parsing (mlb_pipeline_dag.py:43-59), plus a real
      ``xpath_string`` re-extraction (T15) of each title that must
      equal the regex-parsed title exactly."""
    from ..sources.feeds import rss_source

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<article><h1 class=\"headline\">Doc #"),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.substring("text", 1, 80),
            F.lit("</p><p>lang=<b>"),
            F.col("lang"),
            F.lit("</b></p></article>"),
        ).alias("html"),
    )
    parsed = scrape_articles(pages, url_col="doc_id", html_col="html")
    html = parsed.select(
        F.lit("html").alias("channel"),
        F.col("url").alias("doc_id"),
        F.lit(None).cast("string").alias("link"),
        "title",
        F.col("body").alias("body"),
        F.lit(None).cast("timestamp").alias("published_ts"),
        F.lit(None).cast("string").alias("title_xpath"),
    )
    feed = rss_source(spark, ["https://feeds.example/mlb.xml"], fetcher=lambda url: _CANNED_RSS)
    item_xml = F.concat(F.lit("<item><t>"), F.col("title"), F.lit("</t><l>"), F.col("link"), F.lit("</l></item>"))
    rss = (
        feed.withColumn("title_xpath", F.xpath_string(item_xml, F.lit("/item/t")))
        .select(
            F.lit("rss").alias("channel"),
            F.lit(None).cast("bigint").alias("doc_id"),
            "link",
            "title",
            F.lit(None).cast("string").alias("body"),
            "published_ts",
            "title_xpath",
        )
    )
    return html.unionByName(rss).orderBy("channel", "doc_id", "link")


# ---------------------------------------------------------------------------
# Q29 — REST API schedule ingest: fetch -> nested JSON parse (S4)
# ---------------------------------------------------------------------------

_CANNED_SCHEDULE = """{
  "dates": [
    {"date": "2024-03-28", "games": [
      {"gamePk": 745804, "gameDate": "2024-03-28T20:05:00Z",
       "teams": {"away": {"team": {"name": "Yankees"}, "score": 5},
                  "home": {"team": {"name": "Astros"}, "score": 4}},
       "venue": {"name": "Minute Maid Park"},
       "status": {"detailedState": "Final"}},
      {"gamePk": 745805, "gameDate": "2024-03-28T23:10:00Z",
       "teams": {"away": {"team": {"name": "Giants"}, "score": 1},
                  "home": {"team": {"name": "Padres"}, "score": 6}},
       "venue": {"name": "Petco Park"},
       "status": {"detailedState": "Final"}}
    ]},
    {"date": "2024-03-29", "games": [
      {"gamePk": 745901, "gameDate": "2024-03-29T18:20:00Z",
       "teams": {"away": {"team": {"name": "Cubs"}, "score": 3},
                  "home": {"team": {"name": "Rangers"}, "score": 2}},
       "venue": {"name": "Globe Life Field"},
       "status": {"detailedState": "Final"}}
    ]}
  ]
}"""

_Q29_SQL = """
SELECT game_day, CAST(game_pk AS BIGINT) AS game_pk, away_team, away_score,
       home_team, home_score, venue, status
FROM (VALUES
  ('2024-03-28', 745804, 'Yankees', 5, 'Astros', 4, 'Minute Maid Park', 'Final'),
  ('2024-03-28', 745805, 'Giants', 1, 'Padres', 6, 'Petco Park', 'Final'),
  ('2024-03-29', 745901, 'Cubs', 3, 'Rangers', 2, 'Globe Life Field', 'Final')
) AS t(game_day, game_pk, away_team, away_score, home_team, home_score, venue, status)
ORDER BY game_pk
"""


@query("q29_rest_schedule_ingest", oracle=_Q29_SQL, covers="S4,T14,U5")
def q29_rest_schedule_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 end-to-end with a canned payload (the network fetch is
    injectable; tests and the oracle gate never touch HTTP): driver-side
    fetch -> payload column -> distributed from_json + double explode of
    dates[].games[] (mlb_schedule_to_gcs.py:33-62 stores this payload
    verbatim; the engine actually relationalizes it). The oracle is the
    hand-derived golden output of the same payload."""
    raw = rest_json_source(
        spark,
        ["https://statsapi.example/v1/schedule?sportId=1"],
        fetcher=lambda url: _CANNED_SCHEDULE,
    )
    games = parse_schedule_payloads(raw)
    return games.select(
        "game_day",
        "game_pk",
        "away_team",
        F.col("away_score").cast("int").alias("away_score"),
        "home_team",
        F.col("home_score").cast("int").alias("home_score"),
        "venue",
        "status",
    ).orderBy("game_pk")


# ---------------------------------------------------------------------------
# Warehouse layering raw -> staging -> analytics (S12). Ex-q39: merged
# into q43's warehouse family as the 'layering' branch (round 9) — the
# freed slot holds the z-order layout key (ex-r47). The standalone form
# stays importable for tests.
# ---------------------------------------------------------------------------


def warehouse_layering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's raw -> staging -> analytics layering
    (terraform/main.tf:46-66 datasets; dbt_project.yml:22-27: staging =
    views, marts = tables) as Spark SQL databases: raw = materialized
    parquet table, staging = unmaterialized view (filters push through it
    into the raw scan), mart = CTAS parquet table. The mart is what the
    oracle checks, so the whole 3-layer path is under the hash gate."""
    from ..sources.warehouse import create_layers, create_staging_view, load_raw, materialize_mart

    orders = load_table(spark, sf_dir, "orders")
    create_layers(spark)
    load_raw(spark, "orders", orders)
    create_staging_view(
        spark,
        "stg_finished_orders",
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate "
        "FROM raw.orders WHERE o_orderstatus = 'F'",
    )
    materialize_mart(
        spark,
        "fct_orders_by_year",
        "SELECT CAST(year(o_orderdate) AS INT) AS order_year, COUNT(*) AS n_orders, "
        "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value "
        "FROM staging.stg_finished_orders GROUP BY 1",
    )
    return spark.table("analytics.fct_orders_by_year").orderBy("order_year")


# ---------------------------------------------------------------------------
# Canned RSS payload for the q22 feed-parse family (the former q43
# branch, merged round 7).
# ---------------------------------------------------------------------------

_CANNED_RSS = """<?xml version="1.0"?><rss version="2.0"><channel>
<title>MLB News</title>
<item><title><![CDATA[Yankees win opener]]></title><link>https://ex.com/a1</link>
<pubDate>Thu, 28 Mar 2024 14:00:00 GMT</pubDate></item>
<item><title>Padres walk off</title><link>https://ex.com/a2</link>
<pubDate>Thu, 28 Mar 2024 23:45:10 GMT</pubDate></item>
<item><title>Trade rumors roundup</title><link>https://ex.com/a3</link>
<pubDate>Fri, 29 Mar 2024 08:15:00 GMT</pubDate></item>
</channel></rss>"""

# ---------------------------------------------------------------------------
# Q78 — quarantine ingestion (S2 hardened): JSON-lines with planted
#        corrupt records split into valid rows + verbatim quarantine.
#        Rows-only by design (the corrupt-line split is reader
#        semantics, not SQL); exact split behavior is pinned in
#        tests/test_io.py.
# ---------------------------------------------------------------------------

_Q78_CORRUPT = [
    '{"doc_id": 1, "source": "web", "n_chars":',   # truncated mid-token
    "not json at all",                             # free text
    '[{"doc_id": 2}]',                             # valid JSON, wrong shape
]


@query("q78_quarantine_ingest", oracle=None, covers="S2,T14")
def q78_quarantine_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import read_jsonl_quarantine

    path = _scratch(sf_dir, "q78_dirty.jsonl")
    docs = load_table(spark, sf_dir, "documents").limit(50)
    good = docs.select(
        F.to_json(F.struct("doc_id", "source", "n_chars")).alias("value")
    )
    bad = local_frame(spark, [(s,) for s in _Q78_CORRUPT], "value string")
    good.unionByName(bad).coalesce(1).write.mode("overwrite").text(path)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    valid, quarantine = read_jsonl_quarantine(spark, path, schema)
    return valid.agg(
        F.count("*").alias("n_valid"),
        F.sum("n_chars").alias("total_chars"),
    ).crossJoin(quarantine.agg(F.count("*").alias("n_quarantined")))


# ---------------------------------------------------------------------------
# Q25 (formerly q83, rotated into the driver window round 6) — co-located (bucketed) fact-fact join: orders x lineitem both
#        bucketed on the order key, joined WITHOUT a shuffle (the only
#        exchange in the plan is the final group-by). The storage-side
#        answer to repeated big-big joins at 100 TB: the join shuffle is
#        paid once at write time. Results are layout-independent, so the
#        oracle joins the raw tables — parity proves correctness while
#        the plan-shape test proves the zero-shuffle join.
# ---------------------------------------------------------------------------

_Q25_SQL = """
WITH bucketed AS (
  SELECT o.o_orderpriority AS k,
         COUNT(*) AS n,
         CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS val
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1
),
partitioned AS (
  SELECT CAST(EXTRACT(month FROM o_orderdate) AS VARCHAR) AS k, COUNT(*) AS n
  FROM orders
  WHERE EXTRACT(year FROM o_orderdate) = 1995
  GROUP BY 1
)
SELECT 'bucketed' AS part, k, n, val FROM bucketed
UNION ALL
SELECT 'partitioned', k, n, CAST(NULL AS DOUBLE) FROM partitioned
ORDER BY part, k
"""


@query("q25_bucketed_join", oracle=_Q25_SQL, covers="J1,J2,A2,S8,P8,T11")
def q25_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer family, tagged union (round 9: the date-partitioned sink
    demo merged in as the 'partitioned' branch, freeing q18's slot for
    the SQ8 quantized k-NN):
    * 'bucketed' branch — co-located fact-fact join over bucketed
      tables (zero-exchange SMJ, plan pinned);
    * 'partitioned' branch — partitionBy(year) write + directory-pruned
      single-partition read-back."""
    from ..functions.numeric import dsum
    from ..sources.writers import write_bucketed

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_").replace("-", "_")
    t_orders, t_items = f"q25_orders_{tag}", f"q25_lineitem_{tag}"
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    items = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    write_bucketed(orders, t_orders, ["o_orderkey"], 8, ["o_orderkey"],
                   path=_scratch(sf_dir, "q25_orders"))
    write_bucketed(items, t_items, ["l_orderkey"], 8, ["l_orderkey"],
                   path=_scratch(sf_dir, "q25_lineitem"))
    # the merge hint pins SortMergeJoin at every sf (a broadcast join
    # would ALSO be shuffle-free here at toy scale, but the co-located
    # claim is about the fact-fact case where broadcast is impossible)
    joined = spark.table(t_orders).hint("merge").join(
        spark.table(t_items), F.col("o_orderkey") == F.col("l_orderkey")
    )
    bucketed = (
        joined.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_items"), dsum("l_extendedprice").alias("total_price"))
        .select(
            F.lit("bucketed").alias("part"),
            F.col("o_orderpriority").alias("k"),
            F.col("n_items").alias("n"),
            F.col("total_price").alias("val"),
        )
    )
    partitioned = partitioned_sink_roundtrip(spark, sf_dir).select(
        F.lit("partitioned").alias("part"),
        F.col("month").cast("string").alias("k"),
        F.col("n_orders").alias("n"),
        F.lit(None).cast("double").alias("val"),
    )
    return bucketed.unionByName(partitioned).orderBy("part", "k")


# ---------------------------------------------------------------------------
# Q96 — SCD Type-2 merge (S12's history half): one change batch applied
#        to an open dimension — changed keys close + reinsert, no-op
#        changes pass through, multiple changes per key collapse to the
#        latest first (idempotent on re-delivered feeds), unseen keys
#        insert. The oracle replays the same merge with IS DISTINCT
#        FROM in place of the digest comparison (equivalent semantics).
# ---------------------------------------------------------------------------

_Q96_SQL = """
WITH cur AS (
  SELECT c_custkey, c_mktsegment, c_nationkey,
         DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM customer
),
chg AS (
  SELECT c_custkey, 'MOVED' AS c_mktsegment, c_nationkey, DATE '2024-06-01' AS change_ts
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, c_mktsegment, c_nationkey, DATE '2024-06-01' FROM customer WHERE c_custkey % 10 = 1
  UNION ALL
  SELECT c_custkey, 'EARLY', c_nationkey, DATE '2024-03-01' FROM customer WHERE c_custkey % 10 = 2
  UNION ALL
  SELECT c_custkey, 'LATE', c_nationkey, DATE '2024-06-01' FROM customer WHERE c_custkey % 10 = 2
  UNION ALL
  SELECT c_custkey + 100000, 'NEW', c_nationkey, DATE '2024-06-01' FROM customer WHERE c_custkey % 10 = 3
),
latest AS (
  SELECT c_custkey, c_mktsegment, c_nationkey, change_ts FROM (
    SELECT chg.*, row_number() OVER (PARTITION BY c_custkey ORDER BY change_ts DESC) AS rn FROM chg
  ) WHERE rn = 1
),
m AS (
  SELECT COALESCE(o.c_custkey, l.c_custkey) AS c_custkey,
         o.c_mktsegment AS o_seg, o.c_nationkey AS o_nat, o.valid_from AS o_vf,
         l.c_mktsegment AS n_seg, l.c_nationkey AS n_nat, l.change_ts AS ts,
         ((o.c_mktsegment IS DISTINCT FROM l.c_mktsegment)
          OR (o.c_nationkey IS DISTINCT FROM l.c_nationkey)) AS differs,
         o.valid_from IS NOT NULL AS has_open,
         l.change_ts IS NOT NULL AS has_chg
  FROM cur o FULL OUTER JOIN latest l ON o.c_custkey = l.c_custkey
),
scd2 AS (
  SELECT c_custkey, o_seg AS c_mktsegment, o_nat AS c_nationkey,
         o_vf AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM m WHERE has_open AND (NOT has_chg OR NOT differs)
  UNION ALL
  SELECT c_custkey, o_seg, o_nat, o_vf, ts FROM m WHERE has_open AND has_chg AND differs
  UNION ALL
  SELECT c_custkey, n_seg, n_nat, ts, CAST(NULL AS DATE)
  FROM m WHERE has_chg AND (NOT has_open OR differs)
),
layering AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
         COUNT(*) AS n_orders,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
  FROM orders
  WHERE o_orderstatus = 'F'
  GROUP BY 1
),
lm_o AS (
  SELECT CAST(o_orderkey AS BIGINT) AS ok,
         CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
),
lm_base AS (SELECT * FROM lm_o WHERE ck % 2 = 0),
lm_src AS (
  SELECT ok, ck, pc + 7777 AS pc FROM lm_base WHERE ck % 10 = 0
  UNION ALL
  SELECT ok, ck, pc FROM lm_o WHERE ck % 2 = 1
),
lm_merged AS (
  SELECT * FROM lm_src
  UNION ALL
  SELECT b.* FROM lm_base b WHERE b.ok NOT IN (SELECT ok FROM lm_src)
),
ev_o AS (
  SELECT CAST(o_custkey AS INT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
),
ev_base AS (SELECT * FROM ev_o WHERE ck % 3 <> 0),
ev_extra AS (SELECT CAST(ck AS BIGINT) AS ck, pc AS cents FROM ev_o WHERE ck % 3 = 0),
ev_head AS (
  SELECT CAST(ck AS BIGINT) AS ck, pc AS cents FROM ev_base
  UNION ALL
  SELECT * FROM ev_extra
),
wap_o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
),
wap_base AS (SELECT * FROM wap_o WHERE ck % 2 = 0),
wap_staged AS (SELECT ck, pc + 1111 AS pc FROM wap_o WHERE ck % 2 = 1),
wap_combined AS (SELECT * FROM wap_base UNION ALL SELECT * FROM wap_staged),
bd_base AS (SELECT ck, pc FROM wap_o WHERE ck % 2 = 0),
bd_staged AS (SELECT ck, pc + 1111 AS pc FROM wap_o WHERE ck % 2 = 1),
bd_combined AS (SELECT * FROM bd_base UNION ALL SELECT * FROM bd_staged),
bd_afterdel AS (SELECT * FROM bd_combined WHERE NOT (ck BETWEEN 301 AND 399)),
bd_afterdv AS (SELECT * FROM bd_afterdel WHERE NOT (pc % 100 < 7)),
bd_afterupd AS (
  SELECT ck, CASE WHEN ck BETWEEN 10 AND 20 THEN pc + 5 ELSE pc END AS pc
  FROM bd_afterdv
),
cm_o AS (
  SELECT CAST(o_custkey AS BIGINT) AS ck,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
),
cm_v1 AS (SELECT ck, pc, pc % 100 AS tag FROM cm_o WHERE ck % 3 != 0),
cm_v3 AS (
  SELECT ck, pc, CAST(NULL AS BIGINT) AS tag FROM cm_v1
  UNION ALL
  SELECT ck, pc, ck * 7 AS tag FROM cm_o WHERE ck % 3 = 0
),
cm_head AS (
  SELECT ck, pc AS price, tag FROM cm_v3
  WHERE tag IS NULL OR tag NOT BETWEEN 140 AND 350
)
SELECT 'scd2' AS part, c_custkey AS key, c_mktsegment AS seg,
       CAST(c_nationkey AS BIGINT) AS nat, valid_from AS vf, valid_to AS vt,
       CAST(NULL AS DOUBLE) AS val
FROM scd2
UNION ALL
SELECT 'layering', order_year, CAST(NULL AS VARCHAR), n_orders,
       CAST(NULL AS DATE), CAST(NULL AS DATE), total_value
FROM layering
UNION ALL
SELECT 'lake_merge', CAST(ck % 5 AS BIGINT), CAST(NULL AS VARCHAR), COUNT(*),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(SUM(pc) AS DOUBLE)
FROM lm_merged GROUP BY 2
UNION ALL
SELECT 'evolve_head', CAST(ck % 5 AS BIGINT),
       CAST(CAST(SUM(ck) AS BIGINT) AS VARCHAR), COUNT(*),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(SUM(cents) AS DOUBLE)
FROM ev_head GROUP BY 2
UNION ALL
SELECT 'evolve_v1', CAST(ck % 5 AS BIGINT),
       CAST(CAST(SUM(ck) AS BIGINT) AS VARCHAR), COUNT(*),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(SUM(pc) AS DOUBLE)
FROM ev_base GROUP BY 2
UNION ALL
SELECT 'branchdml_audit', MIN(ck), CAST(MAX(ck) AS VARCHAR), COUNT(*),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(SUM(pc) AS DOUBLE)
FROM bd_afterupd
UNION ALL
SELECT 'branchdml_audit_band', MIN(ck), CAST(MAX(ck) AS VARCHAR), COUNT(*),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(SUM(pc) AS DOUBLE)
FROM bd_afterupd WHERE ck BETWEEN 400 AND 800
UNION ALL
SELECT 'branchdml_main_during', MIN(ck), CAST(MAX(ck) AS VARCHAR), COUNT(*),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(SUM(pc) AS DOUBLE)
FROM bd_base
UNION ALL
SELECT 'branchdml_published', MIN(ck), CAST(MAX(ck) AS VARCHAR), COUNT(*),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(SUM(pc) AS DOUBLE)
FROM bd_afterupd
UNION ALL
SELECT 'wap_audit', MIN(ck), CAST(MAX(ck) AS VARCHAR), COUNT(*),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(SUM(pc) AS DOUBLE)
FROM wap_combined
UNION ALL
SELECT 'wap_main_during', MIN(ck), CAST(MAX(ck) AS VARCHAR), COUNT(*),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(SUM(pc) AS DOUBLE)
FROM wap_base
UNION ALL
SELECT 'wap_published', MIN(ck), CAST(MAX(ck) AS VARCHAR), COUNT(*),
       CAST(NULL AS DATE), CAST(NULL AS DATE), CAST(SUM(pc) AS DOUBLE)
FROM wap_combined
UNION ALL
SELECT 'cmap_head', MIN(ck),
       CAST(MAX(ck) AS VARCHAR) || ':' || CAST(COUNT(tag) AS VARCHAR)
         || ':' || CAST(COALESCE(CAST(SUM(tag) AS BIGINT), -1) AS VARCHAR),
       COUNT(*), CAST(NULL AS DATE), CAST(NULL AS DATE),
       CAST(SUM(price) AS DOUBLE)
FROM cm_head
UNION ALL
SELECT 'cmap_tt_v1', MIN(ck),
       CAST(MAX(ck) AS VARCHAR) || ':' || CAST(COUNT(tag) AS VARCHAR)
         || ':' || CAST(COALESCE(CAST(SUM(tag) AS BIGINT), -1) AS VARCHAR),
       COUNT(*), CAST(NULL AS DATE), CAST(NULL AS DATE),
       CAST(SUM(pc) AS DOUBLE)
FROM cm_v1
UNION ALL
SELECT 'cmap_tt_v3', MIN(ck),
       CAST(MAX(ck) AS VARCHAR) || ':' || CAST(COUNT(tag) AS VARCHAR)
         || ':' || CAST(COALESCE(CAST(SUM(tag) AS BIGINT), -1) AS VARCHAR),
       COUNT(*), CAST(NULL AS DATE), CAST(NULL AS DATE),
       CAST(SUM(pc) AS DOUBLE)
FROM cm_v3
ORDER BY part, key, vf
"""


@query("q43_scd2_merge", oracle=_Q96_SQL, covers="S12,J3,O4,A2,T16,X46")
def q43_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse family, tagged union (round 9: the raw->staging->
    analytics layering demo merged in as the 'layering' branch,
    freeing q39's slot for the z-order layout key):
    * 'scd2' branch — SCD Type-2 merge of one change batch;
    * 'layering' branch — the 3-layer warehouse path, mart checked;
    * 'lake_merge' branch (round 12, ex-r70 rotated into the driver
      window) — pruned MERGE INTO a key-clustered snapshot lake:
      candidate files picked by per-key interval probes, untouched
      files carry over by identity, matched keys replaced via the
      (guarded-broadcast) anti-join, inserts land as new files, one
      atomic parent-asserting commit. The oracle replays the upsert
      relationally — a lost untouched file, duplicated key, or
      dropped insert breaks the hash;
    * 'evolve_head' / 'evolve_v1' (round 12) — FULL SCHEMA EVOLUTION
      under the driver hash: the r76 flow (rename + widen + drop as
      metadata-only commits, then a new-generation append) re-shaped
      into this union — the head read must resolve both file
      generations and the v1 time travel the original schema;
    * 'wap_audit' / 'wap_main_during' / 'wap_published' (round 12) —
      WRITE-AUDIT-PUBLISH under the driver hash: the r77 tri-state
      (branch audit sees base+staged, main during staging sees base
      only, main after publish sees the audited state) — one staged
      row leaking to main breaks the hash;
    * 'branchdml_*' (round 14, X46 rotated in — VERDICT r13 ask #2) —
      DML ON BRANCHES under the driver hash: the r79 flow (stage a
      feed, clean it IN STAGING with a rewrite delete + a DV delete +
      an update, audit, publish) re-shaped into this union — a leaked
      staged intermediate on main, a lost in-branch cleanup, or a
      mask dropped at publish each breaks the hash."""
    import datetime

    from ..sources.warehouse import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    current = cust.select(
        "c_custkey", "c_mktsegment", "c_nationkey",
        F.lit(datetime.date(2024, 1, 1)).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    ts = F.lit(datetime.date(2024, 6, 1))
    changes = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", F.lit("MOVED").alias("c_mktsegment"), "c_nationkey", ts.alias("change_ts"))
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 1)
            .select("c_custkey", "c_mktsegment", "c_nationkey", ts.alias("change_ts"))
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 2)
            .select("c_custkey", F.lit("EARLY").alias("c_mktsegment"), "c_nationkey",
                    F.lit(datetime.date(2024, 3, 1)).alias("change_ts"))
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 2)
            .select("c_custkey", F.lit("LATE").alias("c_mktsegment"), "c_nationkey", ts.alias("change_ts"))
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 3)
            .select((F.col("c_custkey") + 100000).alias("c_custkey"),
                    F.lit("NEW").alias("c_mktsegment"), "c_nationkey", ts.alias("change_ts"))
        )
    )
    out = scd2_apply(current, changes, ["c_custkey"], ["c_mktsegment", "c_nationkey"])
    scd2 = out.select(
        F.lit("scd2").alias("part"),
        F.col("c_custkey").cast("long").alias("key"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").cast("long").alias("nat"),
        F.col("valid_from").alias("vf"),
        F.col("valid_to").alias("vt"),
        F.lit(None).cast("double").alias("val"),
    )
    layering = warehouse_layering(spark, sf_dir).select(
        F.lit("layering").alias("part"),
        F.col("order_year").cast("long").alias("key"),
        F.lit(None).cast("string").alias("seg"),
        F.col("n_orders").cast("long").alias("nat"),
        F.lit(None).cast("date").alias("vf"),
        F.lit(None).cast("date").alias("vt"),
        F.col("total_value").alias("val"),
    )

    # 'lake_merge' (round 12, ex-r70): pruned MERGE INTO a snapshot
    # lake — see operators/snapshots.lake_merge
    import os
    import shutil

    from ..operators.snapshots import lake_merge, lake_write, read_snapshot

    base = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "q43_lake"
    )
    lake = os.path.join(base, "data")
    if os.path.exists(lake):
        shutil.rmtree(lake)
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("ok"),
        F.col("o_custkey").cast("long").alias("ck"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("pc"),
    )
    lake_base = o.filter(F.col("ck") % 2 == 0)
    lake_write(spark, lake_base.repartitionByRange(8, "ok"), lake)
    source = lake_base.filter(F.col("ck") % 10 == 0).withColumn(
        "pc", F.col("pc") + F.lit(7777)
    ).unionByName(o.filter(F.col("ck") % 2 == 1))
    lake_merge(spark, lake, source, "ok")
    lake_m = (
        read_snapshot(spark, lake)
        .groupBy((F.col("ck") % 5).cast("long").alias("key"))
        .agg(
            F.count("*").cast("long").alias("nat"),
            F.sum("pc").cast("double").alias("val"),
        )
        .select(
            F.lit("lake_merge").alias("part"),
            "key",
            F.lit(None).cast("string").alias("seg"),
            "nat",
            F.lit(None).cast("date").alias("vf"),
            F.lit(None).cast("date").alias("vt"),
            "val",
        )
    )
    # 'evolve_*' / 'wap_*' (round 12): the full-schema-evolution and
    # write-audit-publish flagships under the driver hash — the
    # branches CALL the r76/r77 registry queries (one source of truth,
    # no drift) and re-shape their tagged outputs into q43's schema;
    # sum_k / max_ck ride the string slot so no oracle column is lost
    from .layout_queries import r76_lake_schema_evolution, r77_lake_branch_wap

    evolve = r76_lake_schema_evolution(spark, sf_dir).select(
        F.concat(F.lit("evolve_"), F.col("part")).alias("part"),
        F.col("g").alias("key"),
        F.col("sum_k").cast("string").alias("seg"),
        F.col("n").cast("long").alias("nat"),
        F.lit(None).cast("date").alias("vf"),
        F.lit(None).cast("date").alias("vt"),
        F.col("total").cast("double").alias("val"),
    )
    wap = r77_lake_branch_wap(spark, sf_dir).select(
        F.concat(F.lit("wap_"), F.col("part")).alias("part"),
        F.col("min_ck").alias("key"),
        F.col("max_ck").cast("string").alias("seg"),
        F.col("n").cast("long").alias("nat"),
        F.lit(None).cast("date").alias("vf"),
        F.lit(None).cast("date").alias("vt"),
        F.col("sum_pc").cast("double").alias("val"),
    )
    # 'branchdml_*' (round 14): DML-on-branches under the driver hash
    # — same single-source-of-truth pattern, calling the r79 registry
    # query and re-shaping its tagged output
    from .layout_queries import r79_lake_branch_dml

    branchdml = r79_lake_branch_dml(spark, sf_dir).select(
        F.concat(F.lit("branchdml_"), F.col("part")).alias("part"),
        F.col("min_ck").alias("key"),
        F.col("max_ck").cast("string").alias("seg"),
        F.col("n").cast("long").alias("nat"),
        F.lit(None).cast("date").alias("vf"),
        F.lit(None).cast("date").alias("vt"),
        F.col("sum_pc").cast("double").alias("val"),
    )
    # 'cmap_*' (round 14): COLUMN MAPPING under the driver hash — the
    # r82 flagship (drop -> name REUSE under a fresh physical name ->
    # pure-metadata rename -> pruned DML through the mapping),
    # re-shaped with the reuse-isolation counters (n_tag / sum_tag)
    # folded into the hashed string column: a single dead-generation
    # value leaking into the live column breaks the hash
    from .layout_queries import r82_lake_column_mapping

    cmap = r82_lake_column_mapping(spark, sf_dir).select(
        F.concat(F.lit("cmap_"), F.col("part")).alias("part"),
        F.col("min_ck").alias("key"),
        F.concat_ws(
            ":",
            F.col("max_ck").cast("string"),
            F.col("n_tag").cast("string"),
            F.coalesce(F.col("sum_tag"), F.lit(-1)).cast("string"),
        ).alias("seg"),
        F.col("n").cast("long").alias("nat"),
        F.lit(None).cast("date").alias("vf"),
        F.lit(None).cast("date").alias("vt"),
        F.col("sum_price").cast("double").alias("val"),
    )
    return (
        scd2.unionByName(layering)
        .unionByName(lake_m)
        .unionByName(evolve)
        .unionByName(wap)
        .unionByName(branchdml)
        .unionByName(cmap)
        .orderBy("part", "key", "vf")
    )


# ---------------------------------------------------------------------------
# R00 — ORC lake format round-trip (S-family format coverage beyond
#        the reference's CSV/JSON/parquet): events written as
#        date-partitioned ORC via the same write_partitioned sink
#        (fmt="orc"), read back, aggregated. The oracle aggregates the
#        parquet source directly — the round-trip must be lossless.
#        ORC carries the same columnar pushdown/pruning contract as
#        parquet in Spark; at 100 TB the choice is interop, not plan
#        shape.
# ---------------------------------------------------------------------------

_R00_SQL = """
SELECT event_type, COUNT(*) AS n, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type ORDER BY event_type
"""


@query("r00_orc_roundtrip", oracle=_R00_SQL, covers="S8,S3,A2,A3")
def r00_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = _scratch(sf_dir, "r00_events_orc")
    write_partitioned(events, path, ["event_date"], fmt="orc")
    back = spark.read.orc(path)
    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# R02 — incremental aggregation through a persisted partial-rollup
#        store: daily (event_date, event_type) partials materialize
#        once; the monthly answer combines PARTIALS (sum-of-sums in the
#        exact decimal domain — order-free, so partial-of-partials is
#        bit-identical to aggregating the facts). The oracle aggregates
#        the raw facts directly; matching it proves the incremental
#        path is lossless. Late-arriving data rewrites one partition
#        dir, never the fact table.
# ---------------------------------------------------------------------------

_R02_SQL = """
SELECT CAST(date_trunc('month', ts) AS DATE) AS month, event_type,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("r02_rollup_store", oracle=_R02_SQL, covers="S8,A2,S12")
def r02_rollup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.warehouse import build_rollup_store, rollup_from_store

    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = _scratch(sf_dir, "r02_rollup")
    build_rollup_store(events, path, "event_date", ["event_type"], "value")
    monthly = rollup_from_store(
        spark, path, [F.trunc("event_date", "month").alias("month"), F.col("event_type")]
    )
    return monthly.orderBy("month", "event_type")


# ---------------------------------------------------------------------------
# R08 — schema evolution across parquet batches: batch 'a' was written
#        before s_acctbal existed; batch 'b' carries it. The merged
#        read must surface the union schema with NULLs for the old
#        files — Spark's default single-footer pick would make the
#        column's existence depend on which file wins.
# ---------------------------------------------------------------------------

_R08_SQL = """
SELECT s_suppkey, s_name, CAST(NULL AS DOUBLE) AS s_acctbal, 'a' AS batch FROM supplier
UNION ALL
SELECT s_suppkey, s_name, s_acctbal, 'b' AS batch FROM supplier
ORDER BY batch, s_suppkey
"""


@query("r08_schema_evolution", oracle=_R08_SQL, covers="S3,S8,O9")
def r08_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import read_parquet_evolved

    path = _scratch(sf_dir, "r08_evolving")
    supplier = load_table(spark, sf_dir, "supplier")
    supplier.select("s_suppkey", "s_name").write.mode("overwrite").parquet(
        os.path.join(path, "batch=a")
    )
    supplier.select("s_suppkey", "s_name", "s_acctbal").write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "batch=b"))
    merged = read_parquet_evolved(spark, path)
    return merged.select("s_suppkey", "s_name", "s_acctbal", "batch").orderBy(
        "batch", "s_suppkey"
    )


# ---------------------------------------------------------------------------
# R09 — compressed JSONL round-trip (the training-corpus wire format:
#        one JSON object per line, gzip per file). Write documents as
#        gzipped JSONL, scan it back with an explicit schema; the hash
#        gate proves the codec + text round-trip is lossless. Gzip
#        files are NOT splittable — one file = one task — so the write
#        keeps Spark's natural many-files layout (parallelism survives
#        as file-level, the lake norm for .jsonl.gz corpora).
# ---------------------------------------------------------------------------

_R09_SQL = """
SELECT doc_id, source, n_chars, text FROM documents ORDER BY doc_id
"""


@query("r09_compressed_jsonl", oracle=_R09_SQL, covers="S2,S10,O9")
def r09_compressed_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import read_json

    path = _scratch(sf_dir, "r09_jsonl_gz")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    docs.write.mode("overwrite").option("compression", "gzip").json(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    back = read_json(spark, path, schema)
    return back.select("doc_id", "source", "n_chars", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# R14 — media header parse round-trip (operators/multimodal.py): REAL
#        container bytes (PNG/JPEG/GIF/WAV) synthesized per doc_id,
#        parsed back by the stdlib header sniffer; the oracle recomputes
#        the id->metadata derivation directly, so any parse defect on
#        actual bytes is a hash mismatch. Binary never leaves the
#        executors; two narrow mapInPandas, no shuffle.
# ---------------------------------------------------------------------------

_R14_SQL = """
SELECT doc_id,
       CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
                       WHEN 2 THEN 'image/gif' ELSE 'audio/wav' END AS content_type,
       CASE doc_id % 4 WHEN 0 THEN CAST(doc_id % 640 + 1 AS INT)
                       WHEN 1 THEN CAST(doc_id % 1920 + 1 AS INT)
                       WHEN 2 THEN CAST(doc_id % 320 + 1 AS INT) END AS width,
       CASE doc_id % 4 WHEN 0 THEN CAST(doc_id % 480 + 1 AS INT)
                       WHEN 1 THEN CAST(doc_id % 1080 + 1 AS INT)
                       WHEN 2 THEN CAST(doc_id % 200 + 1 AS INT) END AS height,
       CASE WHEN doc_id % 4 = 3 THEN CAST(8000 + (doc_id % 8) * 1000 AS INT) END AS sample_rate,
       CASE WHEN doc_id % 4 = 3 THEN CAST(1 + doc_id % 2 AS INT) END AS channels,
       CASE WHEN doc_id % 4 = 3
            THEN CAST((1000 + doc_id % 500) * 1000 // (8000 + (doc_id % 8) * 1000) AS BIGINT)
       END AS duration_ms
FROM documents
WHERE doc_id < 200
ORDER BY doc_id
"""


@query("r14_media_header_parse", oracle=_R14_SQL, covers="multimodal:headers,U2,P1")
def r14_media_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate real PNG/JPEG/GIF/WAV containers, parse their headers
    back with the stdlib sniffer, emit the typed metadata."""
    from ..operators.multimodal import parse_media_meta, synth_media_payloads

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    parsed = parse_media_meta(synth_media_payloads(docs))
    return parsed.select(
        "doc_id",
        F.col("media_meta.content_type").alias("content_type"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.col("media_meta.sample_rate").alias("sample_rate"),
        F.col("media_meta.channels").alias("channels"),
        F.col("media_meta.duration_ms").alias("duration_ms"),
    ).orderBy("doc_id")


@query("r16_sketch_rollup_store", oracle=None, covers="sketch:hll_store,S8,A4,A2")
def r16_sketch_rollup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user rollup from the persisted HLL sketch store: raw
    events collapse to one 16 KB sketch per (day, event_type) at ingest;
    the per-type rollup unions the store — raw data untouched at query
    time. Rows-only (Datasketches binaries are engine-specific); the
    estimate/replay/pruning contract is pinned in
    tests/test_sketch_store.py."""
    from ..operators.sketch import build_sketch_store, rollup_estimate

    path = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r16_sketch_store"
    )
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    build_sketch_store(events, "day", ["event_type"], "user_id", path)
    return rollup_estimate(spark, path, ["event_type"]).orderBy("event_type")


# ---------------------------------------------------------------------------
# R19 — versioned dataset store round-trip (sources/writers.py
#        versioned_write/read_version): two releases committed, both
#        read back — the current via the pointer, the old via time
#        travel — and audited against the source table. A lost row,
#        stale pointer, or cross-version bleed breaks the hash.
# ---------------------------------------------------------------------------

_R19_SQL = """
SELECT 'v1' AS release, COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
UNION ALL
SELECT 'current', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
FROM orders
ORDER BY release
"""


@query("r19_versioned_store", oracle=_R19_SQL, covers="S8,S12,P3,A2")
def r19_versioned_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.writers import _fs_path, read_version, versioned_write

    path = _scratch(sf_dir, "r19_versioned_orders")
    # rebuild the store from scratch each call (deterministic reruns)
    fs, hpath, _ = _fs_path(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    v1 = versioned_write(orders.filter(F.col("o_orderdate") < F.lit("1996-01-01")), path)
    versioned_write(orders, path)
    agg = lambda df, tag: df.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    ).select(F.lit(tag).alias("release"), "n_orders", "key_sum")
    return (
        agg(read_version(spark, path, v1), "v1")
        .unionByName(agg(read_version(spark, path), "current"))
        .orderBy("release")
    )


# ---------------------------------------------------------------------------
# R24 — CDC changelog apply (sources/warehouse.py apply_changelog):
#        base snapshot + (key, seq, op, attrs) log -> latest state.
#        The synthetic log updates every 10th customer (two competing
#        updates — the higher seq must win), deletes every 25th, and
#        inserts fresh keys; the oracle reconstructs the same final
#        state with window SQL.
# ---------------------------------------------------------------------------

_R24_SQL = """
WITH log AS (
  SELECT c_custkey, 1 AS seq, 'U' AS op, 'STALE' AS c_mktsegment FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, 2, 'U', 'MOVED' FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, 3, 'D', c_mktsegment FROM customer WHERE c_custkey % 25 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 1, 'I', 'FRESH' FROM customer WHERE c_custkey % 50 = 0
),
latest AS (
  SELECT * FROM (
    SELECT log.*, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn FROM log
  ) WHERE rn = 1
),
final AS (
  SELECT c.c_custkey, c.c_mktsegment
  FROM customer c LEFT JOIN latest l ON c.c_custkey = l.c_custkey
  WHERE l.c_custkey IS NULL
  UNION ALL
  SELECT c_custkey, c_mktsegment FROM latest WHERE op <> 'D'
)
SELECT c_mktsegment, COUNT(*) AS n_keys, CAST(SUM(c_custkey) AS BIGINT) AS key_sum
FROM final
GROUP BY 1
ORDER BY 1
"""


@query("r24_cdc_apply", oracle=_R24_SQL, covers="S12,J5,O7,A2")
def r24_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.warehouse import apply_changelog

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    def slice_(mod, seq, op, seg=None, key_shift=0):
        d = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % mod == 0)
        return d.select(
            (F.col("c_custkey") + key_shift).alias("c_custkey"),
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
            (F.lit(seg) if seg else F.col("c_mktsegment")).alias("c_mktsegment"),
        )

    log = (
        slice_(10, 1, "U", "STALE")
        .unionByName(slice_(10, 2, "U", "MOVED"))
        .unionByName(slice_(25, 3, "D"))
        .unionByName(slice_(50, 1, "I", "FRESH", key_shift=1_000_000))
    )
    final = apply_changelog(cust, log, ["c_custkey"], "seq")
    return (
        final.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c_custkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# R25 — custom Python DataSource (Spark 4 pyspark.sql.datasource): the
#        RSS feed family as a REAL pluggable `spark.read.format("rss")`
#        source — one partition per feed file, parsed executor-side.
#        Two deterministic feed files are materialized under scratch;
#        the oracle states the expected parse as literals (the same
#        golden-output contract the classic q22 rss branch uses).
# ---------------------------------------------------------------------------

_R25_FEEDS = {
    "feed_a.xml": """<?xml version="1.0"?><rss version="2.0"><channel>
<item><title><![CDATA[Yankees win opener]]></title><link>https://ex.com/a1</link>
<pubDate>Thu, 28 Mar 2024 14:00:00 GMT</pubDate></item>
<item><title>Padres walk off</title><link>https://ex.com/a2</link>
<pubDate>Thu, 28 Mar 2024 23:45:10 GMT</pubDate></item>
</channel></rss>""",
    "feed_b.xml": """<?xml version="1.0"?><rss version="2.0"><channel>
<item><title>Trade rumors roundup</title><link>https://ex.com/b1</link>
<pubDate>Fri, 29 Mar 2024 08:15:00 GMT</pubDate></item>
</channel></rss>""",
}

_R25_SQL = """
SELECT link, title, CAST(published_ts AS TIMESTAMP) AS published_ts, feed_file
FROM (VALUES
  ('https://ex.com/a1', 'Yankees win opener',   '2024-03-28 14:00:00', 'feed_a.xml'),
  ('https://ex.com/a2', 'Padres walk off',      '2024-03-28 23:45:10', 'feed_a.xml'),
  ('https://ex.com/b1', 'Trade rumors roundup', '2024-03-29 08:15:00', 'feed_b.xml')
) AS t(link, title, published_ts, feed_file)
ORDER BY link
"""


@query("r25_python_datasource", oracle=_R25_SQL, covers="S5,S4,U2,T9")
def r25_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.pydatasource import RssDataSource

    feed_dir = _scratch(sf_dir, "r25_feeds")
    os.makedirs(feed_dir, exist_ok=True)
    for name, xml in _R25_FEEDS.items():
        with open(os.path.join(feed_dir, name), "w", encoding="utf-8") as fh:
            fh.write(xml)
    # idempotent per session; re-registering the same source is allowed
    spark.dataSource.register(RssDataSource)
    return spark.read.format("rss").load(feed_dir).orderBy("link")


@query("r34_bloom_seen_store", oracle=None, covers="bloom:store,P3,A2")
def r34_bloom_seen_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest membership gate from the persisted Bloom seen-keys store:
    even-doc texts are 'yesterday's corpus' (one bitmap, m/8 bytes
    total); today's full scan splits into definitely-new vs maybe-seen
    with one narrow filter — no join against history, no history scan.
    Every even doc must land in maybe_seen (no false negatives); odd
    docs land in new minus the ~fpp collisions. Rows-only (xxhash64 is
    engine-specific); the gate contract is pinned in
    tests/test_bloom_store.py."""
    from ..operators.bloomstore import bloom_store_filter, build_bloom_store

    path = os.path.join(
        "/tmp/spark_graft_io", os.path.basename(sf_dir.rstrip("/")), "r34_bloom_store"
    )
    docs = load_table(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    build_bloom_store(seen, ["text"], path, expected_items=4 * seen.count(), mode="overwrite")
    new = bloom_store_filter(docs, ["text"], path, keep="new")
    maybe = bloom_store_filter(docs, ["text"], path, keep="maybe_seen")
    u = new.withColumn("gate", F.lit("new")).unionByName(
        maybe.withColumn("gate", F.lit("maybe_seen"))
    )
    return (
        u.groupBy("gate")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("doc_id") % 2 == 0).cast("bigint")).alias("n_even"),
        )
        .orderBy("gate")
    )


# ---------------------------------------------------------------------------
# Q08 (ex-r57, rotated into the driver window round 10) — incremental
#        view maintenance WITH RETRACTIONS: the
#        rollup store (r02) maintained from a CDC changelog — deletes
#        retract partials, updates net to value deltas, group/partition
#        MOVES retract-and-add, inserts may create NEW partitions —
#        cost O(changes + touched partition partials), never O(facts).
#        The oracle aggregates the CDC-applied facts directly, so the
#        maintained store must stay bit-identical to a rebuild.
# ---------------------------------------------------------------------------

_R57_SQL = """
WITH f AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS y, o_orderpriority AS pri,
         o_totalprice AS v, o_custkey % 50 AS m
  FROM orders
),
applied AS (
  SELECT y, pri, v FROM f WHERE m NOT IN (0, 1, 2)
  UNION ALL
  SELECT y, pri, v + 100 FROM f WHERE m = 1
  UNION ALL
  SELECT y, 'X-MOVED', v FROM f WHERE m = 2
  UNION ALL
  SELECT 2024, 'Z-NEW', 1000.50 FROM f WHERE m = 3
)
SELECT y, pri, COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(v AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
FROM applied
GROUP BY 1, 2
ORDER BY 1, 2
"""


@query("q08_rollup_cdc_maintenance", oracle=_R57_SQL, covers="S12,A2,I8,J3")
def q08_rollup_cdc_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.warehouse import build_rollup_store, rollup_from_store, update_rollup_store_cdc

    path = _scratch(sf_dir, "r57_rollup")
    f = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("y"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("v"),
        (F.col("o_custkey") % 50).alias("m"),
    )
    build_rollup_store(f, path, "y", ["pri"], "v")
    nul_s, nul_i, nul_d = (
        F.lit(None).cast("string"),
        F.lit(None).cast("int"),
        F.lit(None).cast("double"),
    )
    deletes = f.filter(F.col("m") == 0).select(
        F.lit("D").alias("op"), nul_i.alias("y"), nul_s.alias("pri"), nul_d.alias("v"),
        F.col("y").alias("old_y"), F.col("pri").alias("old_pri"), F.col("v").alias("old_v"),
    )
    bumps = f.filter(F.col("m") == 1).select(
        F.lit("U").alias("op"), "y", "pri", (F.col("v") + F.lit(100.0)).alias("v"),
        F.col("y").alias("old_y"), F.col("pri").alias("old_pri"), F.col("v").alias("old_v"),
    )
    moves = f.filter(F.col("m") == 2).select(
        F.lit("U").alias("op"), "y", F.lit("X-MOVED").alias("pri"), "v",
        F.col("y").alias("old_y"), F.col("pri").alias("old_pri"), F.col("v").alias("old_v"),
    )
    inserts = f.filter(F.col("m") == 3).select(
        F.lit("I").alias("op"), F.lit(2024).alias("y"), F.lit("Z-NEW").alias("pri"),
        F.lit(1000.50).alias("v"),
        nul_i.alias("old_y"), nul_s.alias("old_pri"), nul_d.alias("old_v"),
    )
    changes = deletes.unionByName(bumps).unionByName(moves).unionByName(inserts)
    update_rollup_store_cdc(spark, path, changes, "y", ["pri"], "v")
    return rollup_from_store(spark, path, ["y", "pri"]).select(
        "y", "pri", "n", "total"
    ).orderBy("y", "pri")
