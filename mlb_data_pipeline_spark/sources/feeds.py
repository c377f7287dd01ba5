"""External-feed sources (SURVEY §2.1 S4-S6, S9).

The reference fetches these over HTTP (MLB Stats API
mlb_schedule_to_gcs.py:33-49, RSS feedparser mlb_pipeline_dag.py:43-59,
ElementTree variant mlb_agent_framework_dag.py:51-69, BeautifulSoup
scrape pipeline.py:24-38). The engine splits each into:

* a driver-side FETCH behind an injectable ``fetcher`` callable (tests
  pass a stub; production passes urllib/requests) — network never
  happens inside an operator or a test;
* a DISTRIBUTED PARSE over the fetched payload column (from_json for
  API JSON, regex/ElementTree-in-pandas for XML/HTML).

S9 (binary file sink) mirrors the reference's mp3 upload layout
``podcasts/{kind}/{YYYYMMDD}/file`` (pipeline.py:327-345) with a
foreachPartition writer — executors write their partitions directly,
nothing funnels through the driver.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

Fetcher = Callable[[str], str]


# ------------------------------------------------------------------ S4: REST


def rest_json_source(spark: SparkSession, urls: list[str], fetcher: Fetcher) -> DataFrame:
    """GET each URL driver-side (small request lists — the reference
    fetches one schedule per day) and parallelize the raw payloads; all
    parsing happens distributed (readers.parse_schedule_payloads)."""
    rows = [(u, fetcher(u)) for u in urls]
    return local_frame(spark, rows, "url STRING, payload STRING")


# ------------------------------------------------------------------ S5: RSS


_RSS_ITEM_RE = re.compile(r"<item>(.*?)</item>", re.DOTALL)


def _rss_field(item: str, tag: str) -> str | None:
    m = re.search(rf"<{tag}>\s*(?:<!\[CDATA\[)?(.*?)(?:\]\]>)?\s*</{tag}>", item, re.DOTALL)
    return m.group(1).strip() if m else None


def rss_source(spark: SparkSession, feed_urls: list[str], fetcher: Fetcher) -> DataFrame:
    """RSS/XML feed -> (feed_url, link, title, published) rows. Fetch is
    driver-side per feed; item extraction is distributed over the
    payload column via mapInPandas (one feed document can carry
    thousands of items)."""
    raw = local_frame(spark, [(u, fetcher(u)) for u in feed_urls], "feed_url STRING, xml STRING")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                for item in _RSS_ITEM_RE.findall(row["xml"] or ""):
                    out.append(
                        {
                            "feed_url": row["feed_url"],
                            "link": _rss_field(item, "link"),
                            "title": _rss_field(item, "title"),
                            "published": _rss_field(item, "pubDate"),
                        }
                    )
            yield pd.DataFrame(out, columns=["feed_url", "link", "title", "published"])

    parsed = raw.mapInPandas(parse, "feed_url STRING, link STRING, title STRING, published STRING")
    # RFC822 pubDate; Spark 3+'s formatter rejects the EEE day-name
    # field, so strip the "Wed, " prefix and parse the rest. Day field is
    # "d" (1-2 digits): RFC 822 allows "9 Mar 2024", which "dd" rejects.
    cleaned = F.regexp_replace("published", r"^[A-Za-z]+,\s*", "")
    return parsed.withColumn("published_ts", F.to_timestamp(cleaned, "d MMM yyyy HH:mm:ss zzz"))


def todays_links(feed: DataFrame, today: str, fallback_n: int = 3) -> DataFrame:
    """The reference's selection rule (mlb_pipeline_dag.py:50-57): links
    published 'today', else the top-N most recent as fallback."""
    todays = feed.filter(F.to_date("published_ts") == F.lit(today))
    fallback = feed.orderBy(F.col("published_ts").desc_nulls_last()).limit(fallback_n)
    return todays if todays.limit(1).count() > 0 else fallback


# ------------------------------------------------------------------ S6: HTML


_H1_RE = r"(?s)<h1[^>]*>(.*?)</h1>"
_P_RE = r"(?s)<p[^>]*>(.*?)</p>"
_TAG_RE = r"<[^>]+>"


def scrape_articles(pages: DataFrame, url_col: str = "url", html_col: str = "html") -> DataFrame:
    """(url, html) -> (url, title, body) with the reference's rules:
    title = first <h1> (NULL when missing -> caller defaults 'Untitled',
    pipeline.py:31), body = ' '-join of <p> texts (pipeline.py:32).
    Pure JVM regex — no Python in the parse path; real-world HTML would
    swap in a BeautifulSoup mapInPandas behind the same signature."""
    title = F.regexp_extract(F.col(html_col), _H1_RE, 1)
    body_parts = F.regexp_extract_all(F.col(html_col), F.lit(_P_RE), 1)
    strip_tags = lambda c: F.trim(F.regexp_replace(c, _TAG_RE, ""))  # noqa: E731
    return pages.select(
        F.col(url_col).alias("url"),
        F.when(title == "", None).otherwise(strip_tags(title)).alias("title"),
        F.array_join(F.transform(body_parts, strip_tags), " ").alias("body"),
    )


# ------------------------------------------------------------------ S9: binary sink


def write_binary_files(
    df: DataFrame,
    root: str,
    kind_col: str = "kind",
    date_col: str = "dt",
    name_col: str = "file_name",
    payload_col: str = "payload",
) -> None:
    """Executor-side binary file writer with the reference's derived
    layout ``{root}/{kind}/{yyyyMMdd}/{name}`` (pipeline.py:330-340).
    foreachPartition: each executor writes its own rows; the driver
    never sees payload bytes. Works on any shared/posix mount locally;
    a cloud deployment swaps the open() for an object-store client."""
    layout = df.select(
        F.concat_ws(
            "/", F.lit(root), F.col(kind_col), F.date_format(F.col(date_col), "yyyyMMdd"), F.col(name_col)
        ).alias("path"),
        F.col(payload_col).alias("payload"),
    )

    def write_partition(rows) -> None:
        for row in rows:
            os.makedirs(os.path.dirname(row.path), exist_ok=True)
            with open(row.path, "wb") as f:
                f.write(bytes(row.payload or b""))

    layout.foreachPartition(write_partition)
