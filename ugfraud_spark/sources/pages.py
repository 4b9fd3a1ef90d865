"""Common-Crawl-style pages substrate (BASELINE.json input_hint):

    pages(url: string, warc_ts: timestamp, html: binary, text: string,
          lang: string)

Three pieces:

1. ``generate_pages``: deterministic, order-independent synthetic page
   generator (value = f(i, seed) only) with a Zipfian link-target
   distribution, so the derived graph has hub vertices — the skew shape
   the engine's salting/AQE handling is exercised against. Runs as a
   vectorized ``mapInPandas`` over ``spark.range`` (no per-row Python
   in the Spark sense: one pandas batch per partition).
2. ``extract_text_single`` / ``extract_links_single``: the *single-node
   reference extractor* — plain Python on bytes. The invariant required
   by input_hint is that the distributed Arrow UDF reproduces this
   **byte-identically per url** (verified in
   ``tests/test_pages.py`` via md5 join, the reference's S6 integrity
   pattern, ``helper.py:118-120``).
3. ``text_udf`` / ``links_udf``: vectorized ``pandas_udf`` versions of
   the same extraction, and ``pages_to_edges`` which explodes links and
   joins a url→long-id dim table (the typed replacement for the
   reference's string-prefixed id namespaces, ``SpEagle.py:250-263``).

At 10^12 documents: pages is an Iceberg/Parquet table partitioned by
crawl date; the url-dim join is a shuffle hash join on xxhash64(url)
(collision-free in practice at 2^64); extraction is embarrassingly
parallel Arrow batches.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MULT = 6364136223846793005  # LCG multiplier (Knuth MMIX)
INC = 1442695040888963407
MASK = (1 << 64) - 1

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _hash64(x: int) -> int:
    return ((x ^ (x >> 33)) * MULT + INC) & MASK


def _url(i: int, n_sites: int = 100) -> str:
    return f"https://site{i % n_sites}.example/p/{i}"


def _page_fields(i: int, n_pages: int, seed: int, n_links: int = 8,
                 zipf_s: float = 3.0) -> tuple[str, datetime, bytes, str, str]:
    """Pure function of (i, seed): order-independent generation."""
    h = _hash64(i * 2654435761 + seed)
    lang = "en" if h % 50 else "de"
    targets = []
    for k in range(n_links):
        u = (_hash64(i * 31 + k * 97 + seed * 131) % (1 << 52)) / float(1 << 52)
        t = int(n_pages * (u ** zipf_s))  # Zipf-ish: mass piles on low ids
        if t != i:
            targets.append(t)
    links = "".join(
        f'<a href="{_url(t)}">link {k}</a> ' for k, t in enumerate(targets)
    )
    title = f"Page {i} on site {i % 100}"
    body = (
        f"Deterministic body text for page {i}. "
        f"Token{h % 1000} token{(h >> 10) % 1000} token{(h >> 20) % 1000}. "
    ) * (1 + h % 3)
    html = (
        f"<html><head><title>{title}</title></head>"
        f"<body><p>{body}</p>{links}</body></html>"
    ).encode("utf-8")
    ts = datetime.fromtimestamp(_EPOCH.timestamp() + i, tz=timezone.utc)
    text = extract_text_single(html)
    return _url(i), ts, html, text, lang


def generate_pages(spark: SparkSession, n_pages: int, seed: int = 42,
                   partitions: int | None = None) -> DataFrame:
    rng = spark.range(0, n_pages, numPartitions=partitions)
    n, s = n_pages, seed

    def gen(batches):
        for pdf in batches:
            rows = [_page_fields(int(i), n, s) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return rng.mapInPandas(gen, schema=PAGE_SCHEMA)


# ------------------------------------------------------- reference extractor

_TAG_RE = re.compile(rb"<[^>]+>")
_WS_RE = re.compile(rb"\s+")
_HREF_RE = re.compile(rb'href="([^"]+)"')


def extract_text_single(html: bytes) -> str:
    """Single-node reference extraction: strip tags, collapse whitespace.
    The Arrow UDF must reproduce this byte-identically per url."""
    no_tags = _TAG_RE.sub(b" ", bytes(html))
    collapsed = _WS_RE.sub(b" ", no_tags).strip()
    return collapsed.decode("utf-8")


def extract_links_single(html: bytes) -> list[str]:
    return [m.decode("utf-8") for m in _HREF_RE.findall(bytes(html))]


# ------------------------------------------------------------ Arrow UDFs

@F.pandas_udf(T.StringType())
def text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_single)


@F.pandas_udf(T.ArrayType(T.StringType()))
def links_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_links_single)


# --------------------------------------------------------- pages → graph

def url_ids(pages: DataFrame) -> DataFrame:
    """url-dim table url → long id via xxhash64 (deterministic, dense
    enough at any scale; collisions ~ birthday(2^64))."""
    return pages.select("url", F.xxhash64("url").alias("id")).distinct()


def pages_to_edges(pages: DataFrame) -> DataFrame:
    """pages → edges(src, dst, weight): extract hrefs with the Arrow UDF,
    explode, self-join against the url dim, dedup multi-links
    (reference ``Fraudar.py:19`` M>0 binarization)."""
    dim = url_ids(pages)
    links = (
        pages.select("url", F.explode(links_udf(F.col("html"))).alias("dst_url"))
        .where(F.col("url") != F.col("dst_url"))
    )
    return (
        links.join(dim.withColumnRenamed("id", "src"), "url")
        .join(
            dim.withColumnRenamed("url", "dst_url").withColumnRenamed("id", "dst"),
            "dst_url",
        )
        .select("src", "dst")
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
