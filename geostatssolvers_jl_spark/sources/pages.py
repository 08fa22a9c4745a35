"""The north-rule canonical input: Common-Crawl-style web pages.

``pages(url string, warc_ts timestamp, html binary, text string,
lang string)`` per BASELINE.json ``input_hint``.  This module provides

* the **bridge** from the driver's ``documents`` parquet to the pages
  schema (`pages_sql` — shared Spark/DuckDB dialect so the oracle runs the
  identical derivation);
* the deterministic **geocode**: a pure integer-arithmetic function of the
  *text bytes* (length + sampled code points), so the byte-identity
  invariant ("text byte-identical per url through every stage") is
  checkable end-to-end — any lossy round-trip of ``text`` changes the
  geocode and fails the oracle;
* a deterministic standalone **synthesizer** for scale testing.

At production scale the source is an Iceberg table partitioned by tile
prefix; in the sandbox the same DataFrames come from parquet.  Geometry
never leaves the column domain: ``lat``/``lon``/``cell`` are ordinary
double/bigint columns, so Catalyst prunes and pushes down as usual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import tiling

# -- deterministic geocode: pure function of the text column ---------------
# integer mixing on (length, first char, middle char) — identical results
# in Spark SQL, DuckDB, and any engine with exact BIGINT arithmetic.


def _mix_expr(text: str) -> str:
    ln = f"length({text})"
    c1 = f"ascii(substr({text}, 1, 1))"
    cm = f"ascii(substr({text}, 1 + CAST(floor({ln} / 2) AS INT), 1))"
    return f"(({ln} * 2654435761 + {c1} * 40503 + {cm} * 97 + 12345) % 4294967296)"


def lon_expr(text: str) -> str:
    return f"(CAST({_mix_expr(text)} % 360000 AS DOUBLE) / 1000.0 - 180.0)"


def lat_expr(text: str) -> str:
    # second mixing round decorrelates lat from lon
    inner = f"(({_mix_expr(text)} * 69069 + 1) % 4294967296)"
    return f"(CAST({inner} % 160000 AS DOUBLE) / 1000.0 - 80.0)"


# -- documents → pages bridge ----------------------------------------------


def pages_sql(docs_rel: str = "documents") -> str:
    """Shared-dialect derivation of the pages table from the ``documents``
    relation (doc_id, text, lang, source, n_chars).  ``warc_ts`` is carried
    as epoch seconds (``warc_epoch``) because timestamp literals/semantics
    diverge across engines; the Spark-side loader adds the real timestamp
    column on top."""
    return (
        "SELECT "
        "  'https://example.org/' || source || '/' || CAST(doc_id AS VARCHAR(20)) AS url, "
        "  1704067200 + doc_id AS warc_epoch, "
        "  text, lang, doc_id "
        f"FROM {docs_rel}"
    )


def geocoded_pages_sql(docs_rel: str = "documents", round_to: int = 6) -> str:
    """pages + deterministic geocode + text fingerprint (md5 hex — the
    byte-identity carrier)."""
    return (
        f"SELECT url, warc_epoch, lang, doc_id, "
        f"  round({lon_expr('text')}, {round_to}) AS lon, "
        f"  round({lat_expr('text')}, {round_to}) AS lat, "
        f"  md5(text) AS text_md5 "
        f"FROM ({pages_sql(docs_rel)}) _p"
    )


def load_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side pages table with full input_hint schema (timestamp +
    binary html) from the driver's documents parquet."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = spark.sql(pages_sql("{docs}"), docs=docs)
    return df.selectExpr(
        "url",
        "CAST(warc_epoch AS TIMESTAMP) AS warc_ts",
        "CAST(text AS BINARY) AS html",  # stand-in raw payload
        "text",
        "lang",
        "doc_id",
    )


def geocode(pages: DataFrame, res: int | None = None) -> DataFrame:
    """Attach lat/lon (pure function of text) and optionally a tile cell."""
    out = pages.selectExpr(
        "*",
        f"{lon_expr('text')} AS lon",
        f"{lat_expr('text')} AS lat",
        "md5(text) AS text_md5",
    )
    if res is not None:
        out = out.selectExpr("*", f"{tiling.cell_expr('lon', 'lat', res)} AS cell")
    return out


# -- standalone synthesizer (bench/scale tests) ----------------------------

_WORDS = (
    "the quick brown fox jumps over lazy dog while spark shuffles "
    "partitions across executors reading parquet tiles near rivers "
    "mountains cities valleys oceans deserts forests plains islands"
).split()


def synthesize_pages(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Deterministic pages table of n rows, built with pure SQL expressions
    (no Python row generation) so it scales to any n."""
    w = len(_WORDS)
    words_arr = "array(" + ", ".join(f"'{x}'" for x in _WORDS) + ")"
    text = (
        f"concat_ws(' ', "
        + ", ".join(
            f"element_at({words_arr}, 1 + CAST((id * {seed + i * 7919}) % {w} AS INT))"
            for i in range(12)
        )
        + ", CAST(id AS STRING))"
    )
    return (
        spark.range(n)
        .selectExpr(
            "concat('https://synth.example.org/p/', CAST(id AS STRING)) AS url",
            "CAST(1704067200 + id AS TIMESTAMP) AS warc_ts",
            f"CAST({text} AS BINARY) AS html",
            f"{text} AS text",
            "element_at(array('en','de','fr','es','pt'), 1 + CAST(id % 5 AS INT)) AS lang",
            "id AS doc_id",
        )
    )
