"""CDX / cluster.idx parsing and eligibility filtering as pure DataFrame
transforms (operators P1-P3, F1-F3, F5-F6 of SURVEY.md §2).

Everything here is built-in `pyspark.sql.functions` only — whole-stage
codegen end to end, no Python in the hot path. Each transform cites the
reference behavior it reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# CDX JSON metadata: all values arrive as JSON *strings*
# (/root/reference/Readme.md:42-52; rust/src/commoncrawl.rs:19-30 coerces
# status/length/offset to ints afterwards — we cast post-parse, P3).
CDX_METADATA_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("status", StringType()),
        StructField("length", StringType()),
        StructField("offset", StringType()),
        StructField("filename", StringType()),
        StructField("languages", StringType()),
        StructField("mime", StringType()),
        StructField("mime-detected", StringType()),
        StructField("digest", StringType()),
        StructField("redirect", StringType()),
        StructField("charset", StringType()),
        StructField("encoding", StringType()),
    ]
)


def parse_cluster_idx(lines: DataFrame, col: str = "line") -> DataFrame:
    """P1: parse cluster.idx lines into (surt_url, timestamp, cdx_filename,
    cdx_offset, cdx_length, cluster_id).

    Reference: whitespace-split into 6 fields, drop short lines
    (rust/src/commoncrawl.rs:102-112 returns None when fields are
    missing; golang/batcher/batcher.go:63-80). The physical file is
    5-cell TSV whose first cell is ``surt<space>timestamp``
    (python/commoncrawl.py:53-55) — splitting on any whitespace handles
    both layouts, like the Rust ``split_whitespace``.
    """
    parts = F.split(F.col(col), r"\s+")
    return (
        lines.select(parts.alias("p"))
        .filter(F.size("p") >= 6)
        .select(
            F.col("p").getItem(0).alias("surt_url"),
            F.col("p").getItem(1).alias("timestamp"),
            F.col("p").getItem(2).alias("cdx_filename"),
            F.col("p").getItem(3).cast("long").alias("cdx_offset"),
            F.col("p").getItem(4).cast("long").alias("cdx_length"),
            F.col("p").getItem(5).cast("long").alias("cluster_id"),
        )
    )


def parse_cdx_lines(
    lines: DataFrame, col: str = "line", spacejoin_semantics: bool = False
) -> DataFrame:
    """P2 + F5 + F6: parse raw CDX index lines.

    ``<surt> <ts> <json>`` split on the first two spaces — Rust
    ``splitn(3, ' ')`` semantics (rust/src/commoncrawl.rs:79-86), the
    canonical default. ``spacejoin_semantics=True`` reproduces the
    Python reference's parse bug-for-bug instead: it splits the WHOLE
    line on spaces and re-joins the JSON tokens with the empty string
    (``"".join(values[2:])``, python/batcher.py:58-59), which deletes
    every space INSIDE JSON string values (e.g. a mime of
    ``text/html; charset=utf-8`` comes out ``text/html;charset=utf-8``)
    — equivalent to stripping ``' '`` from the JSON slice, which is how
    it is expressed here.
    Blank lines dropped (F5: python/batcher.py:56-57); lines whose JSON
    fails to parse yield null metadata and are dropped (F6 — Go-tolerant
    semantics, golang/batcher/batcher.go:95-102, vs the Rust panic).
    """
    parts = F.split(F.col(col), " ", 3)
    json_part = parts.getItem(2)
    if spacejoin_semantics:
        json_part = F.regexp_replace(json_part, " ", "")
    return (
        lines.filter(F.col(col) != "")
        .filter(F.size(parts) >= 3)
        .select(
            parts.getItem(0).alias("surt_url"),
            parts.getItem(1).alias("timestamp"),
            F.from_json(json_part, CDX_METADATA_SCHEMA).alias("metadata"),
        )
        .filter(F.col("metadata").isNotNull() & F.col("metadata.url").isNotNull())
    )


def languages_array(languages: Column | str) -> Column:
    """`"ind,eng"` → array('ind','eng') with whitespace-trimmed tokens
    (Go canonical semantics: split on comma + TrimSpace,
    golang/batcher/batcher.go:110-123)."""
    col = F.col(languages) if isinstance(languages, str) else languages
    return F.transform(F.split(col, ","), lambda t: F.trim(t))


def eligible(status: str, languages: str, language: str = "eng") -> Column:
    """F1-F3 as one predicate: ``languages`` holds ``language`` as an
    exact comma-separated token and ``status`` is 200. A null
    ``languages`` is false; a null ``status`` is null, which a filter
    and a ``when`` both treat as false. ``eligible_filter`` and the
    crawl wave's classification (plans/wave.py step 4) both use it."""
    langs = F.col(languages)
    return (
        langs.isNotNull()
        & F.array_contains(languages_array(langs), language)
        & (F.col(status).cast("int") == 200)
    )


def eligible_filter(
    df: DataFrame,
    status_col: str = "metadata.status",
    languages_col: str = "metadata.languages",
    language: str = "eng",
    substring_semantics: bool = False,
) -> DataFrame:
    """F1+F2+F3 composite: keep rows with languages containing ``language``
    AND status == 200.

    Canonical = Go exact-token match after split-on-comma
    (golang/batcher/batcher.go:110-130, the most correct of the three
    divergent implementations per SURVEY.md §2.3 F1);
    ``substring_semantics=True`` reproduces the Rust/Python substring
    ``contains`` (rust/src/bin/batcher.rs:88-94, python/batcher.py:60-62).
    Null languages dropped either way (F3). Status compared as int
    (rust/src/bin/batcher.rs:90; Python/Go compare the string "200" —
    identical outcome for well-formed values).
    """
    if not substring_semantics:
        return df.filter(eligible(status_col, languages_col, language))
    langs = F.col(languages_col)
    status_pred = F.col(status_col).cast("int") == 200
    return df.filter(langs.isNotNull() & langs.contains(language) & status_pred)


def with_numeric_casts(df: DataFrame) -> DataFrame:
    """P3: string→number coercion of CDX metadata fields
    (rust/src/commoncrawl.rs:22-27; python/worker.py:21-22)."""
    return df.withColumn(
        "metadata",
        F.struct(
            F.col("metadata.url").alias("url"),
            F.col("metadata.status").cast("int").alias("status"),
            F.col("metadata.length").cast("long").alias("length"),
            F.col("metadata.offset").cast("long").alias("offset"),
            F.col("metadata.filename").alias("filename"),
            F.col("metadata.languages").alias("languages"),
            F.col("metadata.mime").alias("mime"),
            F.col("metadata.digest").alias("digest"),
        ),
    )
