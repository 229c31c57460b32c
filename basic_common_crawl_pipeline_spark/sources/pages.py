"""Deterministic synthetic Common-Crawl-style pages corpus
(SURVEY.md §7 Step 0; shape mandated by BASELINE.json input_hint).

Produces the ``pages`` table
``(url string, warc_ts timestamp, html binary, text string, lang string,
status int, mime string, digest string)`` plus ``seeds`` and ``robots``
fixtures (FIXTURES.md §1-3):

- multi-host link graph embedded in the html (``<a href>``), with both
  same-host and cross-host edges, so frontier expansion has real work;
- skewed host sizes — host 0 holds ~40% of pages — to exercise the
  salted politeness/shuffle paths;
- rows with invalid UTF-8, ``<script>/<style>/<table>/<!-- -->`` noise
  and duplicated blocks to exercise the extractor pins;
- non-``eng`` languages, null languages and non-200 statuses to
  exercise filters F1-F3;
- dead links (URLs not in the corpus) to exercise the index-miss path.

Everything is seeded ``random.Random``; no wall-clock anywhere. The
``text`` column is the golden extraction (computed with the same
``extract_text`` the engine uses — FIXTURES.md §1).
"""

from __future__ import annotations

import datetime
import hashlib
import random
from dataclasses import dataclass, field

from ..functions.extract import extract_text

_WORDS = (
    "crawl web page index fetch parse link host text data wave spark "
    "frontier queue batch filter extract token corpus engine shard"
).split()

_BASE_TS = datetime.datetime(2024, 7, 22, 12, 0, 0)

_LANG_CHOICES = ["eng", "eng", "ind,eng", "eng,deu", "deu", "fra", None, "zho"]
_STATUS_CHOICES = [200, 200, 200, 200, 200, 200, 301, 404]


@dataclass
class SynthCorpus:
    pages: list[dict] = field(default_factory=list)
    seeds: list[dict] = field(default_factory=list)
    robots: list[dict] = field(default_factory=list)


def _host_of_index(i: int, n_pages: int, n_hosts: int, rng: random.Random) -> int:
    # Skew: ~40% of pages on host 0, remainder spread by a decaying weight.
    if i < int(0.4 * n_pages):
        return 0
    return 1 + rng.randrange(n_hosts - 1) if n_hosts > 1 else 0


def synth_corpus(
    n_pages: int = 400,
    n_hosts: int = 8,
    links_per_page: int = 8,
    seed: int = 42,
    n_seeds: int = 6,
) -> SynthCorpus:
    rng = random.Random(seed)
    corpus = SynthCorpus()

    hosts = [f"host{i}.test" for i in range(n_hosts)]
    host_of_page = [_host_of_index(i, n_pages, n_hosts, rng) for i in range(n_pages)]
    urls = [
        f"http://{hosts[host_of_page[i]]}/page/{i}" for i in range(n_pages)
    ]

    for i in range(n_pages):
        host_idx = host_of_page[i]
        lang = rng.choice(_LANG_CHOICES)
        status = rng.choice(_STATUS_CHOICES)
        n_links = rng.randrange(2, links_per_page + 1)
        targets = [urls[rng.randrange(n_pages)] for _ in range(n_links)]
        if rng.random() < 0.15:  # dead link → index-miss path
            targets.append(f"http://{hosts[host_idx]}/missing/{i}")
        if rng.random() < 0.05:  # off-corpus host
            targets.append(f"http://nowhere{i}.invalid/x")

        paragraphs = [
            " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(5, 15)))
            for _ in range(rng.randrange(2, 6))
        ]
        if rng.random() < 0.2:  # duplicate block → extractor dedup pin
            paragraphs.append(paragraphs[0])

        body_parts = [f"<h1>Page {i} on {hosts[host_idx]}</h1>"]
        for p in paragraphs:
            body_parts.append(f"<p>{p}</p>")
        for t in targets:
            body_parts.append(f'<p><a href="{t}">link to {t}</a></p>')
        if rng.random() < 0.25:
            body_parts.append("<script>var tracker = 'drop me';</script>")
        if rng.random() < 0.2:
            body_parts.append("<style>p {margin: 0}</style>")
        if rng.random() < 0.2:
            body_parts.append("<table><tr><td>nav table</td></tr></table>")
        if rng.random() < 0.15:
            body_parts.append("<!-- synthetic comment -->")
        html = (
            f"<html><head><title>p{i}</title></head><body>"
            + "".join(body_parts)
            + "</body></html>"
        ).encode("utf-8")
        if rng.random() < 0.05:  # invalid UTF-8 → lossy-decode pin
            html += b"<p>tail \xff\xfe bytes</p>"

        ts = _BASE_TS + datetime.timedelta(seconds=i * 37 % 86400)
        corpus.pages.append(
            {
                "url": urls[i],
                "warc_ts": ts,
                "html": html,
                "text": extract_text(html),
                "lang": lang,
                "status": status,
                "mime": "text/html",
                "digest": hashlib.sha1(html).hexdigest(),
            }
        )

    for i in range(n_hosts):
        corpus.robots.append(
            {
                "host": hosts[i],
                # host0 is both the biggest and the slowest → max skew stress
                "crawl_delay": 2.0 if i == 0 else 1.0,
                "disallow": ["/private/", "/page/7"] if i % 3 == 0 else [],
            }
        )

    seed_urls = [urls[rng.randrange(n_pages)] for _ in range(n_seeds - 1)]
    seed_urls.append("http://unknown-seed.invalid/start")  # fetch-miss seed
    for j, u in enumerate(dict.fromkeys(seed_urls)):
        corpus.seeds.append({"url": u, "priority": 0, "seed_rank": j})
    return corpus


def corpus_to_spark(spark, corpus: SynthCorpus):
    """Materialize the corpus as (pages, seeds, robots) DataFrames."""
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    pages_schema = StructType(
        [
            StructField("url", StringType()),
            StructField("warc_ts", TimestampType()),
            StructField("html", BinaryType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("status", IntegerType()),
            StructField("mime", StringType()),
            StructField("digest", StringType()),
        ]
    )
    seeds_schema = StructType(
        [
            StructField("url", StringType()),
            StructField("priority", IntegerType()),
            StructField("seed_rank", LongType()),
        ]
    )
    robots_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("crawl_delay", DoubleType()),
            StructField("disallow", ArrayType(StringType())),
        ]
    )
    pages = spark.createDataFrame(
        [tuple(p[f.name] for f in pages_schema.fields) for p in corpus.pages],
        pages_schema,
    )
    seeds = _arrow_frame(spark, corpus.seeds, seeds_schema)
    robots = _arrow_frame(spark, corpus.robots, robots_schema)
    return pages, seeds, robots


def _arrow_frame(spark, rows: list[dict], schema):
    """``rows`` as a DataFrame built through Arrow: a ``LocalRelation``,
    read without a Python task (a list-built frame is a ``PythonRDD``,
    one Python stage wherever it is scanned)."""
    import pyarrow as pa

    table = pa.table({f.name: [r[f.name] for r in rows] for f in schema.fields})
    return spark.createDataFrame(table, schema)


def latest_capture(
    pages,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    tiebreak_cols: tuple = (),
):
    """One row per url: the most recent capture (max ts; pass
    ``tiebreak_cols`` — e.g. a digest — to make same-timestamp captures
    deterministic).

    Real CDX indexes hold multiple captures per URL; the crawl engine's
    wave joins require uniqueness (run_crawl precondition). This is the
    ingest-side dedup: ONE shuffle once, instead of a per-wave distinct —
    the Readme's own "keep the most recent version" intent
    (/root/reference/Readme.md:24), which the reference leaves
    unimplemented."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in tiebreak_cols]
    w = Window.partitionBy(url_col).orderBy(*order)
    return (
        pages.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
