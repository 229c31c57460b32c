"""DataFrame ports of the reference's parser/filter unit tests
(SURVEY.md §5: rust/src/bin/batcher.rs:114-131, python/test_batcher.py,
python/commoncrawl.py:51-68)."""

from __future__ import annotations

import json

from basic_common_crawl_pipeline_spark.functions.cdx import (
    eligible,
    eligible_filter,
    parse_cdx_lines,
    parse_cluster_idx,
    with_numeric_casts,
)
from basic_common_crawl_pipeline_spark.sources.cluster_idx import read_cluster_idx

CLUSTER_IDX_LINES = [
    "0,100,22,165)/ 20240722120756\tcdx-00000.gz\t0\t188224\t1",
    "101,141,199,66)/robots.txt 20240714155331\tcdx-00000.gz\t188224\t178351\t2",
    "104,223,1,100)/ 20240714230020\tcdx-00000.gz\t366575\t178055\t3",
    "short line",
]


def _cdx_line(surt, ts, status, languages=None, url="https://example.com/"):
    meta = {
        "url": url,
        "mime": "text/html",
        "status": str(status),
        "digest": "SHA1FAKE",
        "length": "3122",
        "offset": "1048",
        "filename": "crawl-data/CC-MAIN-2024-30/segments/warc/x.warc.gz",
    }
    if languages is not None:
        meta["languages"] = languages
    return f"{surt} {ts} {json.dumps(meta)}"


def test_parse_cluster_idx(spark):
    # rust/src/bin/batcher.rs:123-131: 4 sample lines, short one dropped
    df = spark.createDataFrame([(l,) for l in CLUSTER_IDX_LINES], ["line"])
    rows = parse_cluster_idx(df).orderBy("cluster_id").collect()
    assert len(rows) == 3
    assert rows[0].cdx_filename == "cdx-00000.gz"
    assert rows[0].cdx_offset == 0 and rows[0].cdx_length == 188224
    assert rows[1].surt_url == "101,141,199,66)/robots.txt"
    assert [r.cluster_id for r in rows] == [1, 2, 3]


def test_read_cluster_idx_file(spark, tmp_path):
    # python/commoncrawl.py:51-68 test_can_read_index
    p = tmp_path / "cluster.idx"
    p.write_text("\n".join(CLUSTER_IDX_LINES[:3]) + "\n")
    rows = read_cluster_idx(spark, str(p)).orderBy("cluster_id").collect()
    assert [(r.cdx_offset, r.cdx_length) for r in rows] == [
        (0, 188224),
        (188224, 178351),
        (366575, 178055),
    ]


def test_parse_cdx_lines_and_space_preservation(spark):
    # rust/src/bin/batcher.rs:114-121: three lines parse to three entries.
    # JSON string values containing spaces must survive (the Python
    # reference's "".join bug is NOT reproduced — SURVEY.md §2.2 P2).
    lines = [
        _cdx_line("com,example)/", "20240722120756", 200, "eng",
                  url="https://example.com/a b"),
        _cdx_line("com,example)/x", "20240722120757", 301),
        _cdx_line("com,example)/y", "20240722120758", 200, "ind,eng"),
        "",  # F5: blank line dropped
        "garbage-no-json",  # F6: malformed dropped
        "a b {not json}",  # F6: JSON parse failure dropped
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["line"])
    rows = parse_cdx_lines(df).orderBy("timestamp").collect()
    assert len(rows) == 3
    assert rows[0].metadata.url == "https://example.com/a b"
    assert rows[0].surt_url == "com,example)/"
    assert rows[1].metadata.languages is None


def test_filter_non_english_documents(spark):
    # python/test_batcher.py:30-49 — non-eng and no-language rows dropped
    lines = [
        _cdx_line("com,a)/", "1", 200, "ind"),
        _cdx_line("com,b)/", "2", 200),
        _cdx_line("com,c)/", "3", 200, "eng"),
        _cdx_line("com,d)/", "4", 200, "ind,eng"),
        _cdx_line("com,e)/", "5", 200, " eng "),  # Go TrimSpace semantics
    ]
    df = parse_cdx_lines(spark.createDataFrame([(l,) for l in lines], ["line"]))
    kept = eligible_filter(df).select("surt_url").orderBy("surt_url").collect()
    assert [r.surt_url for r in kept] == ["com,c)/", "com,d)/", "com,e)/"]


def test_filter_non_200_documents(spark):
    # python/test_batcher.py:52-71 — status 301 dropped even when eng
    lines = [
        _cdx_line("com,a)/", "1", 301, "eng"),
        _cdx_line("com,b)/", "2", 404, "eng"),
        _cdx_line("com,c)/", "3", 200, "eng"),
    ]
    df = parse_cdx_lines(spark.createDataFrame([(l,) for l in lines], ["line"]))
    kept = eligible_filter(df).collect()
    assert len(kept) == 1 and kept[0].surt_url == "com,c)/"


def test_substring_vs_token_semantics(spark):
    # SURVEY.md §2.3 F1 divergence: Rust/Python substring-contains would
    # keep "bengali" for language "eng"; Go token semantics must not.
    lines = [_cdx_line("com,a)/", "1", 200, "beng")]
    df = parse_cdx_lines(spark.createDataFrame([(l,) for l in lines], ["line"]))
    assert eligible_filter(df).count() == 0
    assert eligible_filter(df, substring_semantics=True).count() == 1


def test_eligible_filters_and_classifies_alike(spark):
    """``eligible`` is one rule for both of its users: the rows
    ``eligible_filter`` keeps are exactly the rows a ``when(eligible)``
    classifies eligible (a null predicate falls through like false),
    and both equal the oracle's token rule (plans/oracle.py)."""
    from pyspark.sql import functions as F

    rows = [
        (i, status, lang)
        for i, (status, lang) in enumerate(
            (s, l)
            for s in (200, 404, None)
            for l in ("eng", "ind, eng", "eng-Latn", "", None)
        )
    ]
    df = spark.createDataFrame(rows, "id int, status int, lang string")
    kept = {r.id for r in eligible_filter(df, "status", "lang").collect()}
    classified = {
        r.id
        for r in df.select(
            "id",
            F.when(eligible("status", "lang"), F.lit("eligible"))
            .otherwise(F.lit("ineligible"))
            .alias("c"),
        ).collect()
        if r.c == "eligible"
    }
    want = {
        i for i, status, lang in rows
        if status == 200
        and lang is not None
        and "eng" in {t.strip() for t in lang.split(",")}
    }
    assert kept == classified == want == {0, 1}


def test_numeric_casts(spark):
    lines = [_cdx_line("com,a)/", "1", 200, "eng")]
    df = with_numeric_casts(
        parse_cdx_lines(spark.createDataFrame([(l,) for l in lines], ["line"]))
    )
    row = df.collect()[0]
    assert row.metadata.status == 200
    assert row.metadata.length == 3122 and row.metadata.offset == 1048


def test_publish_all_urls_batching_arithmetic(spark, tmp_path):
    """Port of the reference batcher's batching test
    (python/test_batcher.py:73-93 test_publish_all_urls): 3 chunks x 2
    eligible entries with batch_size=2 -> exactly 3 published batches;
    every row survives the queue round trip."""
    import glob

    from basic_common_crawl_pipeline_spark.streaming.queue_stream import (
        publish_batches,
    )

    rows = [
        (f"chunk{c}", f"https://x{c}{i}.example/p")
        for c in range(3)
        for i in range(2)
    ]
    df = spark.createDataFrame(rows, "chunk string, url string")
    qdir = str(tmp_path / "queue")
    publish_batches(df, qdir, batch_size=2)
    files = glob.glob(qdir + "/part-*.parquet")
    assert len(files) == 3  # ceil(6 / 2) = 3 publishes
    back = spark.read.parquet(qdir)
    assert sorted((r["chunk"], r["url"]) for r in back.collect()) == sorted(rows)


def test_spacejoin_semantics_delete_spaces_inside_json_values(spark):
    """Python-reference bug-compat (python/batcher.py:58-59): the
    space-join parse deletes spaces INSIDE JSON string values; the
    canonical splitn-3 parse preserves them."""
    line = (
        'com,ex)/a 20240101000000 {"url": "https://ex.com/a", '
        '"status": "200", "mime": "text/html; charset=utf-8", '
        '"languages": "eng, deu"}'
    )
    df = spark.createDataFrame([(line,)], "line string")
    canonical = parse_cdx_lines(df).select("metadata.mime", "metadata.languages").first()
    assert canonical["mime"] == "text/html; charset=utf-8"
    assert canonical["languages"] == "eng, deu"
    buggy = parse_cdx_lines(df, spacejoin_semantics=True).select(
        "metadata.mime", "metadata.languages"
    ).first()
    assert buggy["mime"] == "text/html;charset=utf-8"
    assert buggy["languages"] == "eng,deu"
