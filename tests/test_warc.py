"""Physical WARC ingestion (sources/warc.py): record round-trips, gzip
member iteration, and both Spark ingestion paths (range fetch + full-file
scan) against a plain-Python sequential loop over the same files —
the single-node execution model of the reference worker
(rust/src/bin/worker.rs:40-85)."""

from __future__ import annotations

import glob
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from basic_common_crawl_pipeline_spark.functions.extract import (
    decode_lossy,
    extract_text,
    split_http_response,
)
from basic_common_crawl_pipeline_spark.plans.catalog import (
    _warc_fixture_pages,
    load,
)
from basic_common_crawl_pipeline_spark.sources import warc

SF_SMALL = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# pure-function units
# ---------------------------------------------------------------------------


def test_record_roundtrip():
    body = warc.build_http_response(b"<html><p>hi</p></html>")
    raw = warc.build_warc_record("response", "http://x.test/a", body)
    headers, block = warc.parse_warc_record(raw)
    assert headers["WARC-Type"] == "response"
    assert headers["WARC-Target-URI"] == "http://x.test/a"
    assert headers["__version__"] == "WARC/1.0"
    assert block == body
    assert split_http_response(block) == b"<html><p>hi</p></html>"


def test_parse_malformed_record_returns_none():
    assert warc.parse_warc_record(b"not a warc record") is None
    assert warc.parse_warc_record(b"WARC/1.0\r\nContent-Length: zz\r\n\r\n") is None
    # truncated block (Content-Length says 100, only 3 bytes present)
    assert (
        warc.parse_warc_record(b"WARC/1.0\r\nContent-Length: 100\r\n\r\nabc")
        is None
    )


def test_member_iteration():
    recs = [
        warc.build_warc_record("warcinfo", None, b"software: t\r\n"),
        warc.build_warc_record("request", "http://x/1", b"GET / HTTP/1.1\r\n\r\n"),
        warc.build_warc_record(
            "response", "http://x/1", warc.build_http_response(b"<p>one</p>")
        ),
    ]
    blob = b"".join(warc._gzip_member(r) for r in recs)
    members = list(warc.iter_warc_members(blob))
    assert members == recs


# ---------------------------------------------------------------------------
# Spark paths vs the sequential single-node loop
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("warc_corpus"))
    docs = load(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 120)
    pages = _warc_fixture_pages(docs).repartition(4)
    cdx = warc.write_warc_corpus(spark, pages, out_dir)
    return out_dir, cdx


def _sequential_responses(out_dir):
    """The warcio-style loop: every record of every file, filter
    response, split, decode, extract — plain Python, no Spark."""
    rows = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "*.warc.gz"))):
        for headers, block in warc.iter_warc_file(path):
            if headers.get("WARC-Type") != "response":
                continue
            body = split_http_response(block)
            rows[headers["WARC-Target-URI"]] = (
                len(body),
                hashlib.md5(body).hexdigest(),
                extract_text(decode_lossy(body)),
            )
    return rows


def test_scan_path_matches_sequential_loop(spark, corpus):
    out_dir, _ = corpus
    want = _sequential_responses(out_dir)
    got = {
        r["url"]: (r["n_bytes"], r["payload_md5"], r["text"])
        for r in warc.extract_responses(
            warc.scan_warc_files(spark, out_dir)
        ).collect()
    }
    assert len(want) == 120
    assert got == want


def _response_rows(records):
    return {
        r["url"]: (r["status"], r["n_bytes"], r["payload_md5"], r["text"])
        for r in warc.extract_responses(records).collect()
    }


def test_range_path_matches_scan_path(spark, corpus):
    """The fused range and scan paths, and records frames that are no
    producer's direct output (extracted through a separate Python map),
    all give the same rows; the scan-path inputs hold the request and
    warcinfo records F4 drops."""
    out_dir, cdx = corpus
    scan = _response_rows(warc.scan_warc_files(spark, out_dir))
    rng = _response_rows(warc.fetch_warc_records(cdx))
    assert rng == scan
    assert all(v[0] == 200 for v in rng.values())
    cols = ("target_uri", "warc_type", "payload")
    selected = warc.fetch_warc_records(cdx).select(*cols)
    scanned = warc.scan_warc_files(spark, out_dir).select(*cols)
    assert scanned.filter(F.col("warc_type") != "response").count() > 0
    assert _response_rows(selected) == rng
    assert _response_rows(scanned) == rng


def test_range_that_does_not_gunzip_is_skipped(spark, corpus):
    """A CDX row whose range is cut short (EOFError) or whose offset is
    shifted (BadGzipFile) is skipped like a record that does not parse;
    every other row still comes back, on both range readers."""
    _, cdx = corpus
    rows = [
        (r["url"], r["filename"], r["offset"], r["length"])
        for r in sorted(cdx.collect(), key=lambda r: r["url"])
    ]
    url, fname, off, n = rows[0]
    rows[0] = (url, fname, off, n - 5)
    url, fname, off, n = rows[1]
    rows[1] = (url, fname, off + 1, n)
    bad = spark.createDataFrame(rows, warc.CDX_SCHEMA)
    want = sorted(r[0] for r in rows[2:])
    got = [r["url"] for r in warc.extract_responses(
        warc.fetch_warc_records(bad)).collect()]
    assert sorted(got) == want
    assert sorted(r["url"] for r in warc.warc_pages(bad).collect()) == want


def test_request_and_unsplittable_response_rows_are_dropped(spark, corpus, tmp_path):
    """CDX rows that point at a request record (dropped by the WARC-Type
    filter, F4) and at a response whose HTTP block has no blank line
    (dropped by the header/body split, F8) come back from neither
    ``warc_pages`` nor ``extract_responses`` — fused or not; every other
    row does."""
    _, cdx = corpus
    members = [
        warc._gzip_member(warc.build_warc_record(
            "request", "http://bad.test/request",
            b"GET / HTTP/1.1\r\nHost: bad.test\r\n\r\n",
        )),
        warc._gzip_member(warc.build_warc_record(
            "response", "http://bad.test/no-blank-line",
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n<p>x</p>",
        )),
    ]
    fname = str(tmp_path / "bad.warc.gz")
    with open(fname, "wb") as f:
        f.write(b"".join(members))
    rows = [
        (r["url"], r["filename"], r["offset"], r["length"])
        for r in cdx.collect()
    ]
    want = sorted(r[0] for r in rows)
    rows += [
        ("http://bad.test/request", fname, 0, len(members[0])),
        ("http://bad.test/no-blank-line", fname, len(members[0]), len(members[1])),
    ]
    bad = spark.createDataFrame(rows, warc.CDX_SCHEMA)
    fetched = warc.fetch_warc_records(bad)
    assert fetched.count() == len(rows)  # both records parse
    for got in (
        warc.warc_pages(bad),
        warc.extract_responses(fetched),
        warc.extract_responses(fetched.select("target_uri", "warc_type", "payload")),
    ):
        assert sorted(r["url"] for r in got.collect()) == want


def test_scan_sees_non_response_records_and_filter_drops_them(spark, corpus):
    out_dir, cdx = corpus
    records = warc.scan_warc_files(spark, out_dir)
    by_type = {
        r["warc_type"]: r["n"]
        for r in records.groupBy("warc_type").agg(F.count("*").alias("n")).collect()
    }
    n_files = len(glob.glob(os.path.join(out_dir, "*.warc.gz")))
    # per file: 1 warcinfo; per page: 1 request + 1 response
    assert by_type["response"] == 120
    assert by_type["request"] == 120
    assert by_type["warcinfo"] == n_files
    # the CDX never indexes non-response records → range path sees only
    # responses even before the F4 filter
    fetched = warc.fetch_warc_records(cdx)
    assert fetched.filter(F.col("warc_type") != "response").count() == 0


def test_crawl_over_warc_reconstructed_pages_matches_direct(spark, tmp_path):
    """End-to-end physical-path integration: write the crawl corpus out
    as .warc.gz + CDX, reconstruct the pages table by range-fetching the
    records back (warc_pages), and run the SAME multi-wave crawl over
    both — identical crawl order, seen set, and extracted bytes."""
    from basic_common_crawl_pipeline_spark.plans.catalog import (
        pages_from_documents,
    )
    from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig
    from basic_common_crawl_pipeline_spark.plans.crawl import (
        collect_outputs,
        run_crawl,
    )
    from basic_common_crawl_pipeline_spark.sources.snapshots import SnapshotStore

    pages, seeds, robots = pages_from_documents(spark, SF_SMALL)
    out_dir = str(tmp_path / "warc")
    cdx = warc.write_warc_corpus(
        spark, pages.repartition(4), out_dir, carry_cols=("lang", "status"),
        status_col="status",
    )
    assert cdx.columns == ["url", "filename", "offset", "length", "lang", "status"]
    assert cdx.schema["status"].dataType == pages.schema["status"].dataType
    assert sorted(cdx.select("url", "lang", "status").collect()) == sorted(
        pages.select("url", "lang", "status").collect()
    )
    wpages = warc.warc_pages(cdx, meta_cols=("lang",))
    cfg = CrawlConfig(wave_seconds=16.0, max_waves=2, salt_partitions=4)
    outs = []
    for name, p in (("direct", pages), ("warc", wpages)):
        store = SnapshotStore(str(tmp_path / f"store_{name}"))
        run_crawl(spark, p, seeds, robots, cfg, store=store)
        outs.append(collect_outputs(spark, store))
    (o_d, r_d, s_d), (o_w, r_w, s_w) = outs
    assert [(r["seq"], r["url"]) for r in o_w] == [
        (r["seq"], r["url"]) for r in o_d
    ]
    assert s_w == s_d
    assert {r["canon_url"]: r["text"] for r in r_w} == {
        r["canon_url"]: r["text"] for r in r_d
    }
    assert len(o_d) > 5


def test_crawl_over_multicapture_warc_matches_direct(spark, tmp_path):
    """The full Common-Crawl-shaped chain: a WARC+CDX corpus with THREE
    captures per url (two older ones carrying corrupted html and non-200
    status), reconstructed via warc_pages(ts_col=...) and deduped with
    latest_capture, crawls identically to the clean single-capture
    table — and the raw multi-capture table is rejected by the wave's
    one-row-per-frontier-URL check."""
    import pytest

    from basic_common_crawl_pipeline_spark.plans.catalog import (
        pages_from_documents,
    )
    from basic_common_crawl_pipeline_spark.plans.config import CrawlConfig
    from basic_common_crawl_pipeline_spark.plans.crawl import (
        collect_outputs,
        run_crawl,
    )
    from basic_common_crawl_pipeline_spark.sources.pages import latest_capture
    from basic_common_crawl_pipeline_spark.sources.snapshots import SnapshotStore

    pages, seeds, robots = pages_from_documents(spark, SF_SMALL)
    # three captures per url: the real one is the NEWEST; older captures
    # would corrupt the crawl if kept (stale html, 503 status)
    caps = pages.select(
        "url", "warc_ts", "html", "lang",
        F.col("status").cast("int").alias("status"),
    )
    stale = None
    for back in (1, 2):
        older = caps.withColumn(
            "warc_ts", F.col("warc_ts") - F.make_interval(days=F.lit(back))
        ).withColumn("html", F.lit(b"<html><p>stale</p></html>")).withColumn(
            "status", F.lit(503)
        )
        stale = older if stale is None else stale.unionByName(older)
    multicap = caps.unionByName(stale).withColumn(
        "wts", F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss")
    )
    out_dir = str(tmp_path / "warc_mc")
    cdx = warc.write_warc_corpus(
        spark, multicap.repartition(4), out_dir,
        status_col="status", carry_cols=("wts", "lang"),
    )
    assert cdx.count() == 3 * caps.count()  # one CDX row per capture
    wpages = warc.warc_pages(cdx, meta_cols=("lang",), ts_col="wts")
    assert wpages.count() == 3 * caps.count()  # all captures fetched back

    cfg = CrawlConfig(wave_seconds=16.0, max_waves=2, salt_partitions=4)
    with pytest.raises(ValueError, match="duplicate urls"):
        run_crawl(spark, wpages, seeds, robots, cfg,
                  store=SnapshotStore(str(tmp_path / "reject")))
    deduped = latest_capture(wpages)
    outs = []
    for name, p in (("direct", pages), ("warc_mc", deduped)):
        store = SnapshotStore(str(tmp_path / f"store_{name}"))
        run_crawl(spark, p, seeds, robots, cfg, store=store)
        outs.append(collect_outputs(spark, store))
    (o_d, r_d, s_d), (o_w, r_w, s_w) = outs
    assert [(r["seq"], r["url"]) for r in o_w] == [
        (r["seq"], r["url"]) for r in o_d
    ]
    assert s_w == s_d
    assert {r["canon_url"]: r["text"] for r in r_w} == {
        r["canon_url"]: r["text"] for r in r_d
    }
    assert len(o_d) > 5
