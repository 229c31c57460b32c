"""Physical WARC ingestion: gzipped-member WARC files → pages rows
(operators S2/S3/P4/F4/P5/P6/T2 of SURVEY.md §2 as one executable chain).

The reference's byte-level path is:

- batcher emits CDX entries carrying (filename, offset, length) of one
  WARC record inside a .warc.gz (rust/src/bin/batcher.rs:54-107);
- worker range-GETs exactly those bytes and gunzips them
  (rust/src/commoncrawl.rs:34-67 ``download_and_unzip`` — each record is
  its own gzip *member*, so a range decompresses standalone);
- worker iterates WARC records, keeps ``WARC-Type: response``
  (rust/src/bin/worker.rs:48-56), splits HTTP headers from the body
  (rust/src/bin/worker.rs:57-66), lossy-decodes and extracts.

Spark-first restatement: the corpus is a directory of .warc.gz files
(local in the sandbox; S3/HDFS on a cluster — the reads go through
Python ``open`` for ranges and Spark's ``binaryFile`` source for full
scans). Two ingestion paths share one extraction batch function:

- **range path** (S2/S3): a CDX DataFrame (url, filename, offset,
  length) → ``fetch_warc_records`` opens each file once per Arrow batch
  and reads exactly the member's bytes — the range-GET analog;
- **scan path** (P4): ``scan_warc_files`` reads whole files via the
  ``binaryFile`` source and iterates ALL gzip members/records, including
  the request/warcinfo records the CDX never points at — the F4 filter
  in the extraction batch function then drops them.

All Python is Arrow-batched ``mapInPandas``; payload bytes never cross a
shuffle. ``extract_responses`` over a producer's direct output runs the
producer's batch function and the extraction in ONE ``mapInPandas``, so
each ingest task starts one Python worker and the payload crosses Arrow
once: every Python task pays a fixed ~0.2 s of worker set-up
(``importlib.invalidate_caches()`` makes each zipimporter re-read
pyspark.zip) before it reads a row, and two chained Python stages paid
it twice per task.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import uuid
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.extract import extract_text, split_http_response

WARC_DATE = "2024-07-22T12:00:00Z"

CDX_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("filename", StringType()),
        StructField("offset", LongType()),
        StructField("length", LongType()),
    ]
)

RECORD_SCHEMA = StructType(
    [
        StructField("target_uri", StringType()),
        StructField("warc_type", StringType()),
        StructField("payload", BinaryType()),
    ]
)

RESPONSE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("status", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
        StructField("text", StringType()),
    ]
)


# ---------------------------------------------------------------------------
# record construction (fixture writer side)
# ---------------------------------------------------------------------------


def build_http_response(body: bytes, status_line: str = "HTTP/1.1 200 OK") -> bytes:
    """An HTTP response message: status line + headers + blank line + body
    (what a WARC response record's block holds)."""
    head = (
        f"{status_line}\r\n"
        "Content-Type: text/html; charset=utf-8\r\n"
        f"Content-Length: {len(body)}\r\n"
        "\r\n"
    ).encode("ascii")
    return head + body


def build_warc_record(
    warc_type: str, target_uri: str | None, block: bytes
) -> bytes:
    """One WARC/1.0 record: version line, named headers, blank line,
    Content-Length bytes of block, then the record separator CRLFCRLF."""
    rid = hashlib.md5(
        f"{warc_type}|{target_uri}|{len(block)}".encode()
    ).hexdigest()
    headers = [
        "WARC/1.0",
        f"WARC-Type: {warc_type}",
        f"WARC-Date: {WARC_DATE}",
        f"WARC-Record-ID: <urn:md5:{rid}>",
    ]
    if target_uri is not None:
        headers.append(f"WARC-Target-URI: {target_uri}")
    if warc_type == "response":
        headers.append("Content-Type: application/http; msgtype=response")
    headers.append(f"Content-Length: {len(block)}")
    return "\r\n".join(headers).encode("ascii") + b"\r\n\r\n" + block + b"\r\n\r\n"


def _gzip_member(data: bytes) -> bytes:
    # mtime=0 → deterministic member bytes (offsets/lengths stable per run)
    return gzip.compress(data, mtime=0)


# ---------------------------------------------------------------------------
# record parsing (shared by both ingestion paths and the pytest oracle loop)
# ---------------------------------------------------------------------------


def parse_warc_record(raw: bytes) -> tuple[dict, bytes] | None:
    """Record bytes → (headers dict incl 'WARC/...' version under
    ``__version__``, block bytes), or None when malformed (tolerant skip,
    the Go worker's error-continue shape, golang/worker/worker.go:95-102)."""
    sep = raw.find(b"\r\n\r\n")
    if sep < 0:
        return None
    head = raw[:sep].decode("utf-8", errors="replace").split("\r\n")
    if not head or not head[0].startswith("WARC/"):
        return None
    headers = {"__version__": head[0]}
    for line in head[1:]:
        k, _, v = line.partition(":")
        headers[k.strip()] = v.strip()
    try:
        n = int(headers.get("Content-Length", ""))
    except ValueError:
        return None
    block = raw[sep + 4 : sep + 4 + n]
    if len(block) < n:
        return None
    return headers, block


def iter_warc_members(blob: bytes) -> Iterator[bytes]:
    """Concatenated-gzip-member file content → each member's decompressed
    bytes (one WARC record per member, the Common Crawl file layout)."""
    buf = blob
    while buf:
        d = zlib.decompressobj(wbits=31)
        out = d.decompress(buf)
        if not out and not d.eof:
            return  # trailing garbage / truncation: stop
        yield out
        buf = d.unused_data


def iter_warc_file(path: str) -> Iterator[tuple[dict, bytes]]:
    """Single-node sequential loop over a .warc.gz — the plain-Python
    ("warcio-style") oracle the Spark paths are tested against."""
    with open(path, "rb") as f:
        blob = f.read()
    for member in iter_warc_members(blob):
        rec = parse_warc_record(member)
        if rec is not None:
            yield rec


# ---------------------------------------------------------------------------
# corpus writer: (url, html) rows → partition-parallel .warc.gz files + CDX
# ---------------------------------------------------------------------------


_REASONS = {200: "OK", 301: "Moved Permanently", 404: "Not Found"}


def _write_batches(out_dir: str, with_status: bool, through_cols: tuple = ()):
    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if len(batch) == 0:
                continue
            fname = os.path.join(
                out_dir, f"warc-{uuid.uuid4().hex[:12]}.warc.gz"
            )
            # write under a temp name and rename on batch completion: a
            # failed/retried or speculative task attempt must not leave a
            # half-written *.warc.gz that scan_warc_files would pick up
            # (only the committed attempt's CDX rows reference the file)
            tmp_name = fname + ".inprogress"
            rows: dict[str, list] = {
                "url": [], "filename": [], "offset": [], "length": [],
                **{c: [] for c in through_cols},
            }
            statuses = batch["status"] if with_status else [200] * len(batch)
            with open(tmp_name, "wb") as f:
                off = f.write(
                    _gzip_member(
                        build_warc_record(
                            "warcinfo", None, b"software: warc fixture\r\n"
                        )
                    )
                )
                for i, (url, html, status) in enumerate(
                    zip(batch["url"], batch["html"], statuses)
                ):
                    body = bytes(html)
                    status = int(status)
                    status_line = (
                        f"HTTP/1.1 {status} {_REASONS.get(status, 'Status')}"
                    )
                    # a request record the CDX never indexes — exercises
                    # the scan path's WARC-Type filter (F4)
                    off += f.write(
                        _gzip_member(
                            build_warc_record(
                                "request",
                                url,
                                b"GET / HTTP/1.1\r\nHost: fixture\r\n\r\n",
                            )
                        )
                    )
                    member = _gzip_member(
                        build_warc_record(
                            "response", url,
                            build_http_response(body, status_line),
                        )
                    )
                    rows["url"].append(url)
                    rows["filename"].append(fname)
                    rows["offset"].append(off)
                    rows["length"].append(len(member))
                    for c in through_cols:
                        rows[c].append(batch[c].iloc[i])
                    off += f.write(member)
            os.replace(tmp_name, fname)
            yield pd.DataFrame(rows)

    return write


def write_warc_corpus(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    carry_cols: tuple[str, ...] = (),
    status_col: str | None = None,
    through_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Write ``pages`` (url, html binary) as member-per-record .warc.gz
    files — one file per Arrow batch, written partition-parallel — and
    return the CDX table (url, filename, offset, length[, carry_cols,
    through_cols]). ``carry_cols`` are page metadata columns copied into
    the CDX rows, like the real CDX's languages/status fields (joined
    back by url after the write — single-capture tables only).
    ``through_cols`` flow row-aligned THROUGH the writer instead, so they
    stay correct when the same url has multiple captures (a url-join
    would cross-multiply them). ``status_col`` names a page column whose
    value becomes each record's HTTP status line (default: every
    response 200 OK). The CDX is materialized as parquet under
    ``out_dir`` so the WARC files are written exactly once (re-running
    the returned plan re-reads parquet, never re-writes fixtures)."""
    os.makedirs(out_dir, exist_ok=True)
    cols = ["url", "html"] + ([F.col(status_col).alias("status")] if status_col else [])
    cols += list(through_cols)
    schema = StructType(
        list(CDX_SCHEMA.fields)
        + [pages.schema[c] for c in through_cols]
    )
    cdx_lazy = pages.select(*cols).mapInPandas(
        _write_batches(
            out_dir,
            with_status=status_col is not None,
            through_cols=through_cols,
        ),
        schema=schema,
    )
    if carry_cols:
        cdx_lazy = cdx_lazy.join(
            pages.select("url", *carry_cols), "url", "left"
        )
    cdx_path = os.path.join(out_dir, "_cdx.parquet")
    cdx_lazy.write.mode("overwrite").parquet(cdx_path)
    return spark.read.parquet(cdx_path)


# ---------------------------------------------------------------------------
# ingestion path 1 (S2/S3): CDX-driven range fetch
# ---------------------------------------------------------------------------


def _read_records(batch: pd.DataFrame) -> Iterator[tuple[int, dict, bytes]]:
    """(row, WARC headers, block) for each CDX row of ``batch`` (filename,
    offset, length) whose record parses: exactly the member's byte range,
    read and gunzipped standalone — the range-GET of
    rust/src/commoncrawl.rs:34-67, against local/posix paths (S3/HDFS
    range reads swap in behind the same row shape). Each file is opened
    once per batch, not once per row; rows come grouped by file, files
    in first-seen order. A range that does not gunzip (cut short,
    shifted offset) is skipped like a record that does not parse."""
    offsets, lengths = batch["offset"].tolist(), batch["length"].tolist()
    rows_of: dict[str, list[int]] = {}
    for i, fname in enumerate(batch["filename"].tolist()):
        rows_of.setdefault(fname, []).append(i)
    for fname, rows in rows_of.items():
        with open(fname, "rb") as f:
            for i in rows:
                f.seek(offsets[i])
                try:
                    raw = gzip.decompress(f.read(lengths[i]))
                except (EOFError, gzip.BadGzipFile, zlib.error):
                    continue  # a range that does not gunzip: the same skip
                rec = parse_warc_record(raw)
                if rec is not None:  # malformed-record skip (F6-tolerant)
                    yield i, *rec


def _parse_http_response(block: bytes) -> tuple[int, bytes] | None:
    """(status, body) of an HTTP response message, or None when its
    headers never end in a blank line or its status line holds no
    integer code (the body-split failure skip, F8)."""
    body = split_http_response(block)
    if body is None:
        return None
    try:
        return int(block.split(b"\r\n", 1)[0].split(b" ")[1]), body
    except (IndexError, ValueError):
        return None


def _fetch_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(url, filename, offset, length) → one WARC record per row
    (``_read_records``)."""
    for batch in batches:
        out: dict[str, list] = {"target_uri": [], "warc_type": [], "payload": []}
        for _, headers, block in _read_records(batch):
            out["target_uri"].append(headers.get("WARC-Target-URI"))
            out["warc_type"].append(headers.get("WARC-Type"))
            out["payload"].append(block)
        yield pd.DataFrame(out)


def _records_frame(inputs: DataFrame, batches) -> DataFrame:
    """``inputs`` mapped to RECORD_SCHEMA rows by ``batches``; the frame
    remembers both so ``extract_responses`` can fuse with it. The pair
    is a Python attribute of this one object: any DataFrame op returns a
    new object without it, so only a direct composition fuses."""
    records = inputs.mapInPandas(batches, schema=RECORD_SCHEMA)
    records._warc_producer = (inputs, batches)
    return records


def fetch_warc_records(cdx: DataFrame) -> DataFrame:
    """S2/S3: range-fetch the CDX's records → (target_uri, warc_type,
    payload bytes)."""
    return _records_frame(
        cdx.select("url", "filename", "offset", "length"), _fetch_batches
    )


_PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("status", IntegerType()),
        StructField("html", BinaryType()),
    ]
)


def _page_batches(through_cols: tuple = ()):
    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Range fetch + record parse + response filter + header/body
        split in ONE Arrow crossing — the whole physical chain per CDX
        row, yielding pages-shaped rows keyed by the CDX url.
        ``through_cols`` are copied row-aligned from the CDX row to its
        fetched page (multi-capture-safe, unlike a url join)."""
        for batch in batches:
            out: dict[str, list] = {
                "url": [], "status": [], "html": [],
                **{c: [] for c in through_cols},
            }
            urls = batch["url"].tolist()
            through_vals = {c: batch[c].tolist() for c in through_cols}
            for i, headers, block in _read_records(batch):
                if headers.get("WARC-Type") != "response":
                    continue
                parsed = _parse_http_response(block)
                if parsed is None:
                    continue
                out["url"].append(urls[i])
                out["status"].append(parsed[0])
                out["html"].append(parsed[1])
                for c in through_cols:
                    out[c].append(through_vals[c][i])
            yield pd.DataFrame(out)

    return fetch


def warc_pages(
    cdx: DataFrame,
    meta_cols: tuple[str, ...] = (),
    warc_ts: str = "2024-07-22 12:00:00",
    ts_col: str | None = None,
) -> DataFrame:
    """Reconstruct the engine's pages table from physical WARC files: the
    CDX drives range fetches whose HTTP bodies become the ``html`` column;
    ``meta_cols`` (e.g. lang) are copied row-aligned from the CDX rows —
    so a user can point the crawl engine at .warc.gz + CDX instead of a
    pre-built parquet table (the reference's actual inputs).

    ``ts_col`` names a CDX column holding each CAPTURE's timestamp
    (string or timestamp): the real Common Crawl shape has multiple
    captures per url, so the per-capture warc_ts must ride the CDX row,
    not a url-keyed join; feed the result through
    ``sources.pages.latest_capture`` to get the crawl-ready
    one-capture-per-url table. Without ``ts_col`` every page gets the
    constant ``warc_ts``."""
    through = tuple(meta_cols) + ((ts_col,) if ts_col else ())
    schema = StructType(
        list(_PAGE_SCHEMA.fields) + [cdx.schema[c] for c in through]
    )
    fetched = cdx.select("url", "filename", "offset", "length", *through).mapInPandas(
        _page_batches(through), schema=schema
    )
    ts = (
        F.col(ts_col).cast("timestamp")
        if ts_col
        else F.lit(warc_ts).cast("timestamp")
    )
    return fetched.select(
        "url",
        ts.alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        *meta_cols,
        "status",
    )


# ---------------------------------------------------------------------------
# ingestion path 2 (P4): full-file scan + record iteration
# ---------------------------------------------------------------------------


def _scan_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for batch in batches:
        out: dict[str, list] = {"target_uri": [], "warc_type": [], "payload": []}
        for blob in batch["content"]:
            for member in iter_warc_members(bytes(blob)):
                rec = parse_warc_record(member)
                if rec is None:
                    continue
                headers, block = rec
                out["target_uri"].append(headers.get("WARC-Target-URI"))
                out["warc_type"].append(headers.get("WARC-Type"))
                out["payload"].append(block)
        yield pd.DataFrame(out)


def scan_warc_files(spark: SparkSession, warc_dir: str) -> DataFrame:
    """P4: every WARC record of every .warc.gz in ``warc_dir`` — whole
    files via the binaryFile source (one file = one row = one task unit;
    CC files are ~1 GB, matching Spark's task granularity), then gzip
    member iteration inside Arrow batches."""
    files = spark.read.format("binaryFile").load(
        os.path.join(warc_dir, "*.warc.gz")
    )
    return _records_frame(files.select("content"), _scan_batches)


# ---------------------------------------------------------------------------
# shared tail: F4 filter → P5 header/body split → P6 decode → T2 extract
# ---------------------------------------------------------------------------


def _extract_response_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for batch in batches:
        out: dict[str, list] = {
            "url": [], "status": [], "n_bytes": [], "payload_md5": [], "text": []
        }
        for uri, warc_type, payload in zip(
            batch["target_uri"], batch["warc_type"], batch["payload"]
        ):
            if warc_type != "response":  # F4
                continue
            parsed = _parse_http_response(bytes(payload))
            if parsed is None:
                continue
            status, body = parsed
            out["url"].append(uri)
            out["status"].append(status)
            out["n_bytes"].append(len(body))
            out["payload_md5"].append(hashlib.md5(body).hexdigest())
            out["text"].append(extract_text(body))
        yield pd.DataFrame(out)


def extract_responses(records: DataFrame) -> DataFrame:
    """WARC records → pages rows: the ``WARC-Type == 'response'`` filter
    (F4, rust/src/bin/worker.rs:48-56), split_http_response (P5) and
    extract_text (its lossy decode is P6, then T2), all in one batch
    function.

    When ``records`` is the direct, uncached output of
    ``fetch_warc_records`` or ``scan_warc_files``, the producer's batch
    function and this one run in ONE ``mapInPandas`` over the producer's
    input: one Python worker per task instead of two, each of which pays
    a fixed ~0.2 s of set-up before it reads a row. Any other records
    frame (filtered, selected, cached, hand-built) goes through its own
    ``mapInPandas`` with the same batch function and the same rows."""
    producer = None if records.is_cached else getattr(
        records, "_warc_producer", None
    )
    if producer is None:
        return records.select("target_uri", "warc_type", "payload").mapInPandas(
            _extract_response_batches, schema=RESPONSE_SCHEMA
        )
    inputs, produce = producer
    return inputs.mapInPandas(
        lambda batches: _extract_response_batches(produce(batches)),
        schema=RESPONSE_SCHEMA,
    )
