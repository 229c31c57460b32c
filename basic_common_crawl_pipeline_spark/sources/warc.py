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
(local in the sandbox; S3/HDFS on a cluster). Every ingest path is a
reader yielding one record shape, ``(key, target_uri, warc_type,
block)``, followed by ONE response tail, ``_responses``: the only place
the F4 filter and the P5 split (with its F8 skip) are decided. Readers:

- **range** (S2/S3): CDX rows (url, filename, offset, length) → exactly
  each member's bytes, each file opened once per Arrow batch;
- **scan** (P4): whole files via the ``binaryFile`` source → ALL their
  records, including the request/warcinfo records the CDX never indexes;
- **frame**: a records DataFrame's rows, read back.

All Python is Arrow-batched ``mapInPandas``; payload bytes never cross a
shuffle. ``extract_responses`` over a producer's direct output feeds the
producer's reader into the tail and the extraction in ONE
``mapInPandas``: every Python task pays a fixed ~0.2 s of worker set-up
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
from collections.abc import Callable, Iterator

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
# record parsing (shared by every reader and the pytest oracle loop)
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


def _write_batches(out_dir: str, status_col: str | None, carry_cols: tuple):
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
            urls = batch["url"].tolist()
            rows: dict[str, list] = {
                "url": urls, "filename": [fname] * len(urls),
                "offset": [], "length": [],
                **{c: batch[c].tolist() for c in carry_cols},
            }
            statuses = batch[status_col].tolist() if status_col else [200] * len(urls)
            with open(tmp_name, "wb") as f:
                off = f.write(
                    _gzip_member(
                        build_warc_record(
                            "warcinfo", None, b"software: warc fixture\r\n"
                        )
                    )
                )
                for url, html, status in zip(urls, batch["html"], statuses):
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
                            build_http_response(bytes(html), status_line),
                        )
                    )
                    rows["offset"].append(off)
                    rows["length"].append(len(member))
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
) -> DataFrame:
    """Write ``pages`` (url, html binary) as member-per-record .warc.gz
    files — one file per Arrow batch, written partition-parallel — and
    return the CDX table (url, filename, offset, length, *carry_cols).
    ``carry_cols`` are page metadata columns copied into the CDX rows,
    like the real CDX's languages/status fields: each flows row-aligned
    THROUGH the writer with its page, so it stays correct when the same
    url has multiple captures. ``status_col`` names a page column whose
    value becomes each record's HTTP status line (default: every
    response 200 OK); it may also be carried. The CDX is materialized as
    parquet under ``out_dir`` so the WARC files are written exactly once
    (re-running the returned plan re-reads parquet, never re-writes
    fixtures)."""
    os.makedirs(out_dir, exist_ok=True)
    extra = dict.fromkeys([status_col, *carry_cols] if status_col else carry_cols)
    schema = StructType(
        list(CDX_SCHEMA.fields) + [pages.schema[c] for c in carry_cols]
    )
    cdx_path = os.path.join(out_dir, "_cdx.parquet")
    pages.select("url", "html", *extra).mapInPandas(
        _write_batches(out_dir, status_col, carry_cols), schema=schema
    ).write.mode("overwrite").parquet(cdx_path)
    return spark.read.parquet(cdx_path)


# ---------------------------------------------------------------------------
# record readers: every ingest path reads one record shape
# ---------------------------------------------------------------------------


# (key, target uri, WARC type, block): what every reader yields; the key
# is the record's row in the reader's input batch
Record = tuple[int, str | None, str | None, bytes]
Reader = Callable[[pd.DataFrame], Iterator[Record]]


def _record(key: int, raw: bytes) -> Iterator[Record]:
    """``raw`` parsed into the reader shape, or nothing when it does not
    parse (the malformed-record skip, F6-tolerant)."""
    rec = parse_warc_record(raw)
    if rec is not None:
        headers, block = rec
        yield key, headers.get("WARC-Target-URI"), headers.get("WARC-Type"), block


def _read_records(batch: pd.DataFrame) -> Iterator[Record]:
    """(CDX row, target uri, WARC type, block) for each CDX row of
    ``batch`` (filename, offset, length) whose record parses: exactly the
    member's byte range, read and gunzipped standalone — the range-GET of
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
                yield from _record(i, raw)


def _scan_records(batch: pd.DataFrame) -> Iterator[Record]:
    """(file row, target uri, WARC type, block) for every record of every
    whole .warc.gz in ``batch``'s ``content`` column, in file order —
    including the request/warcinfo records the CDX never points at."""
    for i, blob in enumerate(batch["content"]):
        for member in iter_warc_members(bytes(blob)):
            yield from _record(i, member)


def _frame_records(batch: pd.DataFrame) -> Iterator[Record]:
    """(row, target uri, WARC type, payload) of a RECORD_SCHEMA batch."""
    rows = zip(batch["target_uri"], batch["warc_type"], batch["payload"])
    return ((i, *row) for i, row in enumerate(rows))


def _record_batches(read: Reader):
    def records(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {"target_uri": [], "warc_type": [], "payload": []}
            for _, uri, warc_type, block in read(batch):
                out["target_uri"].append(uri)
                out["warc_type"].append(warc_type)
                out["payload"].append(block)
            yield pd.DataFrame(out)

    return records


def _records_frame(inputs: DataFrame, read: Reader) -> DataFrame:
    """``inputs`` mapped to RECORD_SCHEMA rows by the reader ``read``; the
    frame remembers both so ``extract_responses`` can fuse with it. The
    pair is a Python attribute of this one object: any DataFrame op
    returns a new object without it, so only a direct composition
    fuses."""
    records = inputs.mapInPandas(_record_batches(read), schema=RECORD_SCHEMA)
    records._warc_producer = (inputs, read)
    return records


# ---------------------------------------------------------------------------
# the one response tail: F4 filter → P5 header/body split (F8 skip)
# ---------------------------------------------------------------------------


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


def _responses(records: Iterator[Record]) -> Iterator[tuple]:
    """(key, target uri, status, body) of each response record: the only
    place the ``WARC-Type == 'response'`` filter (F4,
    rust/src/bin/worker.rs:48-56) and the header/body split (P5,
    rust/src/bin/worker.rs:57-66, with its F8 skip) are decided, for
    ``warc_pages`` and both ``extract_responses`` paths."""
    for key, uri, warc_type, block in records:
        if warc_type != "response":  # F4
            continue
        parsed = _parse_http_response(block)
        if parsed is None:  # F8
            continue
        yield key, uri, *parsed


# ---------------------------------------------------------------------------
# ingestion path 1 (S2/S3): CDX-driven range fetch
# ---------------------------------------------------------------------------


def fetch_warc_records(cdx: DataFrame) -> DataFrame:
    """S2/S3: range-fetch the CDX's records → (target_uri, warc_type,
    payload bytes)."""
    return _records_frame(
        cdx.select("url", "filename", "offset", "length"), _read_records
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
        """Range fetch + the response tail in ONE Arrow crossing,
        yielding pages-shaped rows keyed by the CDX url. ``through_cols``
        are copied row-aligned from the CDX row to its fetched page
        (multi-capture-safe, unlike a url join)."""
        for batch in batches:
            out: dict[str, list] = {
                "url": [], "status": [], "html": [],
                **{c: [] for c in through_cols},
            }
            urls = batch["url"].tolist()
            through_vals = {c: batch[c].tolist() for c in through_cols}
            for i, _, status, body in _responses(_read_records(batch)):
                out["url"].append(urls[i])
                out["status"].append(status)
                out["html"].append(body)
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


def scan_warc_files(spark: SparkSession, warc_dir: str) -> DataFrame:
    """P4: every WARC record of every .warc.gz in ``warc_dir`` — whole
    files via the binaryFile source (one file = one row = one task unit;
    CC files are ~1 GB, matching Spark's task granularity), then gzip
    member iteration inside Arrow batches."""
    files = spark.read.format("binaryFile").load(
        os.path.join(warc_dir, "*.warc.gz")
    )
    return _records_frame(files.select("content"), _scan_records)


# ---------------------------------------------------------------------------
# extraction: the response tail → P6 decode → T2 extract
# ---------------------------------------------------------------------------


def _extract_batches(read: Reader):
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {
                "url": [], "status": [], "n_bytes": [], "payload_md5": [], "text": []
            }
            # read the whole batch before extracting: interleaving each
            # record's gunzip with its extraction cost ~9% more CPU per
            # batch (4000 generated pages, 4 vCPUs, median of 41)
            for _, uri, status, body in _responses(list(read(batch))):
                out["url"].append(uri)
                out["status"].append(status)
                out["n_bytes"].append(len(body))
                out["payload_md5"].append(hashlib.md5(body).hexdigest())
                out["text"].append(extract_text(body))
            yield pd.DataFrame(out)

    return extract


def extract_responses(records: DataFrame) -> DataFrame:
    """WARC records → pages rows: the response tail (``_responses``: the
    F4 filter, split_http_response as P5) and extract_text (its lossy
    decode is P6, then T2), all in one batch function.

    When ``records`` is the direct, uncached output of
    ``fetch_warc_records`` or ``scan_warc_files``, the producer's reader
    feeds the tail inside ONE ``mapInPandas`` over the producer's input:
    one Python worker per task instead of two, each of which pays a
    fixed ~0.2 s of set-up before it reads a row, and no records frame
    is built in between. Any other records frame (filtered, selected,
    cached, hand-built) goes through its own ``mapInPandas`` that reads
    its rows back as records; the rows out are the same."""
    producer = None if records.is_cached else getattr(
        records, "_warc_producer", None
    )
    if producer is None:
        producer = (
            records.select("target_uri", "warc_type", "payload"),
            _frame_records,
        )
    inputs, read = producer
    return inputs.mapInPandas(_extract_batches(read), schema=RESPONSE_SCHEMA)
