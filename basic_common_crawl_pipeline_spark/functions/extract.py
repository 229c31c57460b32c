"""Deterministic HTML → text extraction (operator T2 of SURVEY.md §2.4).

This is the single scalar core shared *verbatim* by the single-node oracle
(`plans/oracle.py`) and the Spark Arrow-vectorized UDFs (`plans/wave.py`) —
byte-identity of extracted text per url is therefore true by construction
and asserted by tests.

Semantics pin the Rust reference's trafilatura invocation
(`rust/src/trafilatura.rs:17-18`: ``include_comments=False,
include_tables=False, deduplicate=True``) combined with the Go extractor's
script/style removal + whitespace collapse
(`golang/worker/worker.go:36-51`):

- decode bytes as UTF-8 with replacement (lossy), matching the Rust worker
  (`rust/src/bin/worker.rs:57` ``from_utf8_lossy``);
- drop ``<script>``/``<style>`` subtrees and HTML comments entirely;
- drop ``<table>`` subtrees (``include_tables=False``);
- split remaining text into blocks at block-level tags, collapse each
  block's whitespace runs to single spaces (`golang/worker/worker.go:48`);
- de-duplicate repeated blocks within a document (``deduplicate=True``);
- join blocks with a single ``\n``; return ``None`` when no text survives
  (extraction-failure skip, `rust/src/bin/worker.rs:69-74`).

No third-party packages — ``html.parser`` stdlib only, so the exact same
bytes-in → string-out function runs inside Spark Python workers and in the
oracle process.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

# Comments are stripped before tokenization so that an *unclosed* comment
# swallows the rest of the document (HTML5 EOF-in-comment behavior) instead
# of leaking raw markup into text, which html.parser would otherwise do.
_COMMENT_RE = re.compile(r"<!--.*?(?:-->|$)", re.DOTALL)

# Subtrees removed wholesale: script/style (golang/worker/worker.go:40-44)
# plus table (rust/src/trafilatura.rs:18 include_tables=False).
_DROP_SUBTREES = frozenset({"script", "style", "table"})

# Tags that delimit text blocks (paragraph-level boundaries).
_BLOCK_TAGS = frozenset(
    {
        "p", "div", "li", "ul", "ol", "br", "h1", "h2", "h3", "h4", "h5",
        "h6", "tr", "td", "th", "section", "article", "header", "footer",
        "nav", "aside", "main", "blockquote", "pre", "title", "body",
        "html", "head", "figure", "figcaption", "dt", "dd", "dl", "hr",
    }
)

# Self-closing among the drop set never occurs; void elements in block set:
_VOID_TAGS = frozenset({"br", "hr"})


class _TextExtractor(HTMLParser):
    """Streaming block and href collector: the ``html.parser`` route of
    ``_scan_page``. Comments are stripped before the parse; any that
    html.parser still finds are ignored because ``handle_comment`` is not
    overridden (include_comments=False)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._drop_depth = 0
        self._buf: list[str] = []
        self.blocks: list[str] = []
        self.hrefs: list[str] = []

    def _flush(self) -> None:
        if not self._buf:
            return
        # Collapse all whitespace runs to single spaces within the block
        # (strings.Join(strings.Fields(text), " "), golang/worker/worker.go:48).
        text = " ".join("".join(self._buf).split())
        self._buf = []
        if text:
            self.blocks.append(text)

    def _href(self, attrs) -> None:  # noqa: ANN001
        # the first non-empty href; anchors inside dropped subtrees count
        for name, value in attrs:
            if name == "href" and value:
                self.hrefs.append(value)
                return

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag == "a":
            self._href(attrs)
        if tag in _DROP_SUBTREES:
            self._drop_depth += 1
        elif tag in _BLOCK_TAGS and self._drop_depth == 0:
            self._flush()

    def handle_startendtag(self, tag: str, attrs) -> None:  # noqa: ANN001
        # overrides the default (which calls handle_starttag), so a
        # self-closing <a href="/x"/> collects its href here
        if tag == "a":
            self._href(attrs)
        if tag in _BLOCK_TAGS and self._drop_depth == 0:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in _DROP_SUBTREES:
            if self._drop_depth > 0:
                self._drop_depth -= 1
        elif tag in _BLOCK_TAGS and tag not in _VOID_TAGS and self._drop_depth == 0:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._drop_depth == 0:
            self._buf.append(data)


def decode_lossy(html: bytes | str | None) -> str | None:
    """UTF-8 decode with replacement chars (rust/src/bin/worker.rs:57)."""
    if html is None:
        return None
    if isinstance(html, str):
        return html
    return html.decode("utf-8", errors="replace")


# ---------------------------------------------------------------------------
# One parse per page (``_scan_page``): comments are stripped with
# ``_COMMENT_RE`` before any parse, then ONE pass collects text blocks AND
# hrefs from that single stream — a strict-subset scanner when it accepts
# the stream, else one html.parser pass (optimization guide §1.2 step 2 —
# per-task work).
#
# ``HTMLParser.feed`` costs ~200 µs per 10 KB page (generic tolerant-markup
# regex machinery per tag + per-attribute parsing we never consume). The
# scanner below tokenizes the common well-formed subset with one C-speed
# regex match per tag. It REFUSES (returns None → ``_scan_page`` runs
# ``_TextExtractor``, which remains the semantic reference) any stream
# containing a construct whose html.parser handling it does not replicate
# exactly:
#
# - doctypes, declarations and PIs (any ``<!`` or ``<?`` left after the
#   comment strip),
# - any ``<`` that does not start a fully well-formed tag per _FAST_TAG_RE
#   (html.parser's tolerant recovery on broken markup is NOT reproduced),
# - script/style whose closing tag is not a plain ``</name␣*>`` (html.parser
#   CDATA-mode recovery is NOT reproduced).
#
# On accepted input the event stream is provably identical to
# html.parser's: data chunks are the inter-tag runs with ``unescape`` (the
# exact function convert_charrefs uses) applied outside CDATA content; tag
# and attribute names lowercase; attribute values unescaped; CDATA content
# for script/style emitted as data; self-closing tags dispatch like
# handle_startendtag. Equivalence is property-tested against html.parser
# in tests/test_extract.py.
# ---------------------------------------------------------------------------

_FAST_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][-.a-zA-Z0-9:_]*)"
    r"((?:\s+[a-zA-Z_:][-a-zA-Z0-9_:.]*"
    r"(?:=(?:\"[^\"<>]*\"|'[^'<>]*'|[^\s<>\"'`=]+))?)*)"
    r"\s*(/?)>"
)
_FAST_ATTR_RE = re.compile(
    r"\s+([a-zA-Z_:][-a-zA-Z0-9_:.]*)"
    r"(?:=(?:\"([^\"<>]*)\"|'([^'<>]*)'|([^\s<>\"'`=]+)))?"
)
_CDATA_OPEN = {"script", "style"}
# html.parser's CDATA 'interesting' pattern is r'</\s*<name>' (re.I); the
# close tag itself must then match endtagfind (r'</\s*NAME\s*>') with the
# SAME element name, else html.parser keeps scanning — we only accept the
# exact simple form and refuse the rest.
_CDATA_FIND = {t: re.compile(r"</\s*" + t, re.I) for t in _CDATA_OPEN}
_CDATA_END = {
    t: re.compile(r"</\s*(" + t + r")\s*>", re.I) for t in _CDATA_OPEN
}


def _fast_first_href(attrs: str) -> str | None:
    """First non-empty ``href`` value of an already-validated attr
    string, with html.parser's lowercase-name and unescape-value
    semantics — the value ``_TextExtractor`` keeps (it skips an empty or
    valueless ``href`` and reads on)."""
    for m in _FAST_ATTR_RE.finditer(attrs):
        if m.group(1).lower() == "href":
            v = m.group(2) or m.group(3) or m.group(4)
            if v:
                return unescape(v) if "&" in v else v
    return None


def _fast_scan(s: str) -> tuple[list[str], list[str]] | None:
    """One-pass (text blocks, raw hrefs) over the strict subset, or None
    when the stream must take the html.parser path (any ``<!`` or ``<?``
    is refused here).

    Driven by ONE ``finditer`` over the tag regex (C-speed scanning
    between tags) instead of a per-'<' find+match loop; the subset
    guarantee is kept by refusing any inter-tag data run (or tail) that
    still contains '<' — exactly the positions the stepwise loop would
    have failed to match. Matches starting inside consumed CDATA
    content are skipped by position."""
    if "<!" in s or "<?" in s:
        return None
    blocks: list[str] = []
    buf: list[str] = []
    hrefs: list[str] = []
    drop = 0
    pos, n = 0, len(s)
    for m in _FAST_TAG_RE.finditer(s):
        start = m.start()
        if start < pos:
            continue  # inside already-consumed CDATA content
        if start > pos:
            chunk = s[pos:start]
            if "<" in chunk:
                return None  # an unmatched '<' — html.parser recovery
            if drop == 0:
                buf.append(unescape(chunk) if "&" in chunk else chunk)
        closing, name, attrs, selfclose = m.groups()
        name = name.lower()
        pos = m.end()
        if closing:
            if name in _DROP_SUBTREES:
                if drop > 0:
                    drop -= 1
            elif name in _BLOCK_TAGS and name not in _VOID_TAGS and drop == 0:
                if buf:
                    text = " ".join("".join(buf).split())
                    buf = []
                    if text:
                        blocks.append(text)
        else:
            if name == "a" and "href" in attrs.lower():
                v = _fast_first_href(attrs)
                if v:
                    hrefs.append(v)
            if selfclose:
                # handle_startendtag parity: block flush only, no drop
                # bookkeeping, no CDATA mode
                if name in _BLOCK_TAGS and drop == 0:
                    if buf:
                        text = " ".join("".join(buf).split())
                        buf = []
                        if text:
                            blocks.append(text)
                continue
            if name in _DROP_SUBTREES:
                drop += 1
            elif name in _BLOCK_TAGS and drop == 0:
                if buf:
                    text = " ".join("".join(buf).split())
                    buf = []
                    if text:
                        blocks.append(text)
            if name in _CDATA_OPEN:
                mm = _CDATA_FIND[name].search(s, pos)
                if mm is None:
                    # unclosed CDATA element: html.parser emits the rest
                    # as data inside the (dropped) subtree — nothing more
                    # can be emitted, finish
                    pos = n
                    break
                e = _CDATA_END[name].match(s, mm.start())
                if e is None or e.group(1).lower() != name:
                    return None  # CDATA recovery case — html.parser path
                # content is data inside the dropped subtree; close tag:
                if drop > 0:
                    drop -= 1
                pos = e.end()
    if pos < n:
        chunk = s[pos:]
        if "<" in chunk:
            return None  # unmatched '<' in the tail
        if drop == 0:
            buf.append(unescape(chunk) if "&" in chunk else chunk)
    # final flush parity: extract_text calls parser._flush() after close()
    # UNCONDITIONALLY (no drop check) — pending data from before an
    # unclosed drop subtree still flushes
    if buf:
        text = " ".join("".join(buf).split())
        if text:
            blocks.append(text)
    return blocks, hrefs


def _scan_page(html: bytes | str | None) -> tuple[list[str], list[str]]:
    """The one parse of a page: ``(text blocks, raw hrefs)`` in document
    order. One decode; comments stripped only when ``<!--`` occurs (the
    regex cannot match otherwise); ``_fast_scan`` once; on refusal ONE
    html.parser pass. A blank page or a parser exception gives
    ``([], [])`` (malformed-document skip F9, rust/src/bin/worker.rs:69-74).
    ``extract_text``, ``links.extract_links_rich`` and
    ``links.extract_page`` are views of this result, so text and links
    always agree on where a comment ends."""
    decoded = decode_lossy(html)
    if decoded is None or not decoded.strip():
        return [], []
    if "<!--" in decoded:
        decoded = _COMMENT_RE.sub("", decoded)
    fast = _fast_scan(decoded)
    if fast is not None:
        return fast
    parser = _TextExtractor()
    try:
        parser.feed(decoded)
        parser.close()
    except Exception:
        return [], []
    parser._flush()
    return parser.blocks, parser.hrefs


def _join_blocks(blocks: list[str]) -> str | None:
    """deduplicate=True (rust/src/trafilatura.rs:18): drop exact repeats of
    earlier blocks, keep first occurrences, join with ``\n``; None when no
    block survives."""
    return "\n".join(dict.fromkeys(blocks)) or None


def extract_text(html: bytes | str | None) -> str | None:
    """HTML bytes → plain text, or None when nothing extractable.

    Deterministic and pure; the per-row invariant of the build
    (BASELINE.json input_hint: byte-identical extracted text per url).
    """
    return _join_blocks(_scan_page(html)[0])


class _GoTextExtractor(HTMLParser):
    """goquery-equivalent text walk (`golang/worker/worker.go:36-51`):
    remove script/style subtrees, concatenate EVERY remaining text node
    (``doc.Text()`` — including head/title, unlike the trafilatura-style
    canonical extractor), then collapse all whitespace to single spaces.
    No block structure, no table drop, no block dedup."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._drop_depth = 0
        self.parts: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag in ("script", "style"):
            self._drop_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in ("script", "style") and self._drop_depth > 0:
            self._drop_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._drop_depth == 0:
            self.parts.append(data)


def extract_text_go(html: bytes | str | None) -> str | None:
    """The Go worker's extractor as a swappable variant
    (`golang/worker/worker.go:36-51`): one whitespace-collapsed line of
    ALL text nodes outside script/style. The three reference
    implementations genuinely disagree on extraction (Readme.md notes
    the Python worker differs again); the engine pins the Rust
    trafilatura semantics as canonical (``extract_text``) and offers
    this variant behind ``CrawlConfig.extractor="go"``. Equivalent to
    goquery on well-formed HTML; both sides of the oracle comparison run
    THIS function, so crawl-equality tests stay byte-exact regardless of
    parser edge cases. Returns None for empty output (the Go worker
    treats ``text != ""`` as the success gate)."""
    decoded = decode_lossy(html)
    if decoded is None or not decoded.strip():
        return None
    decoded = _COMMENT_RE.sub("", decoded)
    parser = _GoTextExtractor()
    try:
        parser.feed(decoded)
        parser.close()
    except Exception:
        return None
    text = " ".join("".join(parser.parts).split())
    return text if text else None


# UD2 swappable-extractor registry: plans/wave.py and plans/oracle.py both
# resolve CrawlConfig.extractor here, so any registered scalar stays
# byte-identical between the Spark path and the single-node oracle.
EXTRACTORS: dict[str, object] = {
    "rust": extract_text,
    "go": extract_text_go,
}


def split_http_response(body: bytes, variant: str = "rust") -> bytes | None:
    """HTTP header/body split (operator P5): find the first blank line and
    return everything after it, or None when absent.

    Canonical semantics = Rust (`rust/src/bin/worker.rs:57-66`,
    ``variant="rust"``): try ``\\r\\n\\r\\n`` first then ``\\n\\n``; the
    returned slice *excludes* the separator. ``variant="go"`` reproduces
    the Go worker bug-for-bug (`golang/worker/worker.go:104-113`): the
    offset is ALWAYS ``+4``, so on the ``\\n\\n`` path the first two body
    bytes are silently dropped (the off-by-2). None → body-split failure
    skip (F8).
    """
    idx = body.find(b"\r\n\r\n")
    if idx >= 0:
        return body[idx + 4 :]
    idx = body.find(b"\n\n")
    if idx >= 0:
        return body[idx + (4 if variant == "go" else 2) :]
    return None
