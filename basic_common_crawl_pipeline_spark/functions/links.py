"""Link discovery: ``<a href>`` extraction from HTML (north-rule addition;
the reference discards page content without link-following —
`python/worker.py:26-27` "TODO: process text").

Pure Python, shared by oracle and UDFs. Links are resolved against the
page URL, restricted to http(s), canonicalized, de-duplicated preserving
first-occurrence order (document order = deterministic discovery order).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from urllib.parse import urljoin

from .extract import _fast_scan, decode_lossy, extract_text
from .urls import _simple_triple, canon_host_surt

# Absolute-href tier (r6): for a stripped href on this subset,
# ``canon_host_surt(urljoin(base, href)) == canon_host_surt(href)`` — so
# ``urljoin`` (29% of link-resolution CPU) can be skipped. Argument:
# urljoin either returns the href unchanged (scheme differs from the
# base's) or ``urlunparse(urlparse(href))``, which preserves
# (scheme, netloc, path;params, query) and only drops *empty* fragment/
# query/params markers — components canon_host_surt ignores or drops
# identically. The charset therefore excludes ';' (an empty-params drop
# DOES change the path: 'http://h/p;' → 'http://h/p') and all
# control/whitespace/non-ASCII bytes (a dropped trailing marker can
# expose them to canon_host_surt's outer strip); '(?![/?#])' requires a
# non-empty authority (an empty netloc inherits the base's in urljoin).
# [!-:<-~] = printable ASCII minus ';'. Property-tested against the
# urljoin composition in tests/test_urls.py.
_ABS_HREF_RE = re.compile(r"https?://(?![/?#])[!-:<-~]+\Z")


class _LinkCollector(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag == "a":
            for name, value in attrs:
                if name == "href" and value:
                    self.hrefs.append(value)
                    break


def extract_links(html: bytes | str | None, base_url: str) -> list[str]:
    """All out-links of a page, canonicalized, first-occurrence order."""
    return [canon for canon, _h, _s in extract_links_rich(html, base_url)]


def extract_links_rich(
    html: bytes | str | None, base_url: str
) -> list[tuple[str, str, str]]:
    """``(canon_url, host, surt)`` per out-link, first-occurrence order —
    the crawl hot path's variant: host and surt come from the same single
    parse as the canonical form (functions/urls.py::canon_host_surt)
    instead of three more parses per link. ``extract_links`` is the
    canon-only view of the same core (oracle parity pinned by tests)."""
    decoded = decode_lossy(html)
    if not decoded:
        return []
    # the strict-subset single-pass scanner sees the same byte stream
    # html.parser would, or refuses (functions/extract.py)
    fast = _fast_scan(decoded)
    if fast is not None:
        hrefs = fast[1]
    else:
        parser = _LinkCollector()
        try:
            parser.feed(decoded)
            parser.close()
        except Exception:
            return []
        hrefs = parser.hrefs
    return _resolve_links(hrefs, base_url)


def _resolve_links(
    hrefs: list[str], base_url: str
) -> list[tuple[str, str, str]]:
    """href list → (canon_url, host, surt) resolved/deduped — the shared
    tail of ``extract_links_rich`` and ``extract_page``."""
    seen: set[str] = set()
    out: list[tuple[str, str, str]] = []
    for href in hrefs:
        href = href.strip()
        # two fast tiers, both equality-pinned in tests/test_urls.py:
        # already-canonical hrefs build the triple in one regex match;
        # other absolute ASCII hrefs skip only the urljoin.
        triple = _simple_triple(href)
        if triple is None:
            if _ABS_HREF_RE.match(href) is not None:
                triple = canon_host_surt(href)
            else:
                try:
                    absolute = urljoin(base_url, href)
                except ValueError:
                    continue
                triple = canon_host_surt(absolute)
        canon, host, surt_key = triple
        if canon is not None and canon not in seen:
            seen.add(canon)
            out.append((canon, host, surt_key))
    return out


def extract_page(
    html: bytes | str | None, base_url: str
) -> tuple[str | None, list[tuple[str, str, str]]]:
    """Fused ``(extract_text(html), extract_links_rich(html, base_url))``
    in ONE decode and — on the comment-free strict subset — ONE parse
    (the crawl hot loop previously parsed every page twice). Equivalence:

    - comment-free documents: ``_COMMENT_RE.sub`` is the identity, so the
      text pass and the link pass see the same byte stream; the fused
      scanner collects blocks and hrefs from that single stream with
      html.parser-identical events (see ``_fast_scan``), so both outputs
      equal their two-pass counterparts by construction;
    - any other document (comments present, or any construct the strict
      scanner refuses) falls back to the exact two-pass functions.

    Property-tested against the two-pass pair in tests/test_extract.py.
    """
    decoded = decode_lossy(html)
    if decoded is None or not decoded.strip():
        # extract_text returns None on blank docs; a whitespace-only doc
        # has no <a> tags, so extract_links_rich would return [] too
        return None, []
    fast = _fast_scan(decoded)
    if fast is not None:
        blocks, hrefs = fast
        seen: set[str] = set()
        kept: list[str] = []
        for block in blocks:
            if block not in seen:
                seen.add(block)
                kept.append(block)
        text = "\n".join(kept) or None
        return text, _resolve_links(hrefs, base_url)
    return extract_text(html), extract_links_rich(html, base_url)
