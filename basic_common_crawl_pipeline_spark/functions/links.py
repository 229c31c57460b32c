"""Link discovery: ``<a href>`` extraction from HTML (north-rule addition;
the reference discards page content without link-following —
`python/worker.py:26-27` "TODO: process text").

Pure Python, shared by oracle and UDFs. Links are resolved against the
page URL, restricted to http(s), canonicalized, de-duplicated preserving
first-occurrence order (document order = deterministic discovery order).
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

from .extract import _join_blocks, _scan_page
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
    canon-only view of the same core (oracle parity pinned by tests).
    The hrefs come from ``extract._scan_page``: the same comment-stripped
    stream and the same parse ``extract_text`` reads."""
    return _resolve_links(_scan_page(html)[1], base_url)


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
    """``(extract_text(html), extract_links_rich(html, base_url))`` from
    ONE ``extract._scan_page`` — one decode, one comment strip and one
    parse for both outputs, so each equals its single-output view by
    construction. Pinned against html.parser in tests/test_extract.py.
    """
    blocks, hrefs = _scan_page(html)
    return _join_blocks(blocks), _resolve_links(hrefs, base_url)
