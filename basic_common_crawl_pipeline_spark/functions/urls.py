"""URL canonicalization, SURT form, host extraction, 64-bit URL hashing.

Shared verbatim by the oracle and the Spark UDFs (one implementation →
identical results by construction). SURT form mirrors the Common Crawl
index key the reference consumes (`Readme.md:55`, sample keys at
`rust/src/bin/batcher.rs:116-118`); the reference itself never computes
SURT (it reads pre-sorted indexes) — we need it for deterministic global
crawl ordering (SURVEY.md §2.5 B3).

``url_hash64`` uses sha256's first 8 bytes (big-endian, two's-complement
signed so it fits Spark ``LongType``) rather than ``F.xxhash64`` so that
the oracle and UDF share one stdlib implementation (SURVEY.md §7 Step 1).
"""

from __future__ import annotations

import hashlib
import posixpath
import re
from urllib.parse import urlsplit, urlunsplit

_DEFAULT_PORTS = {"http": 80, "https": 443}

# Fast tier (r6, optimization guide §4 — per-task work in the Python hot
# loop): one C-speed regex match builds the (canon, host, surt) triple
# directly for URLs that are ALREADY canonical by inspection — lowercase
# http(s) scheme, lowercase dotted host with no port/userinfo/IPv6/
# trailing dot, a path with no empty ('//') or dot segments, printable
# ASCII with no ';' (urlparse round-trips drop a trailing empty-params
# ';'), no fragment. On this subset every canonicalize_url step is the
# identity, so the triple is assembled from the match groups without
# urlsplit/normpath/urlunsplit (~15 µs → ~1 µs per URL; URL prep was 41%
# of the fused crawl extract's per-page profile). Equality with the slow
# path is pinned by tests/test_urls.py (the hypothesis composition
# property plus the dedicated fast-tier cases).
_SEG_CH = r"[!\"$%&'()*+,\-.0-9:<=>@A-Z\[\\\]^_`a-z{|}~]"  # printable ASCII minus /?#; and space
_QUERY_CH = r"[!\"$%&'()*+,\-./0-9:<=>?@A-Z\[\\\]^_`a-z{|}~]"  # minus #; and space
_SIMPLE_URL_RE = re.compile(
    r"(https?)://([a-z0-9_-]+(?:\.[a-z0-9_-]+)*)"
    r"((?:/" + _SEG_CH + r"+)*/?)"
    r"(?:\?(" + _QUERY_CH + r"*))?\Z"
)


def _simple_triple(url: str) -> tuple[str, str, str] | None:
    """(canon, host, surt) for the already-canonical subset, else None.

    ``url`` must be pre-stripped. Any '/.' occurrence falls back —
    that refuses every dot/dot-dot path segment (where normpath is not
    the identity) and, conservatively, segments merely *starting* with a
    dot plus '/.' runs inside the query."""
    m = _SIMPLE_URL_RE.match(url)
    if m is None or "/." in url:
        return None
    scheme, host, path, query = m.group(1, 2, 3, 4)
    tail = (path or "/") + (f"?{query}" if query else "")
    return (
        f"{scheme}://{host}{tail}",
        host,
        ",".join(reversed(host.split("."))) + ")" + tail,
    )


def _host_reparses(host: str) -> bool:
    """Whether a canonical netloc built from the lowered, dot-stripped
    ``host`` parses back to that host — else the URL has no valid
    authority and both canonicalize_url and canon_host_surt reject it.

    It does not for an empty host (only dots: the canonical form
    "http://" + path would parse a '//'-leading path as the authority),
    a host holding a bracket, or an IPv6 literal urlsplit rejects. The
    last two pass the first parse only when a bracket hides in the
    userinfo (``http://[::1]@]/x``, ``http://[::1]@[::1:99999/``)."""
    if not host or "[" in host or "]" in host:
        return False
    if ":" in host:
        try:
            urlsplit(f"//[{host}]")
        except ValueError:
            return False
    return True


def canonicalize_url(url: str | None) -> str | None:
    """Deterministic canonical form: lowercase scheme+host, strip default
    port, drop fragment, normalize dot-segments, ensure non-empty path.

    Returns None for non-http(s) or unparseable URLs, and for an
    authority with no valid host (``_host_reparses``); those never enter
    the frontier.
    """
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    try:
        host = parts.hostname
        port = parts.port
    except ValueError:
        return None
    if not host:
        return None
    host = host.lower().rstrip(".")
    if not _host_reparses(host):
        return None
    # urlsplit().hostname strips the brackets of IPv6 literals; restore
    # them or the canonical form won't round-trip through urlsplit.
    netloc = f"[{host}]" if ":" in host else host
    if port is not None and port != _DEFAULT_PORTS.get(scheme):
        netloc = f"{netloc}:{port}"
    path = parts.path or "/"
    # Remove dot segments; posixpath.normpath also collapses '//' runs.
    norm = posixpath.normpath(path)
    if norm == ".":
        norm = "/"
    if path.endswith("/") and not norm.endswith("/"):
        norm += "/"
    canon = urlunsplit((scheme, netloc, norm, parts.query, ""))
    if canon[-1].isspace():
        # whitespace the input's strip could not reach — before a dropped
        # '#'/empty '?', or left by dot-segment removal ('/p /.') — ends
        # the form; canonicalize again so the result is a fixpoint (the
        # strip removes it), as surt's re-canonicalization requires
        return canonicalize_url(canon)
    return canon


def host_of(url: str | None) -> str | None:
    """Registered host (lowercase, no port) of a canonical-ish URL."""
    if url is None:
        return None
    try:
        host = urlsplit(url).hostname
    except ValueError:
        return None
    return host.lower().rstrip(".") if host else None


def surt(url: str | None) -> str | None:
    """SURT sort key: reversed host labels + path, e.g.
    ``http://example.com/a?q=1`` → ``com,example)/a?q=1``
    (format per /root/reference/Readme.md:55 and the cluster.idx samples at
    rust/src/bin/batcher.rs:125-128). Port kept when non-default."""
    canon = canonicalize_url(url)
    if canon is None:
        return None
    parts = urlsplit(canon)
    host = parts.hostname or ""
    # IPv6 literals have no label structure to reverse.
    rev = host if ":" in host else ",".join(reversed(host.split(".")))
    if parts.port is not None:
        rev += f":{parts.port}"
    tail = parts.path
    if parts.query:
        tail += "?" + parts.query
    return f"{rev}){tail}"


def canon_host_surt(
    url: str | None,
) -> tuple[str | None, str | None, str | None]:
    """Fused ``(canonicalize_url(u), host_of(canon), surt(canon))`` with a
    SINGLE urlsplit. The composition parses four times per URL (canon 1×,
    host 1×, surt re-canonicalizes + re-parses 2×) — measured at 260 µs/URL
    that made URL prep, not extraction, the top CPU line of a crawl wave.
    Equality with the composition is pinned by tests/test_urls.py (the
    derivation below repeats canonicalize_url's steps, then builds the
    host/surt forms from the same parts; canonicalize_url is idempotent,
    so composing on an already-canonical URL yields the same values).

    Returns ``(None, None, None)`` for URLs canonicalize_url rejects.
    """
    if url is None:
        return (None, None, None)
    url = url.strip()
    if not url:
        return (None, None, None)
    fast = _simple_triple(url)
    if fast is not None:
        return fast
    try:
        parts = urlsplit(url)
    except ValueError:
        return (None, None, None)
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return (None, None, None)
    try:
        host = parts.hostname
        port = parts.port
    except ValueError:
        return (None, None, None)
    if not host:
        return (None, None, None)
    host = host.lower().rstrip(".")
    if not _host_reparses(host):
        return (None, None, None)
    netloc = f"[{host}]" if ":" in host else host
    nondefault_port = port is not None and port != _DEFAULT_PORTS.get(scheme)
    if nondefault_port:
        netloc = f"{netloc}:{port}"
    path = parts.path or "/"
    norm = posixpath.normpath(path)
    if norm == ".":
        norm = "/"
    if path.endswith("/") and not norm.endswith("/"):
        norm += "/"
    canon = urlunsplit((scheme, netloc, norm, parts.query, ""))
    if canon[-1].isspace():
        # not yet a fixpoint: same repeat as canonicalize_url
        return canon_host_surt(canon)
    rev = host if ":" in host else ",".join(reversed(host.split(".")))
    if nondefault_port:
        rev += f":{port}"
    tail = norm + (f"?{parts.query}" if parts.query else "")
    return canon, host, f"{rev}){tail}"


def url_hash64(canon_url: str) -> int:
    """First 8 bytes of sha256(canon_url), as signed int64 (Spark Long)."""
    digest = hashlib.sha256(canon_url.encode("utf-8")).digest()
    value = int.from_bytes(digest[:8], "big")
    return value - (1 << 64) if value >= (1 << 63) else value
