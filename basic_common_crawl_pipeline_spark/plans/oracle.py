"""Single-node reference oracle (SURVEY.md §7 Step 2).

A plain-Python, sequential implementation of the crawl semantics defined
in ``plans/config.py`` — the analog of running the reference's
batcher+worker loop (rust/src/bin/batcher.rs:54-107 +
rust/src/bin/worker.rs:21-85) over the synthetic pages table. Produces
golden ``crawl_order`` / ``extracted`` / ``seen`` / ``metrics`` that the
Spark engine must match exactly (crawl-order equality, seen-set equality,
byte-identical text per url — BASELINE.json).

Uses the same ``functions.*`` scalar core as the Spark UDFs; contains no
Spark imports.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import urlsplit

from ..functions.extract import EXTRACTORS
from ..functions.links import extract_links
from ..functions.urls import canonicalize_url, host_of, surt
from .config import CrawlConfig, host_budget


@dataclass
class OracleResult:
    crawl_order: list[dict] = field(default_factory=list)
    extracted: dict[str, str] = field(default_factory=dict)
    seen: set[str] = field(default_factory=set)
    metrics: list[dict] = field(default_factory=list)


def _token_langs(lang: str | None) -> set[str]:
    if lang is None:
        return set()
    return {t.strip() for t in lang.split(",")}


def run_oracle(
    pages: list[dict],
    seeds: list[dict],
    robots: list[dict],
    config: CrawlConfig = CrawlConfig(),
) -> OracleResult:
    pages_by_url = {p["url"]: p for p in pages}
    robots_by_host = {r["host"]: r for r in robots}

    result = OracleResult()
    # frontier: canon_url -> priority (min wins); host/surt derived on use
    frontier: dict[str, int] = {}
    for s in seeds:
        canon = canonicalize_url(s["url"])
        if canon is not None:
            prio = int(s.get("priority", 0))
            if canon not in frontier or prio < frontier[canon]:
                frontier[canon] = prio

    seq = 0
    for wave in range(config.max_waves):
        if not frontier:
            break
        # the invariant the engine's step 1 relies on (plans/config.py)
        assert frontier.keys().isdisjoint(result.seen), (
            f"wave {wave}: frontier URLs already seen"
        )
        candidates = [
            (url, prio) for url, prio in frontier.items() if url not in result.seen
        ]
        disallowed, misses, ineligible, eligible = [], [], [], []
        for url, prio in candidates:
            host = host_of(url) or ""
            policy = robots_by_host.get(host)
            dis = policy["disallow"] if policy else []
            path = urlsplit(url).path
            if any(path.startswith(d) for d in dis):
                disallowed.append(url)
                continue
            page = pages_by_url.get(url)
            if page is None:
                misses.append(url)
                continue
            if page["status"] == 200 and config.language in _token_langs(page["lang"]):
                eligible.append((url, prio, host))
            else:
                ineligible.append(url)

        # politeness: per-host budget over ORDER_KEY
        by_host: dict[str, list[tuple[int, str, str]]] = {}
        for url, prio, host in eligible:
            by_host.setdefault(host, []).append((prio, surt(url), url))
        selected: list[tuple[int, str, str]] = []
        deferred: list[str] = []
        for host, entries in by_host.items():
            entries.sort()
            policy = robots_by_host.get(host)
            delay = policy["crawl_delay"] if policy else config.default_crawl_delay
            budget = host_budget(config.wave_seconds, delay)
            selected.extend(entries[:budget])
            deferred.extend(url for _, _, url in entries[budget:])

        # crawl order + fetch + extract + discovery
        selected.sort()
        extracted_count = 0
        extract_failures = 0
        fetched_bytes = 0
        discovered: list[tuple[str, int]] = []
        for prio, _surt_key, url in selected:
            page = pages_by_url[url]
            seq += 1
            html = page["html"]
            fetched_bytes += (
                len(html) if isinstance(html, (bytes, bytearray))
                else len(html.encode("utf-8")) if html is not None else 0
            )
            text = EXTRACTORS[config.extractor](page["html"])
            result.crawl_order.append(
                {
                    "seq": seq,
                    "wave": wave,
                    "url": url,
                    "host": host_of(url),
                    "priority": prio,
                }
            )
            if text is not None:
                result.extracted[url] = text
                extracted_count += 1
            else:
                extract_failures += 1
            for link in extract_links(page["html"], url):
                discovered.append((link, prio + 1))

        processed = (
            set(disallowed) | set(misses) | set(ineligible)
            | {url for _, _, url in selected}
        )
        result.seen |= processed

        new_frontier: dict[str, int] = {}
        for url in deferred:
            new_frontier[url] = frontier[url]
        for url, prio in frontier.items():  # carry-over anything untouched
            if url not in processed and url not in new_frontier:
                new_frontier[url] = prio
        dedup_dropped = 0
        for link, prio in discovered:
            if link in result.seen:
                dedup_dropped += 1
                continue
            if link not in new_frontier or prio < new_frontier[link]:
                if link in new_frontier:
                    dedup_dropped += 1
                new_frontier[link] = prio
        frontier = new_frontier

        result.metrics.append(
            {
                "wave": wave,
                "candidates": len(candidates),
                "disallowed": len(disallowed),
                "misses": len(misses),
                "ineligible": len(ineligible),
                "selected": len(selected),
                "deferred": len(deferred),
                "extracted": extracted_count,
                "extract_failures": extract_failures,
                "discovered": len(discovered),
                "fetched_bytes": fetched_bytes,
                "frontier_size": len(frontier),
            }
        )
    return result
