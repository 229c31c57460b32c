"""Crawl semantics shared by the Spark engine and the single-node oracle.

The wave semantics (one frontier expansion) are defined ONCE here so both
implementations agree by specification:

1. candidates     = frontier. Frontier ∩ seen = ∅ always holds, by
                    step 9: the seed frontier meets an empty seen set,
                    and each later frontier is built disjoint from the
                    seen set it is paired with (new links minus seen',
                    plus deferred candidates, which were neither seen
                    nor processed). Seen membership is tested only there.
2. robots gate    : host policy from the robots table (default crawl_delay
                    DEFAULT_CRAWL_DELAY, empty disallow); a candidate whose
                    URL *path* starts with any disallow prefix is dropped
                    and marked seen.
3. index lookup   : candidates not present in the pages table are misses —
                    marked seen, never fetched (the reference analog: a URL
                    absent from the CDX index simply doesn't exist).
                    Each candidate matches at most one pages row and its
                    host at most one robots row; the Spark wave checks
                    this every wave (candidate rows == frontier rows) and
                    raises on a duplicate capture or robots host.
4. eligibility    : F1+F2 on index metadata *before* any fetch, exactly as
                    the reference batcher filters CDX entries before workers
                    download WARC slices (rust/src/bin/batcher.rs:88-95):
                    status == 200 AND language token-match (Go semantics,
                    golang/batcher/batcher.go:110-130). Ineligible → seen.
5. politeness     : per-host budget = max(1, floor(wave_seconds /
                    crawl_delay)) pages per wave; within a host, candidates
                    ranked by ORDER_KEY = (priority ASC, surt ASC,
                    canon_url ASC); rank ≤ budget → selected, rest deferred
                    (stay in the frontier, NOT seen). Time is logical —
                    wave_seconds is a budget knob, not wall-clock
                    (SURVEY.md §7 "hard" item 4).
6. crawl order    : selected URLs across all hosts ordered by ORDER_KEY,
                    assigned consecutive global sequence numbers continuing
                    across waves (deterministic total order, SURVEY.md §2.5 B3).
7. fetch+extract  : html of selected URLs → extract_text (byte-identity
                    invariant) + extract_links; extraction returning None
                    is counted (F9) and yields no result row but the URL
                    still occupies its crawl-order slot.
8. seen update    : seen ∪ disallowed ∪ misses ∪ ineligible ∪ selected.
9. discovery      : out-links of selected pages, canonicalized; links
                    already seen or already in the frontier keep their
                    existing entry (min priority wins); new links enter the
                    frontier with priority = parent priority + 1 (BFS depth).
"""

from __future__ import annotations

from dataclasses import dataclass

DEFAULT_CRAWL_DELAY = 1.0
LANGUAGE = "eng"


@dataclass(frozen=True)
class CrawlConfig:
    wave_seconds: float = 4.0
    default_crawl_delay: float = DEFAULT_CRAWL_DELAY
    language: str = LANGUAGE
    max_waves: int = 8
    salt_partitions: int = 8  # politeness top-k salting fan-out (Spark only)
    # UD2 swappable extractor: key into functions/extract.py::EXTRACTORS.
    # "rust" = trafilatura-semantics canonical (T2 byte-identity pin);
    # "go" = the goquery walk (golang/worker/worker.go:36-51). The wave
    # AND the single-node oracle both resolve this key, so crawl-equality
    # tests hold under either extractor.
    extractor: str = "rust"


def host_budget(wave_seconds: float, crawl_delay: float) -> int:
    """max(1, floor(wave_seconds / crawl_delay)) — identical float
    arithmetic on both sides (IEEE double in Python and in Spark)."""
    return max(1, int(wave_seconds // crawl_delay))
