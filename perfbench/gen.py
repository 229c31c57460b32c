"""Seeded workload generator: pages, seeds and robots rows for one
(workload, seed), built from nothing but the seed.

The same seed always yields the same rows. The engine receives them only
as DataFrames (``to_spark``); the reference checks receive the same
Python rows. Nothing here touches the network or the file system.

Per seed, the generator varies, within narrow bands so that run-to-run
work stays comparable:

- host skew: the share of pages on the largest (and slowest) host;
- seed density: about one page in ``SEED_EVERY`` is a seed;
- comment share: pages carrying ``<!-- -->`` blocks, which send
  ``extract_page`` from the fast scanner to the ``html.parser`` fallback;
- non-ASCII share: pages with accented, Cyrillic and CJK words;
- relative-href share: links written as relative or ``;``-param hrefs,
  which take the slow (``urljoin``) URL tier; the rest are split between
  already-canonical hrefs (fast tier) and absolute hrefs that need
  canonicalizing (uppercase host, default port, fragment).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

_WORDS = (
    "crawl web page index fetch parse link host text data wave spark "
    "frontier queue batch filter extract token corpus engine shard table "
    "scan join merge window order group value stream query column sort"
).split()
_WIDE_WORDS = (
    "café naïve Straße façade über smörgåsbord jalapeño "
    "данные поиск страница 東京 データ 検索 网页 抓取"
).split()
_LANGS = ["eng", "eng", "eng", "eng", "ind,eng", "eng,deu", "deu", "fra", None]
_STATUSES = [200] * 17 + [301, 404, 500]
SEED_EVERY = 8
_PARTITIONS = 4  # = local[4] cores = the session's shuffle partitions


@dataclass
class Inputs:
    pages: list[dict] = field(default_factory=list)  # url, html, lang, status
    seeds: list[dict] = field(default_factory=list)  # url, priority
    robots: list[dict] = field(default_factory=list)  # host, crawl_delay, disallow
    knobs: dict = field(default_factory=dict)


def _paragraph(rng: random.Random, wide: bool) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randrange(8, 20))]
    if wide:
        for _ in range(rng.randrange(1, 4)):
            words.insert(rng.randrange(len(words) + 1), rng.choice(_WIDE_WORDS))
    return " ".join(words)


def generate(n_pages: int, seed: int) -> Inputs:
    """``n_pages`` pages over 24 hosts, about one page in ``SEED_EVERY``
    a seed (the exact ratio is drawn from the seed)."""
    rng = random.Random(seed)
    knobs = {
        "top_host_share": round(rng.uniform(0.32, 0.38), 4),
        "comment_share": round(rng.uniform(0.19, 0.21), 4),
        "non_ascii_share": round(rng.uniform(0.19, 0.21), 4),
        "relative_href_share": round(rng.uniform(0.19, 0.21), 4),
        "seed_every": rng.randrange(SEED_EVERY - 1, SEED_EVERY + 2),
    }
    n_hosts = 24
    hosts = [f"h{i}.site{seed % 97}.test" for i in range(n_hosts)]
    top = int(knobs["top_host_share"] * n_pages)
    host_of = [0] * top + [1 + rng.randrange(n_hosts - 1) for _ in range(n_pages - top)]
    rng.shuffle(host_of)
    by_host: list[list[int]] = [[] for _ in range(n_hosts)]
    for i, h in enumerate(host_of):
        by_host[h].append(i)
    urls = [f"http://{hosts[host_of[i]]}/doc/{i}" for i in range(n_pages)]

    out = Inputs(knobs=knobs)
    for i in range(n_pages):
        h = host_of[i]
        wide = rng.random() < knobs["non_ascii_share"]
        hrefs = []
        for _ in range(rng.randrange(3, 7)):
            if rng.random() < 0.5:  # same host
                t = rng.choice(by_host[h])
                r = rng.random()
                if r < knobs["relative_href_share"]:
                    hrefs.append(
                        f"/doc/{t}" if r < knobs["relative_href_share"] / 2
                        else f"../doc/{t};v=1" if rng.random() < 0.5
                        else f"../doc/{t}"
                    )
                else:
                    hrefs.append(urls[t])
            else:  # another host: canonical, or one needing canonicalization
                t = rng.randrange(n_pages)
                host = hosts[host_of[t]]
                r = rng.random()
                hrefs.append(
                    f"http://{host.upper()}/doc/{t}" if r < 0.1
                    else f"http://{host}:80/doc/{t}" if r < 0.2
                    else f"{urls[t]}#top" if r < 0.3
                    else urls[t]
                )
        r = rng.random()
        if r < 0.05:  # disallowed by robots
            hrefs.append(f"/private/{i}")
        elif r < 0.15:  # not in the index
            hrefs.append(f"http://{hosts[h]}/missing/{i}")
        parts = [f"<html><head><title>doc {i}</title></head><body><h1>Doc {i}</h1>"]
        paras = [_paragraph(rng, wide) for _ in range(rng.randrange(4, 9))]
        for j, p in enumerate(paras):
            link = f' <a href="{hrefs[j]}">see {j}</a>' if j < len(hrefs) else ""
            parts.append(f"<p>{p}{link}</p>")
        if len(hrefs) > len(paras):
            parts.append(
                "<p>" + " ".join(f'<a href="{u}">more</a>' for u in hrefs[len(paras):]) + "</p>"
            )
        if rng.random() < 0.2:
            parts.append("<p>" + paras[0] + "</p>")  # repeated block
        if rng.random() < 0.3:
            parts.append("<script>var t = 'drop';</script>")
        if rng.random() < knobs["comment_share"]:
            parts.insert(2, "<!-- nav: generated comment -->")
        parts.append("<div>tail &amp; footer</div></body></html>")
        out.pages.append(
            {
                "url": urls[i],
                "html": "".join(parts).encode("utf-8"),
                "lang": rng.choice(_LANGS),
                "status": rng.choice(_STATUSES),
            }
        )

    for i in range(0, n_pages, knobs["seed_every"]):
        out.seeds.append({"url": urls[i], "priority": 0})
    for k, host in enumerate(hosts):
        out.robots.append(
            {
                "host": host,
                # the largest host is also the slowest: half the budget
                "crawl_delay": 2.0 if k == 0 else 1.0,
                "disallow": ["/private/"],
            }
        )
    return out


def to_spark(spark, inputs: Inputs):
    """(pages, seeds, robots) DataFrames; pages hash-distributed by url
    over ``_PARTITIONS``, persisted and counted (the cache fill)."""
    import pandas as pd
    from pyspark.sql import functions as F

    pages = spark.createDataFrame(
        pd.DataFrame(inputs.pages, columns=["url", "html", "lang", "status"]),
        "url string, html binary, lang string, status int",
    ).repartition(_PARTITIONS, F.col("url")).persist()
    pages.count()
    seeds = spark.createDataFrame(
        pd.DataFrame(inputs.seeds, columns=["url", "priority"]),
        "url string, priority int",
    )
    robots = spark.createDataFrame(
        [(r["host"], r["crawl_delay"], r["disallow"]) for r in inputs.robots],
        "host string, crawl_delay double, disallow array<string>",
    )
    return pages, seeds, robots
