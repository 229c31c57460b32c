"""Hypothesis property test for operators/dedup.py::span_dedup against
a brute-force pure-Python reference on random small
corpora over a tiny token alphabet (so duplicate n-grams are dense and
every branch — overlaps, island merges, full-dup docs, within-doc
repeats — gets exercised).

Reference semantics (the Lee-et-al. discipline the operator implements):
a window of n consecutive tokens is a DUPLICATE iff the same token
sequence occurs anywhere in the corpus at a strictly smaller
(doc_id, position) pack; covered token positions are the union of all
duplicate windows' ranges; spans are the maximal contiguous covered
runs; survivors reassemble in order.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

N = 3
ALPHABET = ["a", "b", "c", "d"]

doc_texts = st.lists(
    st.lists(st.sampled_from(ALPHABET), min_size=0, max_size=12).map(
        " ".join
    ),
    min_size=1,
    max_size=6,
)


def _reference(rows: list[tuple[int, str]], n: int) -> dict[int, tuple]:
    first: dict[tuple, tuple] = {}
    toks = {i: t.split() for i, t in rows}
    for i in sorted(toks):
        tt = toks[i]
        for p in range(len(tt) - n + 1):
            g = tuple(tt[p : p + n])
            if g not in first:
                first[g] = (i, p)
    out = {}
    for i in sorted(toks):
        tt = toks[i]
        covered: set[int] = set()
        for p in range(len(tt) - n + 1):
            if first[tuple(tt[p : p + n])] != (i, p):
                covered |= set(range(p, p + n))
        runs = 0
        for k in sorted(covered):
            if k - 1 not in covered:
                runs += 1
        kept = [t for k, t in enumerate(tt) if k not in covered]
        out[i] = (
            len(tt),
            runs,
            len(covered),
            len(tt) - len(covered),
            " ".join(kept),
        )
    return out


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=doc_texts)
def test_span_dedup_strategies_agree_with_reference(spark, texts):
    from basic_common_crawl_pipeline_spark.operators.dedup import span_dedup

    # word_tokens collapses whitespace; an all-empty text tokenizes to
    # one '' token on the Spark side — keep generated docs non-degenerate
    rows = [(i, t if t else "z") for i, t in enumerate(texts)]
    want = _reference(rows, N)
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    caches: list = []
    try:
        got = {
            r["doc_id"]: (
                r["n_tokens"],
                r["n_spans"],
                r["n_dup_tokens"],
                r["n_kept"],
                r["text_deduped"],
            )
            for r in span_dedup(df, n=N, cache=caches).collect()
        }
        assert got == want
    finally:
        for c in caches:
            c.unpersist()


# ---------------------------------------------------------------------------
# kmeans_int property: random small vector sets (duplicates and exact
# ties included by construction — coordinates come from a tiny grid)
# against the same pure-Python integer replay as the deterministic test.
# ---------------------------------------------------------------------------

km_vectors = st.lists(
    st.lists(
        st.sampled_from([-0.3, -0.1, 0.0, 0.1, 0.3]), min_size=3, max_size=3
    ),
    min_size=4,
    max_size=14,
)


from tests.kmeans_ref import kmeans_int_ref as _km_ref  # noqa: E402


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=km_vectors)
def test_kmeans_int_property_matches_reference(spark, vecs):
    from basic_common_crawl_pipeline_spark.operators.similarity import (
        kmeans_int,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    k = min(3, len(rows))
    want = _km_ref(rows, k=k, rounds=2)
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cache: list = []
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_int(df, k=k, rounds=2, cache=cache).collect()
    }
    for c in cache:
        c.unpersist()
    assert got == want
