"""Property-based (hypothesis) tests: a Spark law (kselect == brute-force
per-group top-k) at a small example budget. Hypothesis explores random
weighted bipartite edge sets with duplicate weights that hand-picked
fixtures can miss; generators are deterministic under hypothesis's
derandomized CI profile (seed printed on failure).
"""

from hypothesis import given, settings, HealthCheck
from hypothesis import strategies as st


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(data=st.data(), k=st.integers(1, 4))
def test_kselect_matches_bruteforce_prop(spark, data, k):
    """kselect (two-phase salted top-k per dst) == pandas brute force under
    the same (w desc, src asc) total order, on random weighted bipartite
    edge sets with duplicate weights."""
    n = data.draw(st.integers(1, 60))
    pairs = data.draw(
        st.lists(
            st.tuples(st.integers(0, 8), st.integers(0, 12)),
            min_size=n, max_size=n, unique=True,
        )
    )
    rows = [
        (int(s), int(d), float(data.draw(st.integers(0, 5))))
        for s, d in pairs
    ]
    from combblas_spark.operators.kselect import kselect

    df = spark.createDataFrame(rows, "src long, dst long, w double")
    got = sorted(
        (r.src, r.dst, r.w) for r in kselect(df, k, by="dst").collect()
    )
    want = []
    by_dst = {}
    for s, d, w in rows:
        by_dst.setdefault(d, []).append((s, w))
    for d, lst in by_dst.items():
        lst.sort(key=lambda t: (-t[1], t[0]))
        want += [(s, d, w) for s, w in lst[:k]]
    assert got == sorted(want)
