"""Property-based tests (hypothesis): operator invariants on random inputs —
the engine-level guarantees that hold for ANY data, not just the fixtures."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.operators.dedup import dedup_by_key
from wheels_in_motion_analytics_spark.operators.joins import anti_join, asof_join, semi_join

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.integers(min_value=-100, max_value=100),  # value
    ),
    min_size=0,
    max_size=30,
)

keys_strategy = st.lists(
    st.one_of(st.integers(min_value=0, max_value=5), st.none()),
    min_size=0,
    max_size=10,
)


@given(rows=rows_strategy, keys=keys_strategy)
@settings(**SETTINGS)
def test_anti_semi_partition_property(spark, rows, keys):
    """anti(df, K) ∪ semi(df, K) == df and they are disjoint — for any data,
    including NULLs in the key set (the NOT-IN trap can't happen)."""
    df = spark.createDataFrame(rows, "k int, v int") if rows else spark.createDataFrame([], "k int, v int")
    kdf = spark.createDataFrame([(k,) for k in keys], "k int") if keys else spark.createDataFrame([], "k int")
    anti = anti_join(df, kdf, ["k"]).collect()
    semi = semi_join(df, kdf, ["k"]).collect()
    assert len(anti) + len(semi) == len(rows)
    key_set = {k for k in keys if k is not None}
    assert all(r.k not in key_set for r in anti)
    assert all(r.k in key_set for r in semi)


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_dedup_by_key_property(spark, rows):
    """dedup keeps exactly one row per key, and it is the minimum under the
    declared order."""
    if not rows:
        return
    df = spark.createDataFrame(rows, "k int, v int")
    out = dedup_by_key(df, ["k"], [F.col("v").asc(), F.col("k").asc()]).collect()
    expected = {}
    for k, v in rows:
        if k not in expected or v < expected[k]:
            expected[k] = v
    assert {(r.k, r.v) for r in out} == set(expected.items())


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=15
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 9)),
        min_size=0,
        max_size=15,
    ),
)
@settings(**SETTINGS)
def test_asof_join_property(spark, left, right):
    """asof result == brute-force 'latest right row with rt <= t per key'
    computed in Python (value ties broken identically by taking max rt's
    value set membership)."""
    ldf = (
        spark.createDataFrame(left, "k int, t int")
        if left
        else spark.createDataFrame([], "k int, t int")
    )
    rdf = (
        spark.createDataFrame(right, "k int, rt int, val int")
        if right
        else spark.createDataFrame([], "k int, rt int, val int")
    )
    out = asof_join(ldf, rdf, on="k", left_ts="t", right_ts="rt", right_cols=["val"]).collect()
    assert len(out) == len(left)
    for r in out:
        cands = [(rt, val) for (k, rt, val) in right if k == r.k and rt <= r.t]
        if not cands:
            assert r.val is None
        else:
            best_rt = max(rt for rt, _ in cands)
            vals_at_best = {val for rt, val in cands if rt == best_rt}
            assert r.val in vals_at_best


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=0, max_value=10),
        ),
        min_size=1,
        max_size=40,
    ),
    parts=st.integers(min_value=1, max_value=7),
    tiles=st.integers(min_value=1, max_value=5),
)
@settings(**SETTINGS)
def test_two_phase_rank_family_matches_global_window(spark, rows, parts, tiles):
    """global_row_number / global_ntile / global_prefix_sums equal the
    single-partition window forms for ANY data, tie pattern, and partition
    count — the exactness contract the rank-statistic rewrites rely on."""
    from pyspark.sql import Window
    from wheels_in_motion_analytics_spark.operators.windows import (
        global_ntile,
        global_prefix_sums,
        global_row_number,
    )

    # unique tiebreak via index; heavy ties on k and weights on w
    data = [(k, w, i) for i, (k, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "k int, w long, i int")
    order = ["k", "i"]
    w_all = Window.orderBy(*order)

    got_rn = {r["i"]: r["rn"] for r in global_row_number(df, order, partitions=parts).collect()}
    want_rn = {r["i"]: r["rn"] for r in df.withColumn("rn", F.row_number().over(w_all)).collect()}
    assert got_rn == want_rn

    got_t = {r["i"]: r["tile"] for r in global_ntile(df, tiles, order, partitions=parts).collect()}
    want_t = {r["i"]: r["tile"] for r in df.withColumn("tile", F.ntile(tiles).over(w_all)).collect()}
    assert got_t == want_t

    wr = w_all.rowsBetween(Window.unboundedPreceding, 0)
    got_ps = {r["i"]: r["w_cum"] for r in global_prefix_sums(df, order, ["w"], partitions=parts).collect()}
    want_ps = {r["i"]: r["w_cum"] for r in df.withColumn("w_cum", F.sum("w").over(wr)).collect()}
    assert got_ps == want_ps


def _check_select_ranks(spark, rows, grouped, want_ranks):
    """select_ranks over (g, x) rows == sorted()[k-1] for every (group,
    rank); NULL values are ignored and no non-NULL value is a ValueError."""
    from wheels_in_motion_analytics_spark.operators.windows import select_ranks

    want = {}
    for g, v in rows:
        if v is not None:
            want.setdefault(g if grouped else None, []).append(v)
    df = spark.createDataFrame(rows, "g string, x long")
    if not want:
        with pytest.raises(ValueError, match="empty relation"):
            select_ranks(df, "x", want_ranks, "g" if grouped else None)
        return
    got = select_ranks(df, "x", want_ranks, "g" if grouped else None)
    assert set(got) == set(want)
    for g, vs in want.items():
        ordered = sorted(vs)
        vals, n = got[g]
        assert n == len(vs)
        assert vals == {k: ordered[k - 1] for k in want_ranks(n)}


def _ranks_at(kfracs):
    return lambda n: [1 + (kf * (n - 1)) // 100 for kf in kfracs]


@given(
    vals=st.lists(
        st.integers(min_value=-(2**52), max_value=2**52), min_size=1, max_size=60
    ),
    kfrac=st.integers(min_value=0, max_value=100),
)
@settings(**SETTINGS)
def test_global_kth_smallest_matches_sorted_index(spark, vals, kfrac):
    """One rank over the whole relation == sorted()[k-1] for any integer
    multiset (negative values, duplicates, full 53-bit range) and any
    valid rank."""
    _check_select_ranks(spark, [("A", v) for v in vals], False, _ranks_at([kfrac]))


@given(
    vals=st.lists(
        st.one_of(st.integers(min_value=-(2**52), max_value=2**52), st.none()),
        max_size=60,
    ),
    kfracs=st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=6),
)
@example(vals=[], kfracs=[50])
@example(vals=[None, None], kfracs=[0])
@settings(**SETTINGS)
def test_global_rank_values_matches_sorted_index(spark, vals, kfracs):
    """Several ranks at once over the whole relation == sorted()[k-1] for
    every target (duplicates, coincident and adjacent ranks, NULL values
    ignored, no non-NULL value at all a ValueError)."""
    _check_select_ranks(spark, [("A", v) for v in vals], False, _ranks_at(kfracs))


@given(
    groups=st.dictionaries(
        st.sampled_from(["A", "B", "C", None]),
        st.lists(
            st.one_of(st.integers(min_value=-(2**52), max_value=2**52), st.none()),
            max_size=40,
        ),
        max_size=4,
    ),
    kfracs=st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=6),
)
@example(groups={"A": [None, None]}, kfracs=[0])
@example(groups={None: [7, None, -3], "A": [5]}, kfracs=[0, 50, 50, 100])
@settings(**SETTINGS)
def test_grouped_rank_values_matches_sorted_index(spark, groups, kfracs):
    """Group-keyed selection == per-group sorted()[k-1] for every (group,
    rank) at once: single-value groups, a NULL group key (its own group,
    as GROUP BY), NULL values (ignored, as percentile()) and the empty
    relation."""
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    _check_select_ranks(spark, rows, True, _ranks_at(kfracs))


@given(
    ppm=st.integers(min_value=-2_000_000, max_value=2_000_000),
    dxx=st.integers(min_value=1, max_value=10**26),
    dyy=st.integers(min_value=1, max_value=10**26),
)
@settings(**SETTINGS)
def test_with_corr_ppm_matches_python_isqrt(spark, ppm, dxx, dyy):
    """The in-plan corrected floor-isqrt ppm must equal math.isqrt-based
    exact arithmetic for arbitrary moment magnitudes up to ~1e26 (the
    sf1 envelope). num is drawn within 2x the Cauchy-Schwarz envelope
    (|num| <= 2*sqrt(dxx*dyy)) — the helper's BIGINT output column only
    holds in-contract ratios; wildly larger num would overflow int64 by
    construction (callers always satisfy Cauchy-Schwarz)."""
    import math

    from wheels_in_motion_analytics_spark.functions.stats import with_corr_ppm

    num = ppm * math.isqrt(dxx * dyy) // 10**6
    df = spark.createDataFrame(
        [(str(num), str(dxx), str(dyy))], "num string, dxx string, dyy string"
    ).select(
        F.col("num").cast("decimal(38,0)").alias("num"),
        F.col("dxx").cast("decimal(38,0)").alias("dxx"),
        F.col("dyy").cast("decimal(38,0)").alias("dyy"),
    )
    got = with_corr_ppm(df).collect()[0].rho_ppm
    a, b = math.isqrt(dxx), math.isqrt(dyy)
    expect = (1 if num >= 0 else -1) * (
        (2 * abs(num) * 10**6 + a * b) // (2 * a * b)
    )
    assert got == expect


# ---------------------------------------------------------------------------
# Round-5 session-3 cores: histogram stump and Kaplan-Meier
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),  # cents
            st.integers(min_value=0, max_value=1),  # pos
        ),
        min_size=2,
        max_size=40,
    ),
    bins=st.sampled_from([2, 4, 16]),
)
@settings(**SETTINGS)
def test_stump_best_split_matches_exhaustive(spark, rows, bins):
    """The histogram stump equals the exhaustive integer-Gini argmax for
    ANY (value, label) data and any bin count — including all-one-class,
    duplicate values, and negative values."""
    from wheels_in_motion_analytics_spark.functions.ml import stump_best_split

    df = spark.createDataFrame(rows, "cents long, pos int")
    got = stump_best_split(df, bins=bins).collect()
    lo = min(c for c, _ in rows)
    hi = max(c for c, _ in rows)
    hist = {}
    for c, p in rows:
        b = (c - lo) * bins // (hi - lo + 1)
        n0, p0 = hist.get(b, (0, 0))
        hist[b] = (n0 + 1, p0 + p)
    nt = len(rows)
    pt = sum(p for _, p in rows)
    best = None
    nl = pl = 0
    for b in sorted(hist):
        n, p = hist[b]
        nl, pl = nl + n, pl + p
        if nl == 0 or nt == nl:
            continue
        nr, pr = nt - nl, pt - pl
        a = (pl * pl + (nl - pl) ** 2) * nr + (pr * pr + (nr - pr) ** 2) * nl
        score = a * 1_000_000 // (nl * nr)
        key = (-score, b)
        if best is None or key < best[0]:
            best = (key, b, nl, pl, nr, pr, score)
    if best is None:
        # single occupied bin: no valid split — the operator returns no row
        assert got == []
        return
    _, b, nl, pl, nr, pr, score = best
    r = got[0]
    assert (r.split_bin, r.n_left, r.pos_left, r.n_right, r.pos_right,
            r.score_micro) == (b, nl, pl, nr, pr, score)


@given(
    subjects=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),  # duration
            st.integers(min_value=0, max_value=1),  # event flag
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_kaplan_meier_matches_python_product_limit(spark, subjects):
    """KM core vs a direct Python product-limit walk: risk sets, event
    counts, and the 9dp log-survival agree for ANY censored sample; rows
    at/after a full-death time are NULL."""
    import math
    from decimal import Decimal

    from wheels_in_motion_analytics_spark.functions.stats import (
        kaplan_meier_curve,
    )

    df = spark.createDataFrame(subjects, "dur int, ev int")
    got = {r.dur_days: r for r in kaplan_meier_curve(df).collect()}
    from collections import Counter

    d = Counter()
    m = Counter()
    for dur, ev in subjects:
        m[dur] += 1
        d[dur] += ev
    n_total = len(subjects)
    seen = 0
    acc = Decimal(0)
    dead = False
    for dur in sorted(m):
        n_risk = n_total - seen
        seen += m[dur]
        r = got[dur]
        assert (r.n_risk, r.d_events, r.c_censored) == (
            n_risk, d[dur], m[dur] - d[dur],
        )
        if not dead and d[dur] > 0 and d[dur] < n_risk:
            acc += Decimal(str(round(math.log(1 - d[dur] / n_risk), 9)))
        if d[dur] >= n_risk:
            dead = True
        if dead:
            assert r.log_survival is None
        else:
            assert r.log_survival == round(float(acc), 6)
    assert set(got) == set(m)


# ---------------------------------------------------------------------------
# Vector-search core: cosine top-k and frozen-IVF cell ranking vs numpy
# ---------------------------------------------------------------------------


def _fold_dot(a, b):
    """The engine's dot(): a sequential double fold of the products."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _round_half_up(x, dp):
    """round() on a double: HALF_UP on its shortest decimal form."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP))


_small_vec = st.lists(st.integers(-3, 3), min_size=4, max_size=4).filter(any)


@given(
    base=st.lists(_small_vec, min_size=1, max_size=6),
    dups=st.lists(st.integers(0, 5), max_size=4),
    pairs=st.sets(st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=40),
    k=st.integers(1, 6),
)
@example(base=[[1, 0, 0, 0]], dups=[0, 0], pairs=set(), k=3)  # no candidates
@example(  # duplicate neighbors tie on cosine; k exceeds the candidate count
    base=[[1, 2, 0, 0], [0, 1, 0, 0]],
    dups=[0, 0, 1],
    pairs={(0, 1), (0, 2), (0, 3), (0, 4), (2, 3)},
    k=6,
)
@settings(**SETTINGS)
def test_cosine_topk_matches_lexsort(spark, base, dups, pairs, k):
    """Exact cosine re-rank + top-k == numpy lexsort on (cosine desc,
    neighbor_id asc) per query, for any candidate set: duplicate vectors
    force cosine ties onto the neighbor_id tiebreak, k may exceed a
    query's candidates, and no candidates gives no rows."""
    import math

    import numpy as np

    from wheels_in_motion_analytics_spark.functions.similarity import (
        _exact_cosine_rerank,
        _norm_vectors_of,
        cosine_topk,
    )

    vecs = [[float(x) for x in v] for v in base + [base[d % len(base)] for d in dups]]
    pairs = sorted((q, n) for q, n in pairs if q != n and max(q, n) < len(vecs))
    nv = _norm_vectors_of(
        spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<float>")
    )
    cand = spark.createDataFrame(pairs, "query_id long, neighbor_id long")
    top = cosine_topk(_exact_cosine_rerank(nv, cand), k)
    got = {(r.query_id, r.rnk): (r.neighbor_id, r.cosine) for r in top.collect()}

    nrm = [math.sqrt(_fold_dot(v, v)) for v in vecs]
    want = {}
    for q in sorted({q for q, _ in pairs}):
        nb = np.array([n for qq, n in pairs if qq == q])
        cos = np.array(
            [_round_half_up(_fold_dot(vecs[q], vecs[n]) / (nrm[q] * nrm[n]), 4) for n in nb]
        )
        for rnk, i in enumerate(np.lexsort((nb, -cos))[:k], 1):
            want[(q, rnk)] = (int(nb[i]), float(cos[i]))
    assert got == want


@given(
    rand=st.lists(st.lists(st.integers(-3, 3), min_size=64, max_size=64).filter(any), max_size=3),
    copies=st.lists(st.integers(0, 15), max_size=3),
    mids=st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)), max_size=2),
    dups=st.integers(0, 2),
    keep=st.sampled_from([1, 2, 3, 16, 20]),
)
@example(rand=[], copies=[], mids=[], dups=0, keep=3)  # empty relation
@example(rand=[], copies=[4, 4], mids=[(2, 9)], dups=1, keep=20)
@settings(**SETTINGS)
def test_cell_ranks_matches_lexsort(spark, rand, copies, mids, dups, keep):
    """Frozen-IVF cell ranking == numpy lexsort on (6-dp sim desc, cell
    asc) per vector: exact centroid copies (sim 1.0), centroid midpoints
    (two cells tie on sim, so the cell id decides), duplicate vectors,
    keep beyond the 16 cells, and the empty relation."""
    import math

    import numpy as np

    from wheels_in_motion_analytics_spark.functions.ivf_artifact import (
        IVF_FROZEN_CENTROIDS,
    )
    from wheels_in_motion_analytics_spark.functions.similarity import (
        _norm_vectors_of,
        cell_ranks,
    )

    cents = [[float(v) for v in row] for row in IVF_FROZEN_CENTROIDS]
    vecs = (
        [[float(x) for x in v] for v in rand]
        + [cents[c] for c in copies]
        + [[a + b for a, b in zip(cents[i], cents[j])] for i, j in mids]
    )
    vecs += vecs[:dups]
    nv = _norm_vectors_of(
        spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<double>")
    )
    ranked = cell_ranks(nv, keep)
    assert ranked.columns == nv.columns + ["cell", "sim", "rnk"]
    got = {(r.vec_id, r.rnk): (r.cell, r.sim) for r in ranked.collect()}

    cells = np.arange(len(cents))
    want = {}
    for vid, v in enumerate(vecs):
        nrm = math.sqrt(_fold_dot(v, v))
        sim = np.array([_round_half_up(_fold_dot(v, c) / nrm, 6) for c in cents])
        for rnk, i in enumerate(np.lexsort((cells, -sim))[:keep], 1):
            want[(vid, rnk)] = (int(i), float(sim[i]))
    assert got == want
