"""Core DDSketch kernel parity tests, ported from the reference's pg_regress
suite (/root/reference/test/sql/ddsketch.sql) per SURVEY §5 / FIXTURES.md.

Oracle: numpy lower-quantile (method="lower"), matching the reference's
lower_quantile extension convention (test/sql/ddsketch.sql:208).
"""

import math

import numpy as np
import pytest

from ddsketch_spark.core.ddsketch import (
    DDSketch,
    map_index,
    map_value,
    map_lower_bound,
    map_upper_bound,
    mapping_params,
    union,
)

QS = [0.01, 0.05, 0.1, 0.5, 0.9, 0.95, 0.99]
CONFIGS = [(0.05, 1024), (0.01, 2048), (0.001, 32768)]
N = 10_000
FUZZ = 1.01  # test/sql/ddsketch.sql:94-109 — 1% fuzz on the alpha bound


def rel_err_ok(est, exact, alpha):
    """check_relative_error (test/sql/ddsketch.sql:73-130): sign must match,
    relative error < alpha * fuzz."""
    if exact == 0:
        return abs(est) < 1e-9 or abs(est) <= alpha * FUZZ
    if (est < 0) != (exact < 0):
        return False
    return abs(est - exact) / abs(exact) < alpha * FUZZ


def distributions():
    rng = np.random.default_rng(23982)
    u = rng.random(N)
    z = rng.standard_normal(N)
    i = np.arange(1, N + 1, dtype=np.float64)
    out = {
        "asc": i,
        "desc": N - i,
        "uniform": u * N,
        "sqrt_skew": N * np.sqrt(u),
        "sqrt2_skew": N * np.power(u, 0.25),
        "pow_skew": N * np.power(u, 4),
        "pow2_skew": N * np.power(u, 8),
        "normal": np.clip(0.5 + 0.1 * z, 0.0, 1.0),
        "lognormal": np.exp(z),
        "pareto": np.power(1.0 - u, -1.0 / 1.5),  # Pareto(alpha=1.5, xm=1)
    }
    # the reference shifts EVERY family to straddle zero (negative store +
    # zero bucket on every shape, test/sql/ddsketch.sql:212-236, 447-,
    # 1209-, ...): median-shift each base distribution (FIXTURES.md F1)
    for name in list(out):
        out[f"{name}_straddle"] = out[name] - np.median(out[name])
    # and an all-negative stream (asc with i - N): negative store only
    out["asc_neg"] = i - N - 1
    return out


DISTS = distributions()


@pytest.mark.parametrize("alpha,nbuckets", CONFIGS)
@pytest.mark.parametrize("dist", sorted(DISTS))
def test_quantile_relative_error(dist, alpha, nbuckets):
    data = DISTS[dist]
    s = DDSketch(alpha, nbuckets).update(data)
    exact = np.quantile(data, QS, method="lower")
    est = s.quantile(QS)
    for q, e, x in zip(QS, est, exact):
        assert rel_err_ok(e, x, alpha), (dist, alpha, q, e, x)


@pytest.mark.parametrize("dist", ["uniform", "lognormal", "pareto"])
def test_max_quantile_within_bound(dist):
    data = DISTS[dist]
    s = DDSketch(0.01, 4096).update(data)
    assert rel_err_ok(float(s.quantile(1.0)), float(data.max()), 0.01)


def test_monotone_quantile_vector():
    # 99-point vector must be non-decreasing (test/sql/ddsketch.sql:238-251)
    qs = np.arange(1, 100) / 100.0
    for dist in ("uniform", "uniform_straddle", "lognormal"):
        s = DDSketch(0.05, 1024).update(DISTS[dist])
        est = s.quantile(qs)
        assert np.all(np.diff(est) >= 0), dist


def test_zero_and_negative_stores():
    data = np.array([-5.0, -1.0, 0.0, 0.0, 1.0, 5.0])
    s = DDSketch(0.05, 1024).update(data)
    assert s.zero_count == 2
    assert s.count == 6
    assert sum(s.neg.values()) == 2
    assert sum(s.pos.values()) == 2
    assert s.quantile(0.0) < 0
    assert s.quantile(1.0) > 0


def test_rank_of_vs_percent_rank():
    # tolerance 0.05 absolute (test/sql/ddsketch.sql:2507-2560)
    data = DISTS["uniform"]
    s = DDSketch(0.05, 1024).update(data)
    for x in [100.0, 1000.0, 5000.0, 9000.0]:
        exact = np.count_nonzero(data < x) / (len(data) - 1)
        assert abs(float(s.rank_of(x)) - exact) < 0.05


def test_weighted_equals_expanded():
    # weighted build == count-expanded build (test/sql/ddsketch.sql:2453-2469)
    rng = np.random.default_rng(7)
    v = rng.random(500) * 100
    c = 1 + (np.arange(500) % 13)
    s_w = DDSketch(0.05, 1024).update(v, c)
    s_e = DDSketch(0.05, 1024).update(np.repeat(v, c))
    assert s_w == s_e
    assert s_w.to_bytes() == s_e.to_bytes()


def test_incremental_equals_batch():
    # one-by-one == batch (test/sql/ddsketch.sql:2434-2450)
    rng = np.random.default_rng(3)
    v = rng.random(200) * 50 - 25
    s1 = DDSketch(0.05, 1024)
    for x in v:
        s1.add(float(x))
    s2 = DDSketch(0.05, 1024).update(v)
    assert s1 == s2


def test_merge_associative_commutative():
    rng = np.random.default_rng(11)
    parts = [rng.random(1000) * 10 ** k for k in range(3)]
    sks = [DDSketch(0.01, 2048).update(p) for p in parts]
    ab_c = union(union(sks[0], sks[1]), sks[2])
    a_bc = union(sks[0], union(sks[1], sks[2]))
    assert ab_c.to_bytes() == a_bc.to_bytes()  # bucket-for-bucket
    ba = union(sks[1], sks[0])
    ab = union(sks[0], sks[1])
    assert ab.to_bytes() == ba.to_bytes()


def test_merge_equals_direct_build():
    # union of grouped sketches == batch over all (test/sql/ddsketch.sql:2490-2505)
    data = DISTS["lognormal"]
    whole = DDSketch(0.01, 2048).update(data)
    merged = DDSketch(0.01, 2048)
    for chunk in np.array_split(data, 7):
        merged.merge(DDSketch(0.01, 2048).update(chunk))
    assert merged == whole


def test_merge_alpha_mismatch_raises():
    a = DDSketch(0.01, 1024).update([1.0, 2.0])
    b = DDSketch(0.05, 1024).update([1.0, 2.0])
    with pytest.raises(ValueError, match="different alpha"):
        a.merge(b)


def test_union_null_tolerant():
    a = DDSketch(0.01, 1024).update([1.0, 2.0])
    assert union(a, None) == a
    assert union(None, a) == a
    assert union(None, None) is None


def test_nan_skipped_and_null_count():
    s = DDSketch(0.05, 1024).update([1.0, np.nan, 3.0])
    assert s.count == 2
    s2 = DDSketch(0.05, 1024).update([1.0, 3.0], [np.nan, 2.0])  # NULL count => 1
    assert s2.count == 3


def test_param_validation():
    with pytest.raises(ValueError):
        DDSketch(0.00001, 1024)
    with pytest.raises(ValueError):
        DDSketch(0.2, 1024)
    with pytest.raises(ValueError):
        DDSketch(0.05, 8)
    with pytest.raises(ValueError):
        DDSketch(0.05, 100000)
    with pytest.raises(ValueError):
        DDSketch(0.05, 1024).quantile(1.5)
    with pytest.raises(ValueError):
        DDSketch(0.05, 1024).update([1.0], [0])
    with pytest.raises(ValueError):
        DDSketch(0.05, 1024).update([1.0]).trimmed_sum(0.5, 0.3)


def test_bucket_overflow_error_mode():
    # alpha=0.1 over 10^±300 exceeds 16 buckets quickly (test/sql/ddsketch.sql:191-192)
    vals = np.power(10.0, np.arange(-30, 30, dtype=np.float64))
    with pytest.raises(ValueError, match="too many buckets needed"):
        DDSketch(0.001, 16).update(vals)


def test_collapse_mode_keeps_bound():
    vals = np.power(10.0, np.arange(-30, 30, dtype=np.float64))
    s = DDSketch(0.001, 16, on_overflow="collapse").update(vals)
    assert len(s.neg) + len(s.pos) <= 16
    assert s.count == len(vals)
    # alpha grew per uniform collapse rule, estimates still ordered
    assert s.alpha > 0.001
    qs = s.quantile([0.1, 0.5, 0.9])
    assert np.all(np.diff(qs) >= 0)


def test_mapping_roundtrip():
    # bucket-index round-trip: representative value maps back to same index
    for alpha in (0.05, 0.01, 0.001):
        gamma, multiplier, _, _ = mapping_params(alpha)
        idx = np.array([-50, -3, -1, 0, 1, 2, 7, 120], dtype=np.int64)
        rep = map_value(idx, gamma, multiplier)
        back = map_index(rep, multiplier)
        assert np.array_equal(back, idx), alpha
        # representative within (lower, upper]
        for i in idx.tolist():
            lo, hi = map_lower_bound(alpha, i), map_upper_bound(alpha, i - 1 + 1)
            r = float(map_value(np.array([i]), gamma, multiplier)[0])
            assert map_lower_bound(alpha, i) < r <= map_upper_bound(alpha, i)


def test_relative_error_of_representative():
    # bucket design guarantee: |rep - v| / v <= alpha for any v in bucket
    rng = np.random.default_rng(5)
    v = np.exp(rng.uniform(-10, 10, 5000))
    for alpha in (0.05, 0.01):
        gamma, multiplier, _, _ = mapping_params(alpha)
        rep = map_value(map_index(v, multiplier), gamma, multiplier)
        assert np.max(np.abs(rep - v) / v) <= alpha * (1 + 1e-12)


def test_trimmed_sum_avg_ranges():
    # uniform 1000*U(0,1), full-range sum within ±5% (test/sql/ddsketch.sql:3354-3410)
    rng = np.random.default_rng(13)
    data = rng.random(N) * 1000
    s = DDSketch(0.01, 2048).update(data)
    assert 0.95 * data.sum() < s.trimmed_sum(0.0, 1.0) < 1.05 * data.sum()
    assert 0.95 * data.mean() < s.trimmed_avg(0.0, 1.0) < 1.05 * data.mean()
    # middle half
    lo, hi = np.quantile(data, [0.25, 0.75])
    mid = data[(data >= lo) & (data <= hi)]
    est = s.trimmed_avg(0.25, 0.75)
    assert 0.9 * mid.mean() < est < 1.1 * mid.mean()


def test_empty_sketch():
    s = DDSketch(0.05, 1024)
    assert math.isnan(float(s.quantile(0.5)))
    with pytest.raises(ValueError):
        s.to_bytes()


def test_param_info_and_buckets():
    from ddsketch_spark.core.ddsketch import (
        map_index, mapping_params, param_buckets, param_info,
    )

    info = param_info(0.05)
    gamma, mult, minidx, maxidx = mapping_params(0.05)
    assert info["min_indexable"] == minidx
    assert info["max_indexable"] == maxidx

    # positive range: ascending contiguous buckets covering the range
    rows = param_buckets(0.05, 1.0, 10.0)
    assert rows[0]["lower"] < 1.0 <= rows[0]["upper"]
    assert rows[-1]["lower"] < 10.0 <= rows[-1]["upper"]
    for a, b in zip(rows, rows[1:]):
        assert b["bucket_index"] == a["bucket_index"] + 1
        assert b["lower"] == a["upper"]

    # negative range: bucket_index descending = value ascending
    rn = param_buckets(0.05, -10.0, -1.0)
    assert all(b["bucket_index"] == a["bucket_index"] - 1
               for a, b in zip(rn, rn[1:]))
    assert rn[0]["upper"] <= rn[-1]["upper"]

    # crossing range: reference row-count formula (ddsketch.c:3425-3431)
    switch = int(map_index(np.array([minidx]), mult)[0])
    i2 = int(map_index(np.array([2.0]), mult)[0])
    i3 = int(map_index(np.array([3.0]), mult)[0])
    rc = param_buckets(0.05, -2.0, 3.0)
    assert len(rc) == abs(i3 - switch) + abs(switch - i2) + 2

    with pytest.raises(ValueError, match="invalid range"):
        param_buckets(0.05, 5.0, 1.0)


def test_union_randomized_stress():
    """Port of test/sql/union.sql:16-77 — random sketch sizes, random merge
    orders: any association/order of unions yields the identical sketch."""
    from ddsketch_spark.core.ddsketch import union

    rng = np.random.default_rng(23982)
    sketches = []
    for i in range(12):
        n = int(rng.integers(1, 2000))
        vals = rng.lognormal(2, 1.0, n) * rng.choice([1.0, -1.0])
        sketches.append(DDSketch(0.05, 1024).update(vals))
    base = None
    for s in sketches:
        base = union(base, s)
    for trial in range(5):
        order = rng.permutation(len(sketches))
        # random association: fold left over a shuffled order
        acc = None
        for j in order:
            acc = union(acc, sketches[j])
        assert acc == base, trial
        assert acc.to_bytes() == base.to_bytes()


def test_null_semantics_matrix():
    """Port of the NULL matrices (test/sql/ddsketch.sql:2715-2914):
    leading NULLs don't initialize state, interior NULLs are skipped,
    all-NULL input yields an empty sketch / NaN estimates, NULL weight
    counts as 1."""
    s = DDSketch(0.05, 1024)
    s.update(np.array([np.nan, np.nan, 1.0, np.nan, 2.0]))
    assert s.count == 2
    t = DDSketch(0.05, 1024).update(np.array([1.0, 2.0]))
    assert s == t

    empty = DDSketch(0.05, 1024).update(np.array([np.nan, np.nan]))
    assert empty.count == 0
    assert np.isnan(empty.quantile(0.5))
    assert np.isnan(empty.rank_of(1.0))
    with pytest.raises(ValueError, match="empty"):
        empty.to_bytes()

    # NULL count => 1 (ddsketch.c:1148-1151)
    w = DDSketch(0.05, 1024).update(np.array([1.0, 2.0]),
                                    np.array([np.nan, 3.0]))
    expanded = DDSketch(0.05, 1024).update(np.array([1.0, 2.0, 2.0, 2.0]))
    assert w == expanded


# ---------------------------------------------------------------------------
# FIXTURES.md F2: literal heavy-tail weighted fixture, copied verbatim from
# the reference (test/sql/ddsketch.sql:2323-2374, tuples are (count, value));
# golden p90/p95/p99 from test/expected/ddsketch.out:3268-3271 via
# trunc_value (first 12 chars of the double's shortest text rendering).
# ---------------------------------------------------------------------------

HEAVY_TAIL_COUNT_VALUE = [
    (47325940488, 1), (15457695432, 2), (6889790700, 3), (4188763788, 4),
    (2882932224, 5), (2114815860, 6), (1615194324, 7), (2342114568, 9),
    (1626471924, 11), (1660755408, 14), (1143728292, 17), (1082582424, 21),
    (911488284, 26), (728863908, 32), (654898692, 40), (530198076, 50),
    (417883440, 62), (341452344, 77), (274579584, 95), (231921120, 118),
    (184091820, 146), (152469828, 181), (125634972, 224), (107059704, 278),
    (88746120, 345), (73135668, 428), (61035756, 531), (50683320, 658),
    (42331824, 816), (35234400, 1012), (29341356, 1255), (24290928, 1556),
    (20284668, 1929), (17215908, 2391), (14737488, 2964), (12692772, 3674),
    (11220732, 4555), (9787584, 5647), (8148420, 7000), (6918612, 8678),
    (6015000, 10758), (5480316, 13336), (5443356, 16532), (4535616, 20494),
    (3962316, 25406), (3914484, 31495), (3828108, 39043), (3583536, 48400),
    (4104120, 60000), (166024740, 2147483647),
]

HEAVY_TAIL_GOLDEN = {0.9: "10.493014090", 0.95: "25.828042957",
                     0.99: "233.52681881"}


def test_heavy_tail_weighted_golden():
    counts = np.array([c for c, _ in HEAVY_TAIL_COUNT_VALUE], dtype=np.int64)
    values = np.array([v for _, v in HEAVY_TAIL_COUNT_VALUE], dtype=np.float64)
    s = DDSketch(0.05, 1024).update(values, counts)
    assert s.count == int(counts.sum())
    for q, golden in HEAVY_TAIL_GOLDEN.items():
        est = float(s.quantile(q))
        assert repr(est)[:12] == golden, (q, est)


def test_collapsed_sketch_copy_and_union_roundtrip():
    """A collapse-widened sketch (alpha beyond the constructor's 0.1 cap)
    must survive copy() and union() — the exact case from_bytes was
    relaxed for."""
    vals = np.power(10.0, np.arange(-30, 30, dtype=np.float64))
    s = DDSketch(0.05, 16, on_overflow="collapse").update(vals)
    assert s.alpha > 0.1  # collapses doubled gamma past the cap
    c = s.copy()
    assert c == s and c.to_bytes() == s.to_bytes()
    u = union(s, None)       # union copies via copy()
    assert u.to_bytes() == s.to_bytes()
    both = union(s, s.copy())
    assert both.count == 2 * s.count


def test_extreme_magnitudes_match_c_semantics():
    """Values near DBL_MAX land in buckets whose representative exceeds
    the double range: C's pow returns HUGE_VAL there, so the reference
    yields +/-inf — Python's math.pow raises instead; _pow2 restores the
    C behavior. Denormals go to the zero bucket (|v| <= min_indexable)."""
    big = np.finfo(np.float64).max
    s = DDSketch(0.05, 1024).update(np.array([big, -big, 5e-324, 1.0]))
    assert s.zero_count == 1  # the denormal
    qs = s.quantile([0.0, 0.5, 1.0])
    assert math.isinf(qs[0]) and qs[0] < 0
    assert math.isinf(qs[2]) and qs[2] > 0
    assert all(qs[i] <= qs[i + 1] for i in range(2))
    # serde survives the extreme indexes (int32 range is ample)
    assert DDSketch.from_bytes(s.to_bytes()) == s
    assert DDSketch.from_string(s.to_string()) == s


def test_collapse_mode_merge_reconciles_levels():
    """Merging collapse-mode sketches at DIFFERENT collapse levels must
    collapse the finer side down the deterministic alpha chain instead of
    raising the reference's alpha-mismatch error — what makes the
    distributed aggregation merge-safe when partials overflow a different
    number of times. Reference ('error') mode still raises."""
    rng = np.random.default_rng(21)
    a_vals = rng.uniform(1.0, 10.0, 2000)            # narrow: no collapse
    b_vals = np.power(10.0, rng.uniform(-20, 20, 2000))  # wide: collapses
    a = DDSketch(0.005, 32, on_overflow="collapse").update(a_vals)
    b = DDSketch(0.005, 32, on_overflow="collapse").update(b_vals)
    assert a.alpha != b.alpha                        # genuinely mixed levels
    b_alpha_before = b.alpha
    merged = a.copy().merge(b)
    assert b.alpha == b_alpha_before                 # caller's sketch intact
    assert merged.count == 4000
    assert len(merged.neg) + len(merged.pos) <= 32
    # order-insensitive: other direction gives the same final store
    merged2 = b.copy().merge(a)
    assert merged == merged2
    # error mode keeps the reference semantics
    ea = DDSketch(0.005, 1024).update(a_vals)
    eb = ea.copy()
    eb._collapse()
    with pytest.raises(ValueError, match="different alpha"):
        ea.merge(eb)


def test_with_maxbuckets_deterministic_and_validated():
    rng = np.random.default_rng(22)
    vals = np.exp(rng.standard_normal(20000)) * 100
    fine = DDSketch(0.01, 2048).update(vals)
    nfine = len(fine.neg) + len(fine.pos)
    coarse = fine.with_maxbuckets(24)
    assert len(coarse.neg) + len(coarse.pos) <= 24 < nfine
    assert coarse.count == fine.count
    assert fine.maxbuckets == 2048                   # original untouched
    # deterministic function of the bucket multiset: rebuild from any
    # split of the data and collapse -> identical store
    h1 = DDSketch(0.01, 2048).update(vals[:7000])
    h2 = DDSketch(0.01, 2048).update(vals[7000:])
    assert h1.merge(h2).with_maxbuckets(24) == coarse
    # monotone estimates survive the collapse
    qs = coarse.quantile([0.1, 0.5, 0.9, 0.99])
    assert np.all(np.diff(qs) >= 0)
    with pytest.raises(ValueError, match="invalid number of buckets"):
        fine.with_maxbuckets(8)


def test_collapse_merge_off_chain_alpha_raises_and_preserves():
    """Alphas NOT on the same collapse chain (sketches independently
    built at 0.01 and 0.02) must raise the alpha-mismatch error even in
    collapse mode — with BOTH operands left untouched. The old in-place
    loop collapsed self destructively and then died with
    ZeroDivisionError at the float fixpoint alpha -> 1.0 (r4 ADVICE)."""
    rng = np.random.default_rng(31)
    vals = np.exp(rng.standard_normal(2000)) * 50
    a = DDSketch(0.01, 64, on_overflow="collapse").update(vals)
    b = DDSketch(0.02, 64, on_overflow="collapse").update(vals)
    a_snap, b_snap = a.copy(), b.copy()
    with pytest.raises(ValueError, match="different alpha"):
        a.merge(b)
    assert a == a_snap          # self NOT half-collapsed by the probe
    assert b == b_snap
    with pytest.raises(ValueError, match="different alpha"):
        b.merge(a)
    assert b == b_snap


def test_collapse_levels_chain_probe():
    """collapse_levels is a pure scalar probe of the UDDSketch alpha
    chain: exact step counts on-chain, None off-chain / wrong direction,
    and it never divides by (1 - alpha)."""
    from ddsketch_spark.core.ddsketch import collapse_levels

    a = 0.005
    chain = [a]
    for _ in range(6):
        prev = chain[-1]
        chain.append(2.0 * prev / (1.0 + prev * prev))
    for k, c in enumerate(chain):
        assert collapse_levels(a, c) == k
    assert collapse_levels(0.05, 0.05) == 0
    assert collapse_levels(0.01, 0.02) is None   # off-chain
    assert collapse_levels(0.02, 0.01) is None   # wrong direction
    # chain stalls below 1.0 in float: unreachable target -> None, no crash
    assert collapse_levels(0.01, 0.9999999) is None


# ------------------------------------------------- stored-row decode-fold

def _wire(s: DDSketch, **header) -> bytes:
    """``s.to_bytes()`` with header fields replaced (names of
    ``core.ddsketch._HEADER_DT``)."""
    from ddsketch_spark.core.ddsketch import _HEADER_DT

    b = bytearray(s.to_bytes())
    hdr = np.frombuffer(bytes(b[:_HEADER_DT.itemsize]), _HEADER_DT).copy()
    for name, value in header.items():
        hdr[name] = value
    b[:_HEADER_DT.itemsize] = hdr.tobytes()
    return bytes(b)


def _bucket_patch(s: DDSketch, i: int, index=None, count=None) -> bytes:
    """``s.to_bytes()`` with bucket ``i``'s index or count replaced."""
    from ddsketch_spark.core.ddsketch import _BUCKET_DT, _HEADER_DT

    b = bytearray(s.to_bytes())
    at = _HEADER_DT.itemsize + i * _BUCKET_DT.itemsize
    bk = np.frombuffer(bytes(b[at:at + _BUCKET_DT.itemsize]), _BUCKET_DT).copy()
    if index is not None:
        bk["index"] = index
    if count is not None:
        bk["count"] = count
    b[at:at + _BUCKET_DT.itemsize] = bk.tobytes()
    return bytes(b)


_MIXED = DDSketch(0.05, 1024).update([-30.0, -2.0, 0.0, 3.0, 40.0, 40.0])
# one case per check of DDSketch.from_bytes, in its order
CORRUPT_BYTES = {
    "truncated header": _MIXED.to_bytes()[:39],
    "flags": _wire(_MIXED, flags=1),
    "alpha zero": _wire(_MIXED, alpha=0.0),
    "alpha one": _wire(_MIXED, alpha=1.0),
    "alpha nan": _wire(_MIXED, alpha=float("nan")),
    "maxbuckets low": _wire(_MIXED, maxbuckets=15),
    "maxbuckets high": _wire(_MIXED, maxbuckets=32769),
    "negative nneg": _wire(_MIXED, nbuckets_negative=-1),
    "nneg past nbuckets": _wire(_MIXED, nbuckets_negative=5),
    "nbuckets past maxbuckets": _wire(DDSketch(0.05, 32).update(
        np.arange(1.0, 18.0) ** 3), maxbuckets=16),
    "count zero": _wire(_MIXED, count=0),
    "zero_count negative": _wire(_MIXED, zero_count=-1),
    "zero_count past count": _wire(_MIXED, zero_count=7),
    "size short": _MIXED.to_bytes()[:-1],
    "size long": _MIXED.to_bytes() + b"\x00",
    "bucket count zero": _bucket_patch(_MIXED, 0, count=0),
    "bucket count negative": _bucket_patch(_MIXED, 3, count=-1),
    "negative part ascending": _bucket_patch(_MIXED, 1, index=10 ** 6),
    "positive part descending": _bucket_patch(_MIXED, 2, index=10 ** 6),
    "total mismatch": _wire(_MIXED, count=9),
}


def _stored(keys, blobs, ktype=None):
    import pyarrow as pa

    return pa.table({"k": pa.array(keys, ktype or pa.int64()),
                     "sketch": pa.array(blobs, pa.binary())})


def _row_fold(tbl, keys):
    """The oracle: each key's stored rows (NULL first, then ascending, in
    table order within a key) deserialized and merged one by one."""
    from ddsketch_spark.core.ddsketch import from_bytes
    from ddsketch_spark.operators.aggregate import merge_serialized

    rows = tbl.to_pylist()
    groups = {}
    for r in rows:
        groups.setdefault(tuple(r[k] for k in keys), []).append(r["sketch"])
    order = sorted(groups, key=lambda t: [(v is not None, v) for v in t])
    return [(k, merge_serialized(groups[k], from_bytes).to_bytes())
            for k in order]


def _decode_fold(tbl, keys):
    from ddsketch_spark.core.ddsketch import from_bytes
    from ddsketch_spark.operators.aggregate import fold_key_runs

    return [(tuple(run.column(k)[0].as_py() for k in keys), blob)
            for run, blob in fold_key_runs(tbl, keys, from_bytes)]


def _rand_sketches(rng, n, signs=(-1, 0, 1), maxbuckets=(2048,)):
    out = []
    for _ in range(n):
        v = rng.lognormal(2.0, 2.0, int(rng.integers(1, 40)))
        s = DDSketch(0.01, int(rng.choice(maxbuckets)))
        out.append(s.update(v * rng.choice(signs, v.size)).to_bytes())
    return out


@pytest.mark.parametrize("signs", [(-1,), (0,), (1,), (-1, 0, 1)],
                         ids=["negative", "zero", "positive", "mixed"])
def test_decode_fold_equals_row_fold(signs):
    """Stored DDSketch rows fold in one numpy pass (``native.dd_fold``)
    to the bytes of a ``from_bytes`` + ``merge`` fold row by row:
    keyless and keyed, a NULL key, int64 keys past 2^53, negative and
    zero values, and maxbuckets that differ between keys."""
    from ddsketch_spark.operators.aggregate import key_runs
    from ddsketch_spark.operators.native import dd_fold

    rng = np.random.default_rng(len(signs) * 7 + signs[0])
    big = 2 ** 53
    blobs = _rand_sketches(rng, 400, signs)
    ks = [[None, big + 1, big + 2, 7][i % 4] for i in range(400)]
    for tbl, keys in ((_stored(ks, blobs), []), (_stored(ks, blobs), ["k"])):
        assert _decode_fold(tbl, keys) == _row_fold(tbl, keys)
    # one maxbuckets per key, differing between keys
    mb = {None: 1024, big + 1: 2048, big + 2: 4096, 7: 16384}
    by_key = [DDSketch.from_bytes(b).with_maxbuckets(mb[k]).to_bytes()
              for k, b in zip(ks, blobs)]
    tbl = _stored(ks, by_key)
    assert _decode_fold(tbl, ["k"]) == _row_fold(tbl, ["k"])
    # the pass itself gave them, not the row-by-row fallback
    srt = tbl.sort_by([("k", "ascending")], null_placement="at_start")
    _, starts = key_runs(srt.select(["k"]).to_pandas(
        integer_object_nulls=True))
    assert dd_fold(srt.column("sketch"), starts) is not None


def test_decode_fold_leaves_unproven_runs_to_the_row_fold():
    """maxbuckets that differ inside a key, alphas that differ inside a
    key, a merged key past its maxbuckets, a NULL sketch and counts that
    near the int64 limit are left to the row fold, with its bytes or its
    error."""
    from ddsketch_spark.operators.native import dd_fold

    rng = np.random.default_rng(11)
    blobs = _rand_sketches(rng, 30, maxbuckets=(1024, 2048))
    tbl = _stored([i % 2 for i in range(30)], blobs)
    assert _decode_fold(tbl, ["k"]) == _row_fold(tbl, ["k"])
    sort = tbl.sort_by("k")
    assert dd_fold(sort.column("sketch"), np.array([0, 15])) is None
    mixed = [DDSketch(a, 1024).update([1.0, 2.0]).to_bytes()
             for a in (0.01, 0.02)]
    with pytest.raises(ValueError, match="different alpha"):
        _decode_fold(_stored([1, 1], mixed), ["k"])
    wide = [DDSketch(0.05, 16).update(np.arange(1, 12) * m ** 4.0)
            .to_bytes() for m in (1, 50)]
    with pytest.raises(ValueError, match="too many buckets"):
        _decode_fold(_stored([1, 1], wide), ["k"])
    with pytest.raises(TypeError):
        _decode_fold(_stored([1, 1], [blobs[0], None]), ["k"])
    heavy = _stored([1] * 3, [DDSketch(0.05, 1024).update(
        [1.0], [2.0 ** 61]).to_bytes()] * 3)
    assert dd_fold(heavy.column("sketch"), np.array([0])) is None
    assert _decode_fold(heavy, ["k"]) == _row_fold(heavy, ["k"])


@pytest.mark.parametrize("case", sorted(CORRUPT_BYTES))
def test_decode_fold_raises_from_bytes_error(case):
    """A malformed stored row raises the error text ``from_bytes`` gives
    it, wherever it sits among valid rows."""
    bad = CORRUPT_BYTES[case]
    with pytest.raises(ValueError) as want:
        DDSketch.from_bytes(bad)
    good = _rand_sketches(np.random.default_rng(3), 6)
    tbl = _stored([1, 1, 2, 2, 2, 3, 3], good[:4] + [bad] + good[4:])
    with pytest.raises(ValueError) as got:
        _decode_fold(tbl, ["k"])
    assert str(got.value) == str(want.value)
