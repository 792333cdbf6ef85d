"""Property-based kernel tests (hypothesis): the invariants the reference
guarantees, checked over randomized inputs rather than fixed fixtures —
serde round-trips, merge associativity/commutativity, the alpha
relative-error bound, and weighted==expanded equivalence."""

import math

import numpy as np
from hypothesis import example, given, settings, strategies as st

from ddsketch_spark.core.ddsketch import DDSketch, union

ALPHAS = st.sampled_from([0.001, 0.01, 0.05, 0.1])


def _values(draw, min_size=1, max_size=400):
    scale = draw(st.sampled_from([1e-3, 1.0, 1e3, 1e8]))
    vals = draw(st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
                  allow_infinity=False, width=64),
        min_size=min_size, max_size=max_size))
    return np.asarray(vals, dtype=np.float64) * scale


@settings(max_examples=60, deadline=None)
@given(st.data(), ALPHAS)
def test_serde_roundtrip_binary_and_text(data, alpha):
    v = _values(data.draw if hasattr(data, "draw") else data, 1, 300)
    s = DDSketch(alpha, 32768).update(v)
    if s.count == 0:
        return
    assert DDSketch.from_bytes(s.to_bytes()) == s
    assert DDSketch.from_bytes(s.to_bytes()).to_bytes() == s.to_bytes()
    assert DDSketch.from_string(s.to_string()) == s


@settings(max_examples=60, deadline=None)
@given(st.data(), ALPHAS, st.integers(2, 7))
def test_merge_associative_commutative_random(data, alpha, nparts):
    v = _values(data.draw if hasattr(data, "draw") else data, nparts, 500)
    parts = [DDSketch(alpha, 32768).update(c)
             for c in np.array_split(v, nparts)]
    parts = [p for p in parts if p.count > 0]
    if len(parts) < 2:
        return
    left = parts[0].copy()
    for p in parts[1:]:
        left.merge(p)
    right = parts[-1].copy()
    for p in reversed(parts[:-1]):
        right.merge(p)
    assert left.to_bytes() == right.to_bytes()  # bucket-for-bucket
    whole = DDSketch(alpha, 32768).update(v)
    assert left == whole


@settings(max_examples=40, deadline=None)
@given(st.data(), ALPHAS,
       st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
def test_quantile_relative_error_bound_random(data, alpha, q):
    v = np.abs(_values(data.draw if hasattr(data, "draw") else data, 5, 500))
    v = v[v > 0]
    if v.size < 5:
        return
    s = DDSketch(alpha, 32768).update(v)
    est = float(s.quantile(q))
    exact = float(np.quantile(v, q, method="lower"))
    assert abs(est - exact) <= alpha * 1.01 * abs(exact) + 1e-12


@settings(max_examples=40, deadline=None)
@given(st.data(), ALPHAS)
def test_weighted_equals_expanded_random(data, alpha):
    draw = data.draw if hasattr(data, "draw") else data
    v = _values(draw, 1, 80)
    c = np.asarray(
        draw(st.lists(st.integers(1, 9), min_size=len(v), max_size=len(v))),
        dtype=np.int64)
    s_w = DDSketch(alpha, 32768).update(v, c)
    s_e = DDSketch(alpha, 32768).update(np.repeat(v, c))
    assert s_w == s_e and s_w.to_bytes() == s_e.to_bytes()


# ---------------------------------------------------------------------------
# published-bound properties for the sibling sketches (north rule:
# "matching the reference's sketch estimates within the algorithm's
# published error bound")
# ---------------------------------------------------------------------------

from ddsketch_spark.core.bloom import Bloom
from ddsketch_spark.core.cms import CMS
from ddsketch_spark.core.hll import HLL
from ddsketch_spark.core.hashing import py_h64


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 5000), st.integers(0, 10_000_000))
def test_hll_error_within_published_bound(n_distinct, salt):
    """|est - n| / n <= 5 * 1.04/sqrt(m) (5 sigma of the published
    standard error; p=12 -> m=4096 -> bound ~8.1%)."""
    h = np.array([py_h64(f"{salt}:{i}") for i in range(n_distinct)],
                 dtype=np.int64)
    s = HLL(12)
    s.update(np.concatenate([h, h[: n_distinct // 2]]))  # dups don't count
    rel = abs(s.estimate() - n_distinct) / n_distinct
    assert rel <= 5 * 1.04 / math.sqrt(1 << 12), (n_distinct, s.estimate())


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 1_000_000), st.integers(10, 400))
def test_cms_overestimates_only_within_bound(salt, n_keys):
    """CMS error is one-sided: est >= true always; est <= true + eps*N
    holds PER QUERY with failure probability delta = e^-depth (~0.7% for
    depth 5), so assert the violation RATE, not a uniform bound."""
    rng = np.random.default_rng(salt % (2**31))
    keys = [f"{salt}:{i}" for i in range(n_keys)]
    counts = rng.integers(1, 50, n_keys)
    h = np.repeat(np.array([py_h64(k) for k in keys], dtype=np.int64), counts)
    s = CMS(5, 2048)
    s.update(h)
    total = int(counts.sum())
    est = s.estimate(np.array([py_h64(k) for k in keys], dtype=np.int64))
    assert np.all(est >= counts)  # never underestimates
    eps = math.e / 2048
    viol = np.mean(est > counts + eps * total + 1)
    assert viol <= 0.05, (viol, n_keys, total)


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 1_000_000), st.integers(1, 500))
def test_bloom_no_false_negatives(salt, n_keys):
    keys = [py_h64(f"{salt}:{i}") for i in range(n_keys)]
    s = Bloom(1 << 14, 5)
    s.update(np.array(keys, dtype=np.int64))
    assert all(s.contains(np.array(keys, dtype=np.int64)))


# ----------------------------------------------------------- SpaceSaving

from collections import Counter

from ddsketch_spark.core.spacesaving import SpaceSaving


@given(st.data(),
       st.integers(2, 64),                       # capacity
       st.integers(1, 6))                        # number of partials
@settings(max_examples=40, deadline=None)
def test_spacesaving_bounds_under_random_merge_trees(data, capacity, nparts):
    """The (I1)-(I3) invariant envelope (true <= cnt <= true+err for
    monitored; true <= floor for unmonitored) must survive ANY merge tree
    over ANY partitioning of ANY stream — the merge-guarantee property the
    r3 verdict asked to pin (SpaceSaving is deliberately not bit-for-bit
    order-independent, so the envelope IS its merge contract)."""
    stream = data.draw(st.lists(
        st.sampled_from([f"w{i}" for i in range(30)]),
        min_size=0, max_size=300))
    # random contiguous split into nparts chunks
    cuts = sorted(data.draw(st.lists(
        st.integers(0, len(stream)), min_size=nparts - 1,
        max_size=nparts - 1)))
    chunks, prev = [], 0
    for c in cuts + [len(stream)]:
        chunks.append(stream[prev:c])
        prev = c
    parts = [SpaceSaving(capacity).update(np.array(ch, dtype=object))
             for ch in chunks]
    # random merge tree: repeatedly merge two random entries
    while len(parts) > 1:
        i = data.draw(st.integers(0, len(parts) - 2))
        a = parts.pop(i)
        b = parts.pop(data.draw(st.integers(0, len(parts) - 1)))
        parts.insert(0, a.merge(b))
    s = parts[0]
    truth = Counter(stream)
    assert s.total == len(stream)
    for x, (cnt, err) in s.counters.items():
        t = truth.get(x, 0)
        assert t <= cnt <= t + err
        assert cnt >= s.floor
    for x, t in truth.items():
        if x not in s.counters:
            assert t <= s.floor
    # serde is lossless at any state
    assert SpaceSaving.from_bytes(s.to_bytes()) == s


@given(st.integers(0, 10_000),
       st.sampled_from([(0.25, 0.75), (0.1, 0.9), (0.0, 1.0), (0.3, 0.6)]))
@settings(max_examples=30, deadline=None)
def test_trimmed_correct_negatives_on_zero_straddling_data(salt, trim):
    """Opt-in sign-correct trimmed mean (r3 verdict item 8): on data that
    straddles zero, trimmed_avg(correct_negatives=True) must track the
    exact trimmed mean within a bucket-resolution tolerance, while the
    DEFAULT (reference-parity positive-domain quirk, ddsketch.c:3687-3757)
    stays bit-unchanged and is wildly off on the same data — pinning both
    the fix and that we did not silently change reference behavior."""
    lo, hi = trim
    rng = np.random.default_rng(salt)
    alpha = 0.01
    v = np.concatenate([rng.uniform(-100, 100, 3000),
                        rng.normal(0.0, 30.0, 3000)])
    s = DDSketch(alpha, 4096).update(v)
    sv = np.sort(v)
    kept = sv[math.floor(len(v) * lo):math.ceil(len(v) * hi)]
    exact = kept.mean()
    est = s.trimmed_avg(lo, hi, correct_negatives=True)
    tol = (2 * alpha * np.mean(np.abs(kept))
           + 4 * max(abs(kept[0]), abs(kept[-1])) / len(kept))
    assert abs(est - exact) <= tol
    # the default path is untouched reference behavior (wrong on negatives
    # by design) and the keyword default changes nothing
    assert s.trimmed_avg(lo, hi) == s.trimmed_avg(lo, hi, correct_negatives=False)
    # sum variant: same envelope scaled by the kept count
    est_sum = s.trimmed_sum(lo, hi, correct_negatives=True)
    assert abs(est_sum - kept.sum()) <= tol * len(kept)


@given(st.integers(0, 100_000), st.integers(2, 6), st.integers(0, 5))
@settings(max_examples=25, deadline=None)
def test_collapse_mode_merge_order_independent(salt, nparts, shuffle_seed):
    """Collapse-mode distributed semantics under ANY partitioning and ANY
    merge order: partials over wide-dynamic-range data collapse a
    different number of times each, the level-reconciling merge must
    still reproduce the serial single-process build bit-for-bit."""
    rng = np.random.default_rng(salt)
    vals = np.power(10.0, rng.uniform(-10, 10, 800))
    want = DDSketch(0.01, 24, on_overflow="collapse").update(vals)
    cuts = np.sort(rng.integers(0, len(vals), nparts - 1))
    parts = [DDSketch(0.01, 24, on_overflow="collapse").update(c)
             for c in np.split(vals, cuts) if c.size]
    order = np.random.default_rng(shuffle_seed).permutation(len(parts))
    acc = parts[order[0]].copy()
    for i in order[1:]:
        acc.merge(parts[i])
    assert acc == want
    assert len(acc.neg) + len(acc.pos) <= 24


# ------------------------------------------------------------------ KMV

from ddsketch_spark.core.kmv import KMV


@given(st.integers(0, 100_000), st.integers(2, 32), st.integers(2, 6))
@example(35349, 5, 3)                              # draws n=0: empty input
@settings(max_examples=30, deadline=None)
def test_kmv_any_partitioning_any_merge_order_equals_direct(salt, k, nparts):
    """Bottom-k of a set union is a pure function of the input SET:
    any partitioning + any merge order must equal the direct build
    bit-for-bit (with duplicates across partitions)."""
    rng = np.random.default_rng(salt)
    n = int(rng.integers(0, 400))
    h = rng.integers(0, 1 << 60, n, dtype=np.int64)
    h = np.concatenate([h, h[: n // 2]])          # cross-partition dups
    direct = KMV(k).update(h)
    cuts = np.sort(rng.integers(0, len(h) + 1, nparts - 1))
    parts = [KMV(k).update(c) for c in np.split(h, cuts)]
    order = rng.permutation(len(parts))
    acc = parts[order[0]].copy()
    for i in order[1:]:
        acc.merge(parts[i])
    assert acc == direct
    assert KMV.from_bytes(acc.to_bytes()) == acc
