"""DDSketch — relative-error quantile sketch, vectorized numpy kernel.

Semantics match the reference tvondra/ddsketch (PostgreSQL extension) exactly,
re-expressed as a batch/Arrow-friendly Python class instead of a row-at-a-time
C aggregate:

- mapping params: ``gamma = (1+alpha)/(1-alpha)``,
  ``multiplier = log(2)/log1p(2*alpha/(1-alpha))`` (== 1/log2(gamma)),
  ``min_indexable = DBL_MIN*gamma``, ``max_indexable = DBL_MAX/gamma``
  (reference ddsketch.c:935-940).
- index mapping: ``index = ceil(log(v)/log(2) * multiplier)`` — NOTE ceil, not
  the paper's floor; bucket i covers ``(gamma^(i-1), gamma^i]``
  (ddsketch.c:3135-3168).
- representative value: ``gamma^index * 2/(1+gamma)`` (ddsketch.c:3180-3184).
- three stores: negative buckets (sorted by index DESC), a zero-bucket counter
  for ``|v| <= min_indexable``, positive buckets (sorted ASC)
  (ddsketch.c:53-66, 796-821).
- quantile: lower-quantile convention, ``goal = q*(count-1)``, strict ``>``
  stop, no interpolation (ddsketch.c:462-523).
- rank_of: count strictly-below + half the matching bucket (integer halving),
  divided by ``count-1`` (ddsketch.c:545-620).
- trimmed sum/avg: reference-parity positive-domain semantics
  (ddsketch.c:3687-3757; correct only for all-positive data — documented
  reference quirk, its tests only exercise positive values).
- merge: index-wise integer count sum; requires equal alpha
  (ddsketch.c:1309-1433, 2343-2345); associative + commutative
  bucket-for-bucket.
- serialization: the reference's binary wire layout (``ddsketch_send``,
  ddsketch.c:3004-3030) as the canonical bytes, and its text format
  (``ddsketch_out``/``ddsketch_in``, ddsketch.c:2651-2868) with the same
  validation failures.

Extension beyond the reference (SURVEY §7.0): ``on_overflow='collapse'``
implements UDDSketch-style uniform collapse (gamma -> gamma^2,
alpha -> 2*alpha/(1+alpha^2), index -> ceil(index/2)) instead of the
reference's hard error (ddsketch.c:727-731).
"""

from __future__ import annotations

import math
import re
import struct
import sys
from typing import Iterable, Sequence

import numpy as np

MIN_SKETCH_ALPHA = 0.0001   # ddsketch.c:321-322
MAX_SKETCH_ALPHA = 0.1
MIN_SKETCH_BUCKETS = 16     # ddsketch.c:324-325
MAX_SKETCH_BUCKETS = 32768

_DBL_MIN = sys.float_info.min
_DBL_MAX = sys.float_info.max
_LOG2 = math.log(2.0)
# an infinity has no bucket: its index would overflow the wire format's
# 32-bit index. Raised by the kernel and, as the same text, by the JVM
# bucket expression (operators/native.py)
INFINITE_VALUE = "invalid value: +inf and -inf cannot be added to a sketch"

_HEADER = struct.Struct(">iqqdiii")   # flags, count, zero_count, alpha, maxbuckets, nbuckets, nbuckets_negative
_BUCKET = struct.Struct(">iq")        # index, count
_BUCKET_DT = np.dtype([("index", ">i4"), ("count", ">i8")])
_HEADER_DT = np.dtype([(f, t) for f, t in zip(
    ("flags", "count", "zero_count", "alpha", "maxbuckets", "nbuckets",
     "nbuckets_negative"), (">i4", ">i8", ">i8", ">f8", ">i4", ">i4", ">i4"))])


def validate_alpha(alpha: float) -> None:
    if not (MIN_SKETCH_ALPHA <= alpha <= MAX_SKETCH_ALPHA):
        # message text == reference (ddsketch.c:2895-2899)
        raise ValueError(
            f"alpha for ddsketch ({alpha:f}) must be in "
            f"[{MIN_SKETCH_ALPHA:f}, {MAX_SKETCH_ALPHA:f}]"
        )


def validate_nbuckets(nbuckets: int) -> None:
    if not (MIN_SKETCH_BUCKETS <= nbuckets <= MAX_SKETCH_BUCKETS):
        # message text == reference (ddsketch.c:2907-2911)
        raise ValueError(
            f"number of buckets ({nbuckets}) for ddsketch must be in "
            f"[{MIN_SKETCH_BUCKETS}, {MAX_SKETCH_BUCKETS}]"
        )


def validate_quantiles(qs: Sequence[float]) -> None:
    for q in qs:
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"invalid percentile value {q}, should be in [0.0, 1.0]")


def validate_trim(low: float, high: float) -> None:
    # ddsketch.c:997-1011
    if low < 0.0 or high > 1.0 or low >= high:
        raise ValueError(
            f"invalid trim range [{low}, {high}]: need 0 <= low < high <= 1"
        )


def mapping_params(alpha: float) -> tuple[float, float, float, float]:
    """(gamma, multiplier, min_indexable, max_indexable) — ddsketch.c:935-940."""
    gamma = (1.0 + alpha) / (1.0 - alpha)
    multiplier = _LOG2 / math.log1p(2.0 * alpha / (1.0 - alpha))
    return gamma, multiplier, _DBL_MIN * gamma, _DBL_MAX / gamma


def map_index(values: np.ndarray, multiplier: float) -> np.ndarray:
    """Vectorized ``ceil(log(v)/log(2) * multiplier)`` — ddsketch.c:3164-3168.

    ``values`` must be strictly positive.
    """
    return np.ceil(np.log(values) / _LOG2 * multiplier).astype(np.int64)


def _pow2(e: float) -> float:
    """``pow(2, e)`` with C semantics: Python's math.pow RAISES on
    overflow where C's pow returns HUGE_VAL — the reference therefore
    yields +inf for the topmost bucket of values near DBL_MAX
    (ddsketch.c:3180-3184); match that instead of crashing."""
    try:
        return math.pow(2.0, e)
    except OverflowError:
        return math.inf


def map_value(indexes: np.ndarray, gamma: float, multiplier: float) -> np.ndarray:
    """Representative value ``gamma^index * 2/(1+gamma)`` — ddsketch.c:3180-3184.

    Uses scalar libm ``math.pow`` (not ``np.power``, whose SIMD path can be
    1 ulp off libm) so results are bit-identical to any C/SQL engine
    evaluating the same expression; extraction only touches a handful of
    indexes, so the scalar loop is free."""
    idx = np.atleast_1d(np.asarray(indexes, dtype=np.float64))
    rep = 2.0 / (1.0 + gamma)
    return np.array([_pow2(i / multiplier) * rep for i in idx.tolist()])


def map_lower_bound(alpha: float, index) -> float:
    """``gamma^(index-1)`` via the reference's exp/log formulation —
    ddsketch.c:3147-3155. +inf past DBL_MAX, like C's exp."""
    multiplier = _LOG2 / math.log1p(2.0 * alpha / (1.0 - alpha))
    try:
        return math.exp(_LOG2 * (float(index) - 1.0) / multiplier)
    except OverflowError:
        return math.inf


def map_upper_bound(alpha: float, index) -> float:
    return map_lower_bound(alpha, index + 1)


def collapse_levels(fine_alpha: float, coarse_alpha: float) -> int | None:
    """Number of UDDSketch collapse steps taking ``fine_alpha`` to
    ``coarse_alpha`` along the deterministic chain ``a -> 2a/(1+a^2)``,
    or None when ``coarse_alpha`` is not on the chain (sketches built at
    unrelated alphas — e.g. 0.01 and 0.02 — are NOT mergeable even in
    collapse mode).

    Pure scalar float iteration: no sketch state is touched, so callers
    can probe reachability BEFORE collapsing anything (a failed merge
    must leave both operands intact). The chain is strictly increasing
    and bounded by 1.0 (``1 + a^2 > 2a`` for ``a != 1``); in float it
    stalls at a fixpoint just below 1.0, which reads as "not reachable"
    rather than looping to the ``alpha == 1.0`` division-by-zero the
    old in-place loop could hit."""
    a = float(fine_alpha)
    coarse = float(coarse_alpha)
    for levels in range(64):
        if a == coarse:
            return levels
        if a > coarse or a >= 1.0:
            return None  # overshot: coarse is off-chain
        nxt = 2.0 * a / (1.0 + a * a)
        if nxt <= a:
            return None  # float fixpoint: no progress
        a = nxt
    return None


class DDSketch:
    """Mergeable DDSketch accumulator with vectorized batch updates.

    Stores are plain ``dict[int, int]`` (mapping index -> count); the sorted
    array forms required by quantile/rank/trim/serde are materialized on
    demand. All bucket counts are Python ints, so merge is exactly
    associative and commutative.
    """

    __slots__ = (
        "alpha", "maxbuckets", "count", "zero_count", "neg", "pos",
        "gamma", "multiplier", "min_indexable", "max_indexable", "on_overflow",
    )

    def __init__(self, alpha: float = 0.01, maxbuckets: int = 2048,
                 on_overflow: str = "error"):
        validate_alpha(alpha)
        validate_nbuckets(maxbuckets)
        if on_overflow not in ("error", "collapse"):
            raise ValueError("on_overflow must be 'error' or 'collapse'")
        self.alpha = float(alpha)
        self.maxbuckets = int(maxbuckets)
        self.on_overflow = on_overflow
        self.count = 0
        self.zero_count = 0
        self.neg: dict[int, int] = {}
        self.pos: dict[int, int] = {}
        self._set_params()

    def _set_params(self) -> None:
        self.gamma, self.multiplier, self.min_indexable, self.max_indexable = (
            mapping_params(self.alpha)
        )

    # ------------------------------------------------------------------ update

    def update(self, values, counts=None) -> "DDSketch":
        """Add a batch of values (optionally weighted). NaNs are skipped
        (the reference skips SQL NULLs, ddsketch.c:1029-1039); +inf and
        -inf raise ``ValueError`` (:data:`INFINITE_VALUE`); weights must
        be > 0 (ddsketch.c:1153-1155 — enforced uniformly, including the
        array-percentile variant where the reference forgets it,
        ddsketch.c:1733-1738)."""
        v = np.asarray(values, dtype=np.float64).ravel()
        if counts is None:
            keep = ~np.isnan(v)
            v = v[keep]
            c = None
        else:
            c = np.asarray(counts, dtype=np.float64).ravel()
            if c.shape != v.shape:
                raise ValueError("values and counts must have the same length")
            # NULL count => 1 (ddsketch.c:1148-1151)
            c = np.where(np.isnan(c), 1.0, c)
            keep = ~np.isnan(v)
            v, c = v[keep], c[keep]
            if np.any(c <= 0):
                bad = int(c[c <= 0][0])
                # message text == reference (ddsketch.c:1155)
                raise ValueError(
                    f"invalid count value {bad}, must be a positive value")
            c = c.astype(np.int64)
        if v.size == 0:
            return self
        if np.isinf(v).any():
            raise ValueError(INFINITE_VALUE)

        pos_mask = v > self.min_indexable
        neg_mask = v < -self.min_indexable
        zero_mask = ~(pos_mask | neg_mask)

        if c is None:
            self.count += int(v.size)
            self.zero_count += int(np.count_nonzero(zero_mask))
        else:
            self.count += int(c.sum())
            self.zero_count += int(c[zero_mask].sum())

        for mask, store, sign in ((pos_mask, self.pos, 1.0), (neg_mask, self.neg, -1.0)):
            if not mask.any():
                continue
            idx = map_index(sign * v[mask], self.multiplier)
            if c is None:
                ui, uc = np.unique(idx, return_counts=True)
            else:
                ui, inv = np.unique(idx, return_inverse=True)
                uc = np.zeros(ui.size, dtype=np.int64)
                np.add.at(uc, inv, c[mask])
            for i, n in zip(ui.tolist(), uc.tolist()):
                store[i] = store.get(i, 0) + n

        self._enforce_maxbuckets()
        return self

    def add(self, value: float, count: int = 1) -> "DDSketch":
        """Single-value insert (reference ddsketch_add, ddsketch.c:796-821)."""
        if count <= 0:
            raise ValueError(
                f"invalid count value {count}, must be a positive value")
        self.update(np.array([value]), np.array([count]))
        return self

    def _enforce_maxbuckets(self) -> None:
        while len(self.neg) + len(self.pos) > self.maxbuckets:
            if self.on_overflow == "error":
                # message text == reference batch-add path (ddsketch.c:1383-1385)
                raise ValueError(
                    f"too many buckets needed "
                    f"{len(self.neg) + len(self.pos)} > {self.maxbuckets} "
                    f"(bucket overflow: used {len(self.neg) + len(self.pos)}, "
                    f"max {self.maxbuckets})"
                )
            self._collapse()

    def _collapse(self) -> None:
        """UDDSketch uniform collapse: halve resolution (gamma -> gamma^2)."""
        self.alpha = 2.0 * self.alpha / (1.0 + self.alpha * self.alpha)
        self._set_params()
        for name in ("neg", "pos"):
            old = getattr(self, name)
            new: dict[int, int] = {}
            for i, n in old.items():
                j = (i + 1) // 2  # ceil(i/2): old (g^(i-1), g^i] within new (g^(2j-2), g^(2j)]
                new[j] = new.get(j, 0) + n
            setattr(self, name, new)

    # ------------------------------------------------------------------ merge

    def merge(self, other: "DDSketch") -> "DDSketch":
        """In-place merge. Requires equal alpha (ddsketch.c:2343-2345:
        "can't merge sketches with different alpha values")."""
        if other.count == 0:
            return self
        if self.count == 0 and not self.neg and not self.pos:
            # adopt other's params wholesale (NULL-state combine, ddsketch.c:2324-2338)
            self.alpha = other.alpha
            self._set_params()
        if self.alpha != other.alpha:
            # UDDSketch collapse mode: alphas that diverged because one
            # side collapsed more times lie on the SAME deterministic
            # alpha chain (a -> 2a/(1+a^2)), so the finer side can be
            # collapsed until the levels meet — this is what makes the
            # distributed aggregation merge-safe when partials overflow a
            # different number of times. In reference ('error') mode the
            # reference's alpha-mismatch error stands. Reachability is
            # probed on SCALARS first (collapse_levels) so off-chain
            # alphas raise the alpha-mismatch error with self untouched —
            # never a half-collapsed self or a divide-by-zero at the
            # float fixpoint alpha -> 1.0 (r4 ADVICE).
            levels = None
            if self.on_overflow == "collapse" and other.on_overflow == "collapse":
                if self.alpha < other.alpha:
                    levels = collapse_levels(self.alpha, other.alpha)
                    if levels is not None:
                        for _ in range(levels):
                            self._collapse()
                else:
                    levels = collapse_levels(other.alpha, self.alpha)
                    if levels is not None:
                        other = other.copy()  # never mutate the caller's sketch
                        for _ in range(levels):
                            other._collapse()
            if levels is None:
                raise ValueError(
                    "can't merge sketches with different alpha values")
        self.maxbuckets = max(self.maxbuckets, other.maxbuckets)
        for name in ("neg", "pos"):
            mine, theirs = getattr(self, name), getattr(other, name)
            for i, n in theirs.items():
                mine[i] = mine.get(i, 0) + n
        self.count += other.count
        self.zero_count += other.zero_count
        self._enforce_maxbuckets()
        return self

    def with_maxbuckets(self, maxbuckets: int) -> "DDSketch":
        """Copy with a tighter bucket budget, collapsing (UDDSketch uniform
        collapse) until the store fits — the storage-downgrade operation:
        re-compress an archived fine sketch to a coarser budget without
        touching raw data. The result is a deterministic function of the
        bucket multiset (ceil-halving is exact integer math), independent
        of how the input sketch was built."""
        if maxbuckets < MIN_SKETCH_BUCKETS or maxbuckets > MAX_SKETCH_BUCKETS:
            raise ValueError(
                f"invalid number of buckets {maxbuckets}, must be in "
                f"[{MIN_SKETCH_BUCKETS}, {MAX_SKETCH_BUCKETS}]")
        s = self.copy()
        s.on_overflow = "collapse"
        s.maxbuckets = maxbuckets
        s._enforce_maxbuckets()
        return s

    def copy(self) -> "DDSketch":
        # Same workaround as from_bytes: a collapsed sketch (UDDSketch
        # on_overflow='collapse' doubles gamma, so alpha may exceed 0.1)
        # must survive copy() — construct with clamped alpha, then restore.
        s = DDSketch(min(max(self.alpha, MIN_SKETCH_ALPHA), MAX_SKETCH_ALPHA),
                     self.maxbuckets, self.on_overflow)
        s.alpha = self.alpha
        s._set_params()
        s.count, s.zero_count = self.count, self.zero_count
        s.neg, s.pos = dict(self.neg), dict(self.pos)
        return s

    # ------------------------------------------------------------------ stores

    def _neg_sorted(self) -> tuple[list[int], list[int]]:
        """Negative store in reference order: index DESC (ddsketch.c:53-59)."""
        items = sorted(self.neg.items(), key=lambda kv: -kv[0])
        return [i for i, _ in items], [n for _, n in items]

    def _pos_sorted(self) -> tuple[list[int], list[int]]:
        items = sorted(self.pos.items())
        return [i for i, _ in items], [n for _, n in items]

    # ------------------------------------------------------------------ queries

    def quantile(self, qs) -> np.ndarray:
        """Lower-quantile walk — ddsketch.c:462-523. Returns NaN for an
        empty sketch (the SQL aggregate would return NULL)."""
        scalar = np.isscalar(qs)
        qv = np.atleast_1d(np.asarray(qs, dtype=np.float64))
        validate_quantiles(qv.tolist())
        out = np.full(qv.shape, np.nan)
        if self.count > 0:
            ni, nc = self._neg_sorted()
            pi, pc = self._pos_sorted()
            for k, q in enumerate(qv.tolist()):
                goal = q * (self.count - 1)
                cum = 0
                res = None
                for i, n in zip(ni, nc):
                    cum += n
                    if cum > goal:
                        res = -float(map_value(np.array([i]), self.gamma, self.multiplier)[0])
                        break
                if res is None:
                    cum += self.zero_count
                    if cum > goal:
                        res = 0.0
                if res is None:
                    for i, n in zip(pi, pc):
                        cum += n
                        if cum > goal:
                            break
                    res = float(map_value(np.array([i]), self.gamma, self.multiplier)[0])
                out[k] = res
        return out[0] if scalar else out

    def rank_of(self, xs) -> np.ndarray:
        """Inverse quantile (~percent_rank) — ddsketch.c:545-620."""
        scalar = np.isscalar(xs)
        xv = np.atleast_1d(np.asarray(xs, dtype=np.float64))
        out = np.full(xv.shape, np.nan)
        if self.count > 0:
            neg_total = sum(self.neg.values())
            for k, x in enumerate(xv.tolist()):
                cum = 0
                if x > self.min_indexable:
                    idx = int(map_index(np.array([x]), self.multiplier)[0])
                    cum = neg_total + self.zero_count
                    for i, n in self.pos.items():
                        if i < idx:
                            cum += n
                        elif i == idx:
                            cum += n // 2
                elif x < -self.min_indexable:
                    idx = int(map_index(np.array([-x]), self.multiplier)[0])
                    for i, n in self.neg.items():
                        if i > idx:
                            cum += n
                        elif i == idx:
                            cum += n // 2
                else:
                    cum = neg_total + self.zero_count
                out[k] = cum / float(self.count - 1) if self.count > 1 else (
                    0.0 if cum == 0 else float(cum)
                )
        return out[0] if scalar else out

    def _trimmed(self, low: float, high: float,
                 correct_negatives: bool = False) -> tuple[float, int]:
        """Reference trimmed aggregate — ddsketch.c:3687-3757, including its
        positive-domain quirk: buckets iterate in storage order (negative
        DESC then positive ASC) with the positive bound formula and the zero
        bucket ignored; correct for all-positive data only.

        ``correct_negatives=True`` (our opt-in extension, r3 verdict item
        8) walks buckets in true ascending-VALUE order with sign-correct
        bounds — negative bucket i spans [-upper(i), -lower(i)] — and
        includes the zero bucket, so trimmed sums/means are right on
        zero-straddling data. Default stays reference-parity."""
        validate_trim(low, high)
        count_low = math.floor(self.count * low)
        count_high = math.ceil(self.count * high)
        ni, nc = self._neg_sorted()
        pi, pc = self._pos_sorted()
        if correct_negatives:
            # ascending value: most-negative first (neg index DESC already),
            # then the zero bucket, then positives
            segments = [(-map_upper_bound(self.alpha, i),
                         -map_lower_bound(self.alpha, i), n)
                        for i, n in zip(ni, nc)]
            if self.zero_count:
                segments.append((0.0, 0.0, self.zero_count))
            segments += [(map_lower_bound(self.alpha, i),
                          map_upper_bound(self.alpha, i), n)
                         for i, n in zip(pi, pc)]
        else:
            segments = [(map_lower_bound(self.alpha, i),
                         map_upper_bound(self.alpha, i), n)
                        for i, n in zip(ni + pi, nc + pc)]
        terms: list[float] = []
        kept = 0
        count_done = 0
        for bucket_from, bucket_to, n in segments:
            count_skip = max(0, count_low - count_done - 1)
            count_skip = min(count_skip, n)
            count_add = n - count_skip
            count_add -= max(0, count_done + n - count_high)
            start = bucket_from + (count_skip * (bucket_to - bucket_from)) / n
            end = bucket_from + ((count_skip + count_add) * (bucket_to - bucket_from)) / n
            terms.append((start + end) / 2.0 * count_add)
            kept += count_add
            count_done += n
            if count_done >= count_high:
                break
        # exactly-rounded sum: order-independent, so parallel == serial holds
        # bit-for-bit (reference sums sequentially; result differs by <=1 ulp)
        return math.fsum(terms), kept

    def trimmed_sum(self, low: float = 0.0, high: float = 1.0,
                    correct_negatives: bool = False) -> float:
        s, _ = self._trimmed(low, high, correct_negatives)
        return s if self.count > 0 else float("nan")

    def trimmed_avg(self, low: float = 0.0, high: float = 1.0,
                    correct_negatives: bool = False) -> float:
        s, n = self._trimmed(low, high, correct_negatives)
        return s / n if n > 0 else float("nan")

    # ------------------------------------------------------------------ introspection

    def info(self) -> dict:
        """ddsketch_info fields — ddsketch.c:3186-3228."""
        return {
            "bytes": _HEADER.size + _BUCKET.size * (len(self.neg) + len(self.pos)),
            "flags": 0,
            "alpha": self.alpha,
            "count": self.count,
            "zero_count": self.zero_count,
            "maxbuckets": self.maxbuckets,
            "negative_buckets": len(self.neg),
            "positive_buckets": len(self.pos),
            "min_indexable": self.min_indexable,
            "max_indexable": self.max_indexable,
        }

    def buckets(self) -> list[dict]:
        """One row per stored bucket, storage order (negative DESC then
        positive ASC), with value-space bounds — ddsketch.c:3230-3298
        (negative buckets report negated, swapped bounds)."""
        ni, nc = self._neg_sorted()
        pi, pc = self._pos_sorted()
        rows = []
        seq = 0
        for i, n in zip(ni, nc):
            lo = map_lower_bound(self.alpha, i)
            hi = map_upper_bound(self.alpha, i)
            rows.append({"index": seq, "bucket_index": i, "lower": -hi,
                         "upper": -lo, "length": abs(hi - lo), "count": n})
            seq += 1
        for i, n in zip(pi, pc):
            lo = map_lower_bound(self.alpha, i)
            hi = map_upper_bound(self.alpha, i)
            rows.append({"index": seq, "bucket_index": i, "lower": lo,
                         "upper": hi, "length": abs(hi - lo), "count": n})
            seq += 1
        return rows

    # ------------------------------------------------------------------ serde

    def to_bytes(self) -> bytes:
        """Canonical binary encoding == reference wire format
        (``ddsketch_send``, ddsketch.c:3013-3027): big-endian header then
        (index int32, count int64) pairs, negative part (index DESC) first."""
        if self.count <= 0:
            raise ValueError("cannot serialize an empty ddsketch")
        ni, nc = self._neg_sorted()
        pi, pc = self._pos_sorted()
        nbuckets = len(ni) + len(pi)
        out = bytearray(
            _HEADER.pack(0, self.count, self.zero_count, self.alpha,
                         self.maxbuckets, nbuckets, len(ni))
        )
        arr = np.empty(nbuckets, dtype=_BUCKET_DT)
        arr["index"] = np.array(ni + pi, dtype=np.int64)
        arr["count"] = np.array(nc + pc, dtype=np.int64)
        out += arr.tobytes()
        return bytes(out)

    @classmethod
    def _validated(cls, flags, count, zero_count, alpha, maxbuckets, nbuckets,
                   nneg, check_alpha, read_buckets, on_overflow) -> "DDSketch":
        """The checks both wire formats share, in the reference's order:
        header (``check_alpha`` is the format's alpha range), then
        ``read_buckets(nbuckets) -> (index, count)`` arrays (the format's
        own size / parse-count check), then the buckets themselves."""
        if flags != 0:
            raise ValueError(f"invalid sketch flags {flags}")
        check_alpha(alpha)
        validate_nbuckets(maxbuckets)
        if nneg < 0:
            raise ValueError(
                f"number of negative buckets ({nneg}) for ddsketch "
                "must not be negative")
        if nneg > nbuckets:
            raise ValueError(
                f"number of negative buckets ({nneg}) for ddsketch "
                f"must not exceed nbuckets ({nbuckets})")
        if nbuckets > maxbuckets:
            raise ValueError(
                f"number of buckets ({nbuckets}) for ddsketch "
                f"must not exceed maxbuckets ({maxbuckets})")
        if count <= 0:
            raise ValueError("count value for the ddsketch must be positive")
        if zero_count < 0:
            raise ValueError(
                "zero_count value for the ddsketch must be positive")
        if zero_count > count:
            raise ValueError(
                "zero_count value for the ddsketch must not exceed count")
        idx, cnt = read_buckets(nbuckets)
        if np.any(cnt <= 0):
            raise ValueError(
                "count value for all indexes in a ddsketch must be positive")
        if nneg > 1 and np.any(np.diff(idx[:nneg]) >= 0):
            raise ValueError(
                "invalid sketch - ascending indexes in the negative part")
        if nbuckets - nneg > 1 and np.any(np.diff(idx[nneg:]) <= 0):
            raise ValueError(
                "invalid sketch - descending indexes in the positive part")
        total = int(cnt.sum()) + zero_count
        if total != count:
            raise ValueError(
                f"total count {count} does not match buckets + zero_count "
                f"{total}")
        s = cls(min(max(alpha, MIN_SKETCH_ALPHA), MAX_SKETCH_ALPHA),
                maxbuckets, on_overflow)
        s.alpha = float(alpha)  # may exceed 0.1 after collapse (from_bytes)
        s._set_params()
        s.count = int(count)
        s.zero_count = int(zero_count)
        s.neg = {int(i): int(n) for i, n in zip(idx[:nneg], cnt[:nneg])}
        s.pos = {int(i): int(n) for i, n in zip(idx[nneg:], cnt[nneg:])}
        return s

    @classmethod
    def from_bytes(cls, data: bytes, on_overflow: str = "error") -> "DDSketch":
        """Parse + validate, mirroring ``ddsketch_recv`` (ddsketch.c:2870-3002)."""
        if len(data) < _HEADER.size:
            raise ValueError("invalid ddsketch: truncated header")

        # binary decode accepts alpha beyond the reference's input range
        # [0.0001, 0.1]: UDDSketch collapse (our extension, SURVEY §7.0)
        # doubles alpha per collapse, and collapsed sketches must round-trip.
        # Text format (from_string) keeps the strict reference validation.
        def check_alpha(alpha):
            if not (0.0 < alpha < 1.0):
                raise ValueError(
                    f"alpha for ddsketch ({alpha:f}) must be in (0, 1)")

        def read_buckets(nbuckets):
            expected = _HEADER.size + nbuckets * _BUCKET.size
            if len(data) != expected:
                raise ValueError(
                    f"invalid ddsketch size {len(data)}, expected {expected}")
            arr = np.frombuffer(data, dtype=_BUCKET_DT, count=nbuckets,
                                offset=_HEADER.size)
            return arr["index"].astype(np.int64), arr["count"].astype(np.int64)

        flags, count, zero_count, alpha, maxbuckets, nbuckets, nneg = \
            _HEADER.unpack_from(data)
        return cls._validated(flags, count, zero_count, alpha, maxbuckets,
                              nbuckets, nneg, check_alpha, read_buckets,
                              on_overflow)

    def to_string(self) -> str:
        """Reference text format (``ddsketch_out``, ddsketch.c:2849-2868)."""
        ni, nc = self._neg_sorted()
        pi, pc = self._pos_sorted()
        parts = [
            f"flags 0 count {self.count} alpha {self.alpha:.6f} "
            f"zero_count {self.zero_count} maxbuckets {self.maxbuckets} "
            f"buckets {len(ni) + len(pi)} {len(ni)}"
        ]
        for i, n in zip(ni + pi, nc + pc):
            parts.append(f" ({i}, {n})")
        return "".join(parts)

    _HEADER_RE = re.compile(
        r"^\s*flags\s+(-?\d+)\s+count\s+(-?\d+)\s+alpha\s+(-?[\d.eE+-]+)\s+"
        r"zero_count\s+(-?\d+)\s+maxbuckets\s+(-?\d+)\s+buckets\s+(-?\d+)\s+(-?\d+)"
    )
    _BUCKET_RE = re.compile(r"\s*\(\s*(-?\d+)\s*,\s*(-?\d+)\s*\)")

    @classmethod
    def from_string(cls, text: str, on_overflow: str = "error") -> "DDSketch":
        """Parse + validate the text format (``ddsketch_in``,
        ddsketch.c:2651-2847) with the reference's failure cases."""
        m = cls._HEADER_RE.match(text)
        if not m:
            # message text == reference (ddsketch.c:2677)
            raise ValueError(f"failed to parse ddsketch value: {text[:60]!r}")

        def read_buckets(nbuckets):
            pairs = cls._BUCKET_RE.findall(text, m.end())
            if len(pairs) > nbuckets:
                # message text == reference (ddsketch.c:2762)
                raise ValueError("too many buckets parsed")
            if len(pairs) != nbuckets:
                raise ValueError(
                    f"expected {nbuckets} buckets, found {len(pairs)}")
            # object arrays: text integers are unbounded, as in the header
            return (np.array([int(a) for a, _ in pairs], dtype=object),
                    np.array([int(b) for _, b in pairs], dtype=object))

        g = m.groups()
        flags, count, zero_count, maxbuckets, nbuckets, nneg = (
            int(g[i]) for i in (0, 1, 3, 4, 5, 6))
        return cls._validated(flags, count, zero_count, float(g[2]),
                              maxbuckets, nbuckets, nneg, validate_alpha,
                              read_buckets, on_overflow)

    # ------------------------------------------------------------------ misc

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, DDSketch)
            and self.alpha == other.alpha
            and self.count == other.count
            and self.zero_count == other.zero_count
            and self.neg == other.neg
            and self.pos == other.pos
        )

    def __repr__(self) -> str:
        return (
            f"DDSketch(alpha={self.alpha}, maxbuckets={self.maxbuckets}, "
            f"count={self.count}, buckets={len(self.neg)}+{len(self.pos)}, "
            f"zero={self.zero_count})"
        )


def from_bytes(data: bytes, on_overflow: str = "error") -> DDSketch:
    """Module-level alias of :meth:`DDSketch.from_bytes` — plain functions
    pickle by reference into Spark closures, bound classmethods don't."""
    return DDSketch.from_bytes(data, on_overflow)


def union(a: DDSketch | None, b: DDSketch | None) -> DDSketch | None:
    """NULL-tolerant two-sketch union (``ddsketch_union``,
    ddsketch.c:2605-2648): returns the non-None argument if one is None."""
    if a is None:
        return b.copy() if b is not None else None
    if b is None:
        return a.copy()
    return a.copy().merge(b)


def param_info(alpha: float) -> dict:
    """Indexable range for an alpha without building a sketch —
    ``ddsketch_info(alpha)`` (ddsketch.c:3300-3334)."""
    validate_alpha(alpha)
    _, _, min_idx, max_idx = mapping_params(alpha)
    return {"min_indexable": min_idx, "max_indexable": max_idx}


def param_buckets(alpha: float, min_value: float, max_value: float) -> list[dict]:
    """Enumerate the buckets a value range would occupy — exact mirror of
    ``ddsketch_buckets(alpha, min, max)`` (ddsketch.c:3343-3485): near-zero
    endpoints clamp to +-min_indexable; a sign-crossing range walks the
    negative store down to the switch index (the bucket of
    min_indexable_value) and then the positive store up from that same
    switch index (the switch bucket appears once per sign, like the
    reference\'s +2 row count). Rows: index (ordinal), bucket_index,
    lower, upper."""
    validate_alpha(alpha)
    _, mult, min_idx, max_idx = mapping_params(alpha)
    if min_value > max_value:
        raise ValueError(f"invalid range ({min_value:e} > {max_value:e})")
    if abs(max_value) > max_idx:
        raise ValueError(
            f"maximum value is outside indexable range ({max_value:e} > {max_idx:e})")
    if abs(min_value) > max_idx:
        raise ValueError(
            f"minimum value is outside indexable range ({min_value:e} > {max_idx:e})")
    if abs(min_value) < min_idx:
        min_value = min_idx if max_value > 0 else -min_idx
    if abs(max_value) < min_idx:
        max_value = -min_idx if min_value > 0 else min_idx

    def idx(v: float) -> int:
        return int(map_index(np.array([abs(v)]), mult)[0])

    rows: list[dict] = []

    def emit(i: int, negative: bool) -> None:
        lo = map_lower_bound(alpha, i)
        hi = map_upper_bound(alpha, i)
        if negative:
            rows.append({"index": len(rows), "bucket_index": i,
                         "lower": -hi, "upper": -lo})
        else:
            rows.append({"index": len(rows), "bucket_index": i,
                         "lower": lo, "upper": hi})

    if (min_value > 0) == (max_value > 0):
        i0, i1 = idx(min_value), idx(max_value)
        if max_value < 0:
            for i in range(i0, i1 - 1, -1):
                emit(i, True)
        else:
            for i in range(i0, i1 + 1):
                emit(i, False)
    else:
        switch = idx(min_idx)
        for i in range(idx(min_value), switch - 1, -1):
            emit(i, True)
        for i in range(switch, idx(max_value) + 1):
            emit(i, False)
    return rows
