"""Correctness checks of op outputs against the exact answers from
``inputs.py``.  Each check returns a :class:`Verdict`; a failed verdict
fails the op."""

from __future__ import annotations

import math
import numbers
import traceback
from dataclasses import dataclass, field

import numpy as np

from inputs import ALPHA, QS

# relative-error slack for float formatting of the bound itself
_EPS = 1e-12


@dataclass
class Verdict:
    ok: bool = True
    err_max: float = 0.0          # largest quantile relative error seen
    found: int = 0                # injected pairs returned (dedup)
    injected: int = 0             # injected pairs (dedup)
    cluster_recall: float | None = None   # mean over clusters (dedup)
    problems: list[str] = field(default_factory=list)

    def fail(self, msg: str) -> None:
        self.ok = False
        if len(self.problems) < 5:
            self.problems.append(msg)


def guarded(check, *args) -> Verdict:
    """``check(*args)``, or a failed verdict carrying the traceback when
    the output is so malformed (a missing column, a wrong row shape) that
    the check itself raises."""
    try:
        return check(*args)
    except Exception:
        v = Verdict()
        v.fail("output could not be checked: "
               + traceback.format_exc(limit=2).strip())
        return v


def rel_err(est, exact: float) -> float:
    if not isinstance(est, numbers.Real) or math.isnan(est):
        return float("inf")
    if exact == 0:
        return 0.0 if est == 0 else float("inf")
    return abs(est - exact) / abs(exact)


def check_quantiles(got: dict, expected: dict) -> Verdict:
    """``got``/``expected``: key -> {"n": count or None, "q": [p50, p90,
    p99]}.  Every expected key must be present, no extra key may appear,
    counts must match where reported, and every quantile must be within
    ``ALPHA`` relative error of the exact lower quantile."""
    v = Verdict()
    for key in sorted(set(expected) - set(got)):
        v.fail(f"missing key {key}")
    for key in sorted(set(got) - set(expected)):
        v.fail(f"unexpected key {key}")
    for key in sorted(set(got) & set(expected)):
        g, e = got[key], expected[key]
        if g.get("n") is not None and g["n"] != e["n"]:
            v.fail(f"{key}: n={g['n']} expected {e['n']}")
        if len(g["q"]) != len(e["q"]):
            v.fail(f"{key}: {len(g['q'])} quantiles, expected {len(e['q'])}")
            continue
        for q, est, exact in zip(QS, g["q"], e["q"]):
            err = rel_err(est, exact)
            v.err_max = max(v.err_max, err)
            if not err <= ALPHA + _EPS:
                v.fail(f"{key} q={q}: est {est} vs exact {exact} "
                       f"(rel err {err:.4g} > {ALPHA})")
    return v


def quantile_rows(rows, key_fields: list[str]) -> dict:
    """Rows of ``key..., [n,] q, est`` (one per quantile) -> the ``got``
    form of :func:`check_quantiles`, quantiles in ascending q order."""
    got: dict = {}
    for r in rows:
        d = r.asDict() if hasattr(r, "asDict") else r
        key = "/".join(str(d[k]) for k in key_fields)
        ent = got.setdefault(key, {"n": d.get("n"), "q": {}})
        ent["q"][float(d["q"])] = d["est"]
    for ent in got.values():
        ent["q"] = [ent["q"][q] for q in sorted(ent["q"])]
    return got


def check_pairs(got: np.ndarray, expected: np.ndarray,
                injected: np.ndarray) -> Verdict:
    """``got``/``expected``: int64 ``(a, b, bands_shared)`` rows;
    ``injected``: ``(a, b, cluster)`` rows of the near-duplicate clusters.
    The output must equal the exact LSH answer.  Recall over the injected
    pairs is kept both pooled (``found / injected``) and as the mean of
    each cluster's recall, which the hot cluster does not dominate."""
    v = Verdict(injected=len(injected))
    got = np.asarray(got, dtype=np.int64).reshape(-1, 3)
    expected = np.asarray(expected, dtype=np.int64).reshape(-1, 3)
    g = got[np.lexsort((got[:, 1], got[:, 0]))]
    e = expected[np.lexsort((expected[:, 1], expected[:, 0]))]
    width = int(max(g[:, :2].max(initial=0), e[:, :2].max(initial=0),
                    injected.max(initial=0))) + 1
    gk, ek = g[:, 0] * width + g[:, 1], e[:, 0] * width + e[:, 1]
    if len(np.unique(gk)) != len(gk):
        v.fail("duplicate pairs in output")
    missing = np.setdiff1d(ek, gk)
    extra = np.setdiff1d(gk, ek)
    if len(missing):
        a, b = divmod(int(missing[0]), width)
        v.fail(f"{len(missing)} expected pairs dropped, e.g. ({a}, {b})")
    if len(extra):
        a, b = divmod(int(extra[0]), width)
        v.fail(f"{len(extra)} unexpected pairs, e.g. ({a}, {b})")
    if not len(missing) and not len(extra) and not np.array_equal(
            g[:, 2], e[:, 2]):
        v.fail("bands_shared differs from the exact LSH count")
    hit = np.isin(injected[:, 0] * width + injected[:, 1], gk)
    v.found = int(hit.sum())
    clusters, idx = np.unique(injected[:, 2], return_inverse=True)
    if len(clusters):
        v.cluster_recall = float(np.mean(
            np.bincount(idx, weights=hit) / np.bincount(idx)))
    return v
