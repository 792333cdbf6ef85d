"""DuckDB oracle SQL generators mirroring the DDSketch algorithm.

The engine's results are *approximate* relative to exact quantiles but
*deterministic* functions of the data (integer bucket counts + fixed float
expressions). These builders emit ANSI SQL that computes the identical
algorithm — ceil-log-gamma bucketing, cumulative-count walk, representative
value — so the driver's value-hash comparison against DuckDB matches
bit-for-bit. Float-sensitive constants (gamma, multiplier, zero threshold)
are computed in Python and embedded as full-precision literals so both
sides use the same doubles.

Column-name contract: every builder aliases its output columns and the
matching Spark queries alias identically.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np

from ddsketch_spark.core.ddsketch import map_index, mapping_params
from ddsketch_spark.core.hashing import (
    H1_BITS, H64_BITS, duckdb_h64, py_positions,
)


def _consts(alpha: float) -> tuple[float, float, float, float]:
    gamma, mult, minidx, _ = mapping_params(alpha)
    rep_factor = 2.0 / (1.0 + gamma)
    return gamma, mult, minidx, rep_factor




def _lit(x: float) -> str:
    """Emit a double literal in scientific notation: DuckDB parses e-notation
    directly as DOUBLE, while plain decimal literals become DECIMAL first and
    the DECIMAL->DOUBLE cast is not correctly rounded."""
    return f"{float(x):.17e}"


def _base_ctes(table: str, value_expr: str, alpha: float,
               keys: Sequence[str], weight_expr: str | None) -> tuple[str, str, str]:
    """Shared CTEs: vals / idx / buckets / totals. Returns (cte_sql,
    key_select_prefix, walk_order)."""
    _, mult, minidx, _ = _consts(alpha)
    keys = list(keys)
    ksel = "".join(f"{k}, " for k in keys)
    kgroup = ", ".join(keys)
    w = f"CAST(COALESCE({weight_expr}, 1) AS BIGINT)" if weight_expr else "CAST(1 AS BIGINT)"
    totals_group = f" GROUP BY {kgroup}" if keys else ""
    cte = f"""
vals AS (
  SELECT {ksel}{value_expr} AS v, {w} AS w
  FROM {table}
  WHERE {value_expr} IS NOT NULL
),
idx AS (
  SELECT {ksel}
         CASE WHEN v > {_lit(minidx)} THEN 2 WHEN v < {_lit(-minidx)} THEN 0 ELSE 1 END AS part,
         CASE WHEN v > {_lit(minidx)} THEN CAST(ceil(ln(v) / ln(2.0) * {_lit(mult)}) AS BIGINT)
              WHEN v < {_lit(-minidx)} THEN CAST(ceil(ln(-v) / ln(2.0) * {_lit(mult)}) AS BIGINT)
              ELSE 0 END AS bidx,
         w
  FROM vals
),
buckets AS (
  SELECT {ksel}part, bidx, CAST(sum(w) AS BIGINT) AS c
  FROM idx GROUP BY {kgroup}{", " if keys else ""}part, bidx
),
totals AS (
  SELECT {ksel}CAST(sum(c) AS BIGINT) AS n FROM buckets{totals_group}
)"""
    walk_order = "part ASC, CASE WHEN part = 0 THEN -bidx ELSE bidx END ASC"
    return cte, ksel, walk_order


def _rep_value(alpha: float) -> str:
    _, mult, _, rep = _consts(alpha)
    return (f"CASE part WHEN 1 THEN 0.0 "
            f"WHEN 0 THEN -(pow(2.0, bidx / {_lit(mult)}) * {_lit(rep)}) "
            f"ELSE pow(2.0, bidx / {_lit(mult)}) * {_lit(rep)} END")


def percentile_sql(table: str, value_expr: str, alpha: float,
                   qs: Sequence[float], keys: Sequence[str] = (),
                   weight_expr: str | None = None) -> str:
    """Rows ``keys..., q, est`` — one row per key per requested quantile."""
    keys = list(keys)
    cte, ksel, order = _base_ctes(table, value_expr, alpha, keys, weight_expr)
    goals = ", ".join(f"({_lit(float(q))})" for q in qs)
    join = f"JOIN totals t USING ({', '.join(keys)})" if keys else "CROSS JOIN totals t"
    kw = "".join(f"w.{k}, " for k in keys)
    part_cols = ", ".join(f"w.{k}" for k in keys)
    part_clause = f"PARTITION BY {part_cols}, g.q" if keys else "PARTITION BY g.q"
    return f"""
WITH {cte},
walked AS (
  SELECT {ksel}part, bidx, c,
         sum(c) OVER ({f"PARTITION BY {', '.join(keys)} " if keys else ""}ORDER BY {order}
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM buckets
),
hits AS (
  SELECT {kw}g.q AS q, {_rep_value(alpha).replace('part', 'w.part').replace('bidx', 'w.bidx')} AS est,
         row_number() OVER ({part_clause}
                            ORDER BY w.part ASC, CASE WHEN w.part = 0 THEN -w.bidx ELSE w.bidx END ASC) AS rn
  FROM walked w {join} CROSS JOIN (VALUES {goals}) g(q)
  WHERE w.cum > g.q * (t.n - 1)
)
SELECT {ksel}q, est FROM hits WHERE rn = 1
"""


def uddsketch_alpha_chain(alpha0: float, levels: int) -> list[float]:
    """alpha after 0..levels uniform collapses — the exact float recurrence
    of DDSketch._collapse (a -> 2a/(1+a^2)), so oracle constants are
    bit-identical to the kernel's."""
    out, a = [float(alpha0)], float(alpha0)
    for _ in range(levels):
        a = 2.0 * a / (1.0 + a * a)
        if a >= 1.0:      # chain fixpoint: gamma would be infinite
            break
        out.append(a)
    return out


def collapsed_percentile_sql(table: str, value_expr: str, alpha0: float,
                             maxbuckets: int, qs: Sequence[float],
                             max_levels: int = 8) -> str:
    """Rows ``q, est, nb`` — quantiles of a sketch built at ``alpha0`` then
    UDDSketch-collapsed until its non-zero bucket count fits
    ``maxbuckets`` (mirror of DDSketch.with_maxbuckets / _collapse).

    The collapse level j* is data-dependent but replayable: level-j bucket
    of a value is the exact integer ``ceil(bidx0 / 2^j)`` of its level-0
    bucket (iterated ceil-halving identity), so the SQL computes level-0
    buckets with the standard mapping, derives every candidate level's
    bucket count, picks the smallest feasible level, and walks quantiles
    with that level's (multiplier, representative) constants — all emitted
    as full-precision Python literals from the same recurrence the kernel
    runs. ``nb`` is the surviving bucket count, pinning that a collapse
    actually happened."""
    alphas = uddsketch_alpha_chain(alpha0, max_levels)
    lv_rows = []
    for j, a in enumerate(alphas):
        gamma, mult, _, _ = mapping_params(a)
        rep = 2.0 / (1.0 + gamma)
        lv_rows.append(f"({j}, {_lit(mult)}, {_lit(rep)})")
    cte, _, _ = _base_ctes(table, value_expr, alpha0, [], None)
    goals = ", ".join(f"({_lit(float(q))})" for q in qs)
    return f"""
WITH {cte},
lv(j, mult, rep) AS (VALUES {", ".join(lv_rows)}),
counts AS (
  SELECT j, count(DISTINCT cidx * 4 + part) AS nb FROM (
    SELECT l.j AS j, b.part AS part,
           CAST(ceil(CAST(b.bidx AS DOUBLE) / pow(2.0, CAST(l.j AS DOUBLE))) AS BIGINT) AS cidx
    FROM buckets b CROSS JOIN lv l WHERE b.part <> 1) z
  GROUP BY j),
jstar AS (SELECT min(j) AS j FROM counts WHERE nb <= {maxbuckets}),
cb AS (
  SELECT b.part AS part,
         CASE WHEN b.part = 1 THEN CAST(0 AS BIGINT)
              ELSE CAST(ceil(CAST(b.bidx AS DOUBLE) / pow(2.0, CAST(s.j AS DOUBLE))) AS BIGINT)
         END AS cidx,
         CAST(sum(b.c) AS BIGINT) AS c
  FROM buckets b CROSS JOIN jstar s
  GROUP BY 1, 2),
walked AS (
  SELECT part, cidx, c,
         sum(c) OVER (ORDER BY part ASC, CASE WHEN part = 0 THEN -cidx ELSE cidx END ASC
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM cb),
hits AS (
  SELECT g.q AS q,
         CASE w.part WHEN 1 THEN 0.0
              WHEN 0 THEN -(pow(2.0, CAST(w.cidx AS DOUBLE) / l.mult) * l.rep)
              ELSE pow(2.0, CAST(w.cidx AS DOUBLE) / l.mult) * l.rep END AS est,
         row_number() OVER (PARTITION BY g.q
                            ORDER BY w.part ASC,
                                     CASE WHEN w.part = 0 THEN -w.cidx ELSE w.cidx END ASC) AS rn
  FROM walked w CROSS JOIN totals t CROSS JOIN jstar s
       JOIN lv l ON l.j = s.j
       CROSS JOIN (VALUES {goals}) g(q)
  WHERE w.cum > g.q * (t.n - 1))
SELECT q, est,
       (SELECT CAST(c2.nb AS BIGINT) FROM counts c2, jstar s2 WHERE c2.j = s2.j) AS nb
FROM hits WHERE rn = 1
"""


def rank_of_sql(table: str, value_expr: str, alpha: float, x: float,
                keys: Sequence[str] = (), weight_expr: str | None = None) -> str:
    """Rows ``keys..., rank`` — mirror of ddsketch_compute_quantiles_of for a
    positive literal x (the bucket index of x is computed in Python)."""
    keys = list(keys)
    _, mult, minidx, _ = _consts(alpha)
    if x <= minidx:
        raise ValueError("rank_of_sql mirrors the positive-x path only")
    ix = int(map_index(np.array([x]), mult)[0])
    cte, ksel, _ = _base_ctes(table, value_expr, alpha, keys, weight_expr)
    kgroup = f" GROUP BY {', '.join(keys)}" if keys else ""
    join = f"USING ({', '.join(keys)})" if keys else "ON TRUE"
    return f"""
WITH {cte},
agg AS (
  SELECT {ksel}
         COALESCE(sum(CASE WHEN part < 2 THEN c
                           WHEN bidx < {ix} THEN c ELSE 0 END), 0)
         + COALESCE(sum(CASE WHEN part = 2 AND bidx = {ix} THEN c ELSE 0 END), 0) // 2 AS cum
  FROM buckets{kgroup}
)
SELECT {ksel}CAST(agg.cum AS DOUBLE) / (t.n - 1) AS rank
FROM agg JOIN totals t {join}
"""


def buckets_sql(table: str, value_expr: str, alpha: float,
                keys: Sequence[str] = (), weight_expr: str | None = None) -> str:
    """Rows ``keys..., sign, bucket_index, cnt`` (integers only — the most
    robust hash-compare form; zero bucket excluded, like ddsketch_buckets)."""
    cte, ksel, _ = _base_ctes(table, value_expr, alpha, keys, weight_expr)
    return f"""
WITH {cte}
SELECT {ksel}CASE WHEN part = 0 THEN -1 ELSE 1 END AS sign,
       bidx AS bucket_index, c AS cnt
FROM buckets WHERE part <> 1
"""


def info_sql(table: str, value_expr: str, alpha: float,
             keys: Sequence[str] = (), weight_expr: str | None = None) -> str:
    """Rows ``keys..., cnt, zero_cnt, neg_buckets, pos_buckets``."""
    keys = list(keys)
    cte, ksel, _ = _base_ctes(table, value_expr, alpha, keys, weight_expr)
    kgroup = f" GROUP BY {', '.join(keys)}" if keys else ""
    return f"""
WITH {cte}
SELECT {ksel}CAST(sum(c) AS BIGINT) AS cnt,
       CAST(COALESCE(sum(CASE WHEN part = 1 THEN c END), 0) AS BIGINT) AS zero_cnt,
       CAST(COALESCE(sum(CASE WHEN part = 0 THEN 1 END), 0) AS BIGINT) AS neg_buckets,
       CAST(COALESCE(sum(CASE WHEN part = 2 THEN 1 END), 0) AS BIGINT) AS pos_buckets
FROM buckets{kgroup}
"""


def trimmed_sql(table: str, value_expr: str, alpha: float, low: float,
                high: float, kind: str, keys: Sequence[str] = (),
                weight_expr: str | None = None,
                sign_correct: bool = False) -> str:
    """Rows ``keys..., val`` — mirror of ddsketch_trimmed_agg
    (positive-domain semantics; zero bucket ignored in the walk but counted
    in the low/high thresholds, exactly like the reference).

    ``sign_correct=True`` mirrors the engine's opt-in
    ``correct_negatives`` walk instead (core/ddsketch.py _trimmed): same
    storage order — which is already ascending VALUE order — but negative
    bucket i spans [-upper(i), -lower(i)] and the zero bucket joins the
    walk as a [0, 0] segment."""
    assert kind in ("sum", "avg")
    keys = list(keys)
    _, mult, _, _ = _consts(alpha)
    cte, ksel, order = _base_ctes(table, value_expr, alpha, keys, weight_expr)
    join = f"JOIN totals t USING ({', '.join(keys)})" if keys else "CROSS JOIN totals t"
    kgroup = f" GROUP BY {', '.join(keys)}" if keys else ""
    final = "fsum(contrib)" if kind == "sum" else "fsum(contrib) / sum(cadd)"
    walk_filter = "" if sign_correct else " WHERE part <> 1"
    if sign_correct:
        bfrom = (f"CASE o.part WHEN 0 THEN -exp(ln(2.0) * o.bidx / {_lit(mult)})"
                 f" WHEN 1 THEN 0.0"
                 f" ELSE exp(ln(2.0) * (o.bidx - 1) / {_lit(mult)}) END")
        bto = (f"CASE o.part WHEN 0 THEN -exp(ln(2.0) * (o.bidx - 1) / {_lit(mult)})"
               f" WHEN 1 THEN 0.0"
               f" ELSE exp(ln(2.0) * o.bidx / {_lit(mult)}) END")
    else:
        bfrom = f"exp(ln(2.0) * (o.bidx - 1) / {_lit(mult)})"
        bto = f"exp(ln(2.0) * o.bidx / {_lit(mult)})"
    return f"""
WITH {cte},
ordered AS (
  SELECT {ksel}part, bidx, c,
         sum(c) OVER ({f"PARTITION BY {', '.join(keys)} " if keys else ""}ORDER BY {order}
                      ROWS UNBOUNDED PRECEDING) - c AS done_before
  FROM buckets{walk_filter}
),
terms AS (
  SELECT {"".join(f"o.{k}, " for k in keys)}
         {bfrom} AS bfrom,
         {bto} AS bto,
         least(greatest(0, floor(t.n * {_lit(float(low))}) - o.done_before - 1), o.c) AS cskip,
         o.c, o.done_before,
         ceil(t.n * {_lit(float(high))}) AS count_high
  FROM ordered o {join}
  WHERE o.done_before < ceil(t.n * {_lit(float(high))})
),
contribs AS (
  SELECT {ksel}
         ((bfrom + (cskip * (bto - bfrom)) / c)
          + (bfrom + ((cskip + (c - cskip - greatest(0, done_before + c - count_high))) * (bto - bfrom)) / c)
         ) / 2.0 * (c - cskip - greatest(0, done_before + c - count_high)) AS contrib,
         c - cskip - greatest(0, done_before + c - count_high) AS cadd
  FROM terms
)
SELECT {ksel}{final} AS val FROM contribs{kgroup}
"""

# ---------------------------------------------------------------------------
# sibling sketches: exact SQL mirrors (HLL / count-min / Bloom).
# The sketches are deterministic functions of the input *set/multiset*
# (max / sum / OR over md5-derived positions), so DuckDB can replay the
# identical integer arithmetic and the driver's value-hash compare matches
# bit-for-bit. See ddsketch_spark/core/hashing.py for the shared hash.
# ---------------------------------------------------------------------------


def kmv_overlap_sql(pred_a: str, pred_b: str, k: int,
                    table: str = "events",
                    key_expr: str = "user_id") -> str:
    """One row ``est_a, est_b, est_union, est_inter`` — exact replay of
    core.kmv: bottom-k distinct hashes per side (ORDER BY LIMIT), union
    synopsis, (k-1)*M / kth estimator with the exact-count branch below
    capacity, and the rho-scaled intersection — same float literals and
    op order as the kernel."""
    from ddsketch_spark.core.kmv import M_HASH_SPACE

    C = _lit((k - 1) * M_HASH_SPACE)
    h = duckdb_h64(key_expr)

    def est(n, kth):
        return (f"CASE WHEN {n} < {k} THEN CAST({n} AS DOUBLE)"
                f" ELSE {C} / CAST({kth} AS DOUBLE) END")

    eu = est("nu", "ku")
    return f"""
WITH a AS (SELECT DISTINCT {h} AS h FROM {table}
           WHERE {pred_a} ORDER BY h LIMIT {k}),
b AS (SELECT DISTINCT {h} AS h FROM {table}
      WHERE {pred_b} ORDER BY h LIMIT {k}),
u AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b)
      ORDER BY h LIMIT {k}),
stats AS (SELECT
  (SELECT count(*) FROM a) AS na, (SELECT max(h) FROM a) AS ka,
  (SELECT count(*) FROM b) AS nb, (SELECT max(h) FROM b) AS kb,
  (SELECT count(*) FROM u) AS nu, (SELECT max(h) FROM u) AS ku,
  (SELECT count(*) FROM u JOIN a USING (h) JOIN b USING (h)) AS ni)
SELECT round({est("na", "ka")}, 4) AS est_a,
       round({est("nb", "kb")}, 4) AS est_b,
       round({eu}, 4) AS est_union,
       round(CASE WHEN nu = 0 THEN 0.0
                  ELSE CAST(ni AS DOUBLE) / CAST(nu AS DOUBLE) * ({eu})
             END, 4) AS est_inter
FROM stats
"""


def _hll_alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def hll_ndv_sql(table: str, expr: str, p: int = 12,
                keys: Sequence[str] = ()) -> str:
    """Rows ``keys..., ndv_est`` — mirror of core.hll.HLL.estimate().

    The register power sum is computed in *integer* arithmetic (exact,
    order-free) on both sides; only the final division / log are float,
    and the result is rounded to 4 decimals on both sides.
    """
    keys = list(keys)
    m = 1 << p
    Q = H64_BITS - p + 1
    # same evaluation order as HLL.estimate(): ((alpha*m)*m)*2^Q
    C = _hll_alpha(m) * m * m * float(1 << Q)
    ksel = "".join(f"{k}, " for k in keys)
    kgroup = ", ".join(keys)
    regs_group = f"{kgroup}, j" if keys else "j"
    agg_group = f" GROUP BY {kgroup}" if keys else ""
    return f"""
WITH hs AS (
  SELECT {ksel}{duckdb_h64(expr)} AS h FROM {table} WHERE {expr} IS NOT NULL
),
regs AS (
  SELECT {ksel}(h % {m}) AS j,
         max(CASE WHEN (h // {m}) = 0 THEN {Q}
                  ELSE {Q} - length(bin(h // {m})) END) AS rho
  FROM hs GROUP BY {regs_group}
),
agg AS (
  SELECT {ksel}count(*) AS npresent,
         sum((CAST(1 AS BIGINT) << ({Q} - rho))) AS spresent
  FROM regs{agg_group}
),
raws AS (
  SELECT {ksel}({m} - npresent) AS zeros,
         {_lit(C)} / CAST(spresent + ({m} - npresent) * (CAST(1 AS BIGINT) << {Q}) AS DOUBLE) AS raw
  FROM agg
)
SELECT {ksel}round(CASE WHEN raw <= {_lit(2.5 * m)} AND zeros > 0
                        THEN {m} * ln({m} / zeros) ELSE raw END, 4) AS ndv_est
FROM raws
"""


def _double_hash_pos(width: int) -> str:
    """Position expression for stride column ``i`` — mirror of
    core.hashing.positions()."""
    h1 = f"(h % {1 << H1_BITS})"
    h2 = f"(2 * ((h >> {H1_BITS}) % {1 << (H1_BITS - 1)}) + 1)"
    return f"(({h1} + i * {h2}) % {width})"


def cms_freq_sql(table: str, expr: str, depth: int, width: int,
                 probes: Sequence[str], weight_expr: str | None = None,
                 keys: Sequence[str] = ()) -> str:
    """Rows ``keys..., item, freq`` — mirror of core.cms.CMS.estimate()
    for literal probe values (probe positions precomputed in Python, data
    side in SQL). ``weight_expr`` makes it a weighted frequency sketch
    (sum of weights instead of row counts); ``keys`` gives one
    independent sketch per key group (e.g. a streaming window start)."""
    keys = list(keys)
    w = f"CAST(COALESCE({weight_expr}, 1) AS BIGINT)" if weight_expr else "CAST(1 AS BIGINT)"
    ksel = "".join(f"{k}, " for k in keys)
    kgroup = "".join(f"{k}, " for k in keys)
    kg_on = " AND ".join(f"c.{k} = g.{k}" for k in keys)
    probe_rows = []
    for item in probes:
        for i, p in enumerate(py_positions(str(item), depth, width)):
            probe_rows.append(f"('{item}', {i}, {p})")
    values = ", ".join(probe_rows)
    kgrid = (f"(SELECT DISTINCT {', '.join(keys)} FROM hs) g CROSS JOIN "
             if keys else "")
    gk = "".join(f"g.{k}, " for k in keys) if keys else ""
    join_on = (f"ON {kg_on} AND c.i = pr.i AND c.p = pr.p" if keys
               else "ON c.i = pr.i AND c.p = pr.p")
    return f"""
WITH hs AS (
  SELECT {ksel}{duckdb_h64(expr)} AS h, {w} AS w
  FROM {table} WHERE {expr} IS NOT NULL
),
pos AS (
  SELECT {ksel}r.i AS i, {_double_hash_pos(width)} AS p, w
  FROM hs, range({depth}) AS r(i)
),
counters AS (
  SELECT {ksel}i, p, CAST(sum(w) AS BIGINT) AS c FROM pos
  GROUP BY {kgroup}i, p
),
probes(item, i, p) AS (VALUES {values})
SELECT {gk}pr.item AS item, CAST(min(COALESCE(c.c, 0)) AS BIGINT) AS freq
FROM {kgrid}probes pr LEFT JOIN counters c {join_on}
GROUP BY {gk}pr.item
"""


def bloom_member_sql(table: str, expr: str, nbits: int, k: int,
                     probes: Sequence[str],
                     keys: Sequence[str] = ()) -> str:
    """Rows ``keys..., item, member`` — mirror of
    core.bloom.Bloom.contains() for literal probes (false positives
    included: both sides compute the same bit positions, so even FP
    results match exactly). ``keys`` gives one independent filter per
    key group (e.g. a streaming window start)."""
    keys = list(keys)
    ksel = "".join(f"{kk}, " for kk in keys)
    probe_rows = []
    for item in probes:
        for p in py_positions(str(item), k, nbits):
            probe_rows.append(f"('{item}', {p})")
    values = ", ".join(probe_rows)
    kgrid = (f"(SELECT DISTINCT {', '.join(keys)} FROM hs) g CROSS JOIN "
             if keys else "")
    gk = "".join(f"g.{kk}, " for kk in keys)
    kd_on = " AND ".join(f"d.{kk} = g.{kk}" for kk in keys)
    join_on = (f"ON {kd_on} AND d.p = pr.p" if keys else "ON d.p = pr.p")
    return f"""
WITH hs AS (
  SELECT {ksel}{duckdb_h64(expr)} AS h FROM {table} WHERE {expr} IS NOT NULL
),
datapos AS (
  SELECT DISTINCT {ksel}{_double_hash_pos(nbits)} AS p
  FROM hs, range({k}) AS r(i)
),
probes(item, p) AS (VALUES {values})
SELECT {gk}pr.item AS item, bool_and(d.p IS NOT NULL) AS member
FROM {kgrid}probes pr LEFT JOIN datapos d {join_on}
GROUP BY {gk}pr.item
"""


def bound_rows_sql(qs: Sequence[float]) -> str:
    """Rows ``q, ok=TRUE`` — oracle side of the rank-error-bound checks for
    the order-sensitive sketches (KLL / t-digest), whose estimates cannot be
    replayed in SQL (SURVEY §5); the Spark side computes the sketch estimate
    AND verifies its exact rank lies within the bound, so a broken sketch
    yields ok=FALSE and the hash compare fails."""
    rows = ", ".join(f"({_lit(float(q))}, TRUE)" for q in qs)
    return f"SELECT q, ok FROM (VALUES {rows}) t(q, ok)"

# ---------------------------------------------------------------------------
# text analysis / dedup / similarity oracles — exact SQL mirrors of
# operators/textops.py and operators/similarity.py, driven by the shared
# constants in ddsketch_spark/textconf.py (single source of truth).
# ---------------------------------------------------------------------------

from ddsketch_spark.textconf import (  # noqa: E402
    ANN_PLANES, EMB_SCALE, LANGID_LANGS, LANGID_STOPWORDS, LSH_BANDS,
    LSH_ROWS, MINHASH_AB, MINHASH_H, QUALITY_STOPWORDS, QUALITY_WEIGHTS,
    SHINGLE_K, SIMHASH_BITS, _P31, _P61, ann_plane_weights,
)


def mirrored_docs_sql(table: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text", offset: int = 1_000_000) -> str:
    """Subquery doubling the corpus with exact duplicates at id+offset —
    guarantees the dedup queries have positives; applied identically on the
    Spark side (queries.mirrored_docs)."""
    return (f"(SELECT {id_col} AS id, {text_col} AS t FROM {table} "
            f"UNION ALL SELECT {id_col} + {offset} AS id, {text_col} AS t "
            f"FROM {table})")


def dedup_exact_sql(docs_sql: str) -> str:
    return (f"SELECT CAST(min(id) AS BIGINT) AS keep_id, "
            f"CAST(count(*) AS BIGINT) AS n_copies FROM {docs_sql} d "
            f"GROUP BY t")


def _minhash_ctes(docs_sql: str) -> str:
    """CTE chain docs -> sh -> sigs -> bands (mirrors textops.minhash)."""
    k = SHINGLE_K
    sig_cols = ", ".join(
        f"min(({a} * s + {b}) % {_P61}) AS s{j}"
        for j, (a, b) in enumerate(MINHASH_AB))
    band_rows = []
    for b in range(LSH_BANDS):
        cols = ", ".join(f"s{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        # bsig mirrors Spark's raw-signature array key (textops.lsh_bands):
        # DuckDB LISTs group/join by value, same as Spark array<bigint>
        band_rows.append(
            f"SELECT id, {b} AS band, [{cols}] AS bsig FROM sigs")
    bands = " UNION ALL ".join(band_rows)
    # the range *table function* can't take lateral column bounds in
    # DuckDB; the scalar list-returning range + unnest can.
    return f"""
docs AS (SELECT id, t FROM {docs_sql} dsrc),
pos AS (
  SELECT id, t,
         unnest(range(1, greatest(length(t) - {k} + 1, 1) + 1)) AS i
  FROM docs
),
sh AS (
  SELECT id, ({duckdb_h64(f'substr(t, CAST(i AS INTEGER), {k})')} % {_P31}) AS s
  FROM pos
),
sigs AS (SELECT id, {sig_cols} FROM sh GROUP BY id),
bands AS ({bands})"""


def minhash_pairs_sql(docs_sql: str) -> str:
    """Rows ``a, b, bands_shared`` (a < b)."""
    return f"""
WITH {_minhash_ctes(docs_sql)}
SELECT l.id AS a, r.id AS b, CAST(count(*) AS BIGINT) AS bands_shared
FROM bands l JOIN bands r ON l.band = r.band AND l.bsig = r.bsig
WHERE l.id < r.id
GROUP BY l.id, r.id
"""


def ngram_jaccard_sql(docs_sql: str) -> str:
    """Rows ``a, b, jacc`` for the LSH candidate pairs."""
    k = SHINGLE_K
    return f"""
WITH {_minhash_ctes(docs_sql)},
pairs AS (
  SELECT l.id AS a, r.id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.bsig = r.bsig
  WHERE l.id < r.id GROUP BY l.id, r.id
),
shd AS (
  SELECT DISTINCT id, substr(t, CAST(i AS INTEGER), {k}) AS sh
  FROM pos
),
sizes AS (SELECT id, count(*) AS sz FROM shd GROUP BY id),
inter AS (
  SELECT p.a, p.b, count(*) AS i
  FROM pairs p JOIN shd x ON x.id = p.a JOIN shd y ON y.id = p.b
   AND x.sh = y.sh
  GROUP BY p.a, p.b
)
SELECT p.a AS a, p.b AS b,
       floor(CAST(COALESCE(i.i, 0) AS DOUBLE) / (sa.sz + sb.sz - COALESCE(i.i, 0))
             * 1000000.0 + 0.5) / 1000000.0 AS jacc
FROM pairs p
LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
JOIN sizes sa ON sa.id = p.a
JOIN sizes sb ON sb.id = p.b
"""


def simhash_sql(table: str = "documents", id_col: str = "doc_id",
                text_col: str = "text") -> str:
    """Rows ``doc_id, simhash`` — 32-bit token SimHash."""
    return f"""
WITH toks AS (
  SELECT {id_col} AS id, unnest(string_split({text_col}, ' ')) AS tok
  FROM {table}
),
h AS (SELECT id, {duckdb_h64('tok')} AS h FROM toks),
bits AS (
  SELECT id, r.i AS i,
         ((h // (CAST(1 AS BIGINT) << CAST(r.i AS INTEGER))) % 2) * 2 - 1 AS contrib
  FROM h, range({SIMHASH_BITS}) r(i)
),
s AS (SELECT id, i, sum(contrib) AS s FROM bits GROUP BY id, i)
SELECT id AS doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
FROM s GROUP BY id
"""


def _occ_sql(padded: str, word: str) -> str:
    pat = f" {word} "
    return (f"((length({padded}) - length(replace({padded}, '{pat}', '')))"
            f" // {len(pat)})")


def text_profile_sql(table: str = "documents", id_col: str = "doc_id",
                     text_col: str = "text") -> str:
    """Rows ``doc_id, tokens, lang_pred, quality, fp`` — mirror of the four
    text-metric column builders."""
    t = text_col
    padded = f"(' ' || {t} || ' ')"
    toks = (f"(CASE WHEN length({t}) = 0 THEN 0 ELSE length({t})"
            f" - length(replace({t}, ' ', '')) + 1 END)")
    scores = {
        lang: " + ".join(_occ_sql(padded, w) for w in LANGID_STOPWORDS[lang])
        for lang in LANGID_LANGS
    }
    score_cols = ", ".join(f"({scores[l]}) AS sc_{l}" for l in LANGID_LANGS)
    mx = "greatest(" + ", ".join(f"sc_{l}" for l in LANGID_LANGS) + ")"
    lang_case = "CASE " + " ".join(
        f"WHEN sc_{l} = {mx} THEN '{l}'" for l in LANGID_LANGS) + " END"
    w1, w2, w3, w4 = QUALITY_WEIGHTS
    stop = " + ".join(_occ_sql(padded, w) for w in QUALITY_STOPWORDS)
    alpha = f"CAST(length(regexp_replace({t}, '[^a-z]', '', 'g')) AS DOUBLE)"
    digit = f"CAST(length(regexp_replace({t}, '[^0-9]', '', 'g')) AS DOUBLE)"
    space = f"CAST(length({t}) - length(replace({t}, ' ', '')) AS DOUBLE)"
    ln = f"CAST(length({t}) AS DOUBLE)"
    quality = (f"CASE WHEN length({t}) > 0 THEN floor(("
               f"{_lit(w1)} * ({alpha} / {ln})"
               f" + {_lit(w2)} * (CAST({stop} AS DOUBLE) / CAST({toks} AS DOUBLE))"
               f" + {_lit(w3)} * (1.0 - {digit} / {ln})"
               f" + {_lit(w4)} * ({space} / {ln}))"
               f" * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END")
    # mirrors of textops.bpe_token_count_col / rolling_fingerprint_col
    bpe = (f"CAST(len(regexp_extract_all({t}, "
           f"'[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)")
    return f"""
WITH scored AS (
  SELECT {id_col} AS doc_id, {t} AS t,
         CAST({toks} AS BIGINT) AS tokens,
         {bpe} AS bpe_tokens,
         {quality} AS quality,
         {duckdb_h64(t)} AS fp,
         {score_cols}
  FROM {table}
),
chars AS (
  SELECT {id_col} AS doc_id,
         unnest(range(1, greatest(length({t}), 1) + 1)) AS i, {t} AS t
  FROM {table}
),
rolling AS (
  SELECT doc_id,
         CAST(sum(ascii(substr(t, CAST(i AS INTEGER), 1))
                  * (((i * 2654435761) % 2147483648) | 1)) AS BIGINT)
         % {(1 << 61) - 1} AS rfp
  FROM chars GROUP BY doc_id
)
SELECT s.doc_id AS doc_id, s.tokens, s.bpe_tokens,
       {lang_case} AS lang_pred, s.quality, s.fp, r.rfp AS rfp
FROM scored s JOIN rolling r ON r.doc_id = s.doc_id
"""


# ------------------------------------------------------------- embeddings

_QUANT = (f"list_transform({{col}}, x -> CAST(floor(CAST(x AS DOUBLE)"
          f" * {EMB_SCALE} + 0.5) AS BIGINT))")


def _emb_ctes(table: str = "embeddings", id_col: str = "vec_id",
              emb_col: str = "embedding") -> str:
    q = _QUANT.format(col=emb_col)
    return f"""
q AS (
  SELECT {id_col} AS id, {q} AS qv,
         CAST(list_sum(list_transform({q}, x -> x * x)) AS BIGINT) AS n2
  FROM {table}
)"""


_COS = ("CAST(CAST(list_sum(list_transform(list_zip(a.qv, b.qv),"
        " s -> s[1] * s[2])) AS BIGINT) AS DOUBLE)"
        " / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))")


def ann_topk_sql(n_queries: int, k: int, table: str = "embeddings",
                 id_col: str = "vec_id", emb_col: str = "embedding") -> str:
    """Rows ``query_id, rank, neighbor_id`` — brute-force cosine top-k for
    queries with id < n_queries."""
    return f"""
WITH {_emb_ctes(table, id_col, emb_col)},
scored AS (
  SELECT a.id AS query_id, b.id AS neighbor_id, {_COS} AS cos
  FROM q a JOIN q b ON a.id <> b.id
  WHERE a.id < {n_queries}
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
FROM ranked WHERE rank <= {k}
"""


def cosine_dup_sql(threshold: float, table: str = "embeddings",
                   id_col: str = "vec_id", emb_col: str = "embedding") -> str:
    """Rows ``a, b`` with cosine >= threshold (a < b)."""
    return f"""
WITH {_emb_ctes(table, id_col, emb_col)}
SELECT a.id AS a, b.id AS b
FROM q a JOIN q b ON a.id < b.id
WHERE {_COS} >= {_lit(threshold)}
"""


def _planes_values_sql() -> str:
    w = ann_plane_weights()
    rows = []
    for p in range(w.shape[0]):
        for d in range(w.shape[1]):
            rows.append(f"({p},{d},{int(w[p, d])})")
    return "planes(p, d, w) AS (VALUES " + ", ".join(rows) + ")"


def ann_lsh_topk_sql(n_queries: int, k: int, table: str = "embeddings",
                     id_col: str = "vec_id", emb_col: str = "embedding") -> str:
    """Rows ``query_id, rank, neighbor_id`` — top-k restricted to
    same-LSH-bucket candidates (mirror of similarity.ann_lsh_topk)."""
    return f"""
WITH {_emb_ctes(table, id_col, emb_col)},
{_planes_values_sql()},
dots AS (
  SELECT q.id, pl.p, sum(q.qv[pl.d + 1] * pl.w) AS dot
  FROM q, planes pl GROUP BY q.id, pl.p
),
buckets AS (
  SELECT id, CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY id
),
cand AS (
  SELECT a.id AS query_id, b.id AS neighbor_id, {_COS} AS cos
  FROM q a JOIN buckets ba ON ba.id = a.id
  JOIN buckets bb ON bb.bucket = ba.bucket
  JOIN q b ON b.id = bb.id AND b.id <> a.id
  WHERE a.id < {n_queries}
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
FROM ranked WHERE rank <= {k}
"""


def cosine_dup_lsh_sql(threshold: float, table: str = "embeddings",
                       id_col: str = "vec_id",
                       emb_col: str = "embedding") -> str:
    """Rows ``a, b`` — LSH-bucket-restricted near-dup pairs (mirror of
    similarity.cosine_dup_pairs_lsh)."""
    return f"""
WITH {_emb_ctes(table, id_col, emb_col)},
{_planes_values_sql()},
dots AS (
  SELECT q.id, pl.p, sum(q.qv[pl.d + 1] * pl.w) AS dot
  FROM q, planes pl GROUP BY q.id, pl.p
),
buckets AS (
  SELECT id, CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY id
)
SELECT a.id AS a, b.id AS b
FROM q a JOIN buckets ba ON ba.id = a.id
JOIN buckets bb ON bb.bucket = ba.bucket
JOIN q b ON b.id = bb.id AND a.id < b.id
WHERE {_COS} >= {_lit(threshold)}
"""


def ann_ivf_topk_sql(n_queries: int, k: int, n_cells: int, nprobe: int,
                     table: str = "embeddings", id_col: str = "vec_id",
                     emb_col: str = "embedding") -> str:
    """Rows ``query_id, rank, neighbor_id`` — mirror of
    similarity.ann_ivf_topk: seeds are the ``n_cells`` vectors with the
    smallest ``(h64(id), id)``, every vector joins its argmax-cosine cell
    (ties to the lowest cell), queries probe their ``nprobe`` closest
    cells. The engines pick argmax differently (Spark: array_max over a
    struct expression; here: row_number window) but on bit-identical
    cosines the winners agree."""
    seed_cos = ("CAST(CAST(list_sum(list_transform(list_zip(q.qv, s.qs),"
                " z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)"
                " / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(s.ns AS DOUBLE)))")
    return f"""
WITH {_emb_ctes(table, id_col, emb_col)},
seeds AS (
  SELECT row_number() OVER (ORDER BY h, sid) - 1 AS cell, qv AS qs, n2 AS ns
  FROM (SELECT id AS sid, {duckdb_h64('id')} AS h, qv, n2 FROM q
        ORDER BY h, sid LIMIT {n_cells}) t
),
scored AS (
  SELECT q.id, s.cell, {seed_cos} AS cos FROM q, seeds s
),
assign AS (
  SELECT id, cell FROM (
    SELECT id, cell, row_number() OVER (PARTITION BY id
                                        ORDER BY cos DESC, cell ASC) AS rn
    FROM scored) t WHERE rn = 1
),
probes AS (
  SELECT id AS query_id, cell FROM (
    SELECT id, cell, row_number() OVER (PARTITION BY id
                                        ORDER BY cos DESC, cell ASC) AS rn
    FROM scored WHERE id < {n_queries}) t WHERE rn <= {nprobe}
),
cand AS (
  SELECT a.id AS query_id, b.id AS neighbor_id, {_COS} AS cos
  FROM probes p
  JOIN q a ON a.id = p.query_id
  JOIN assign nb ON nb.cell = p.cell
  JOIN q b ON b.id = nb.id AND b.id <> a.id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id
FROM ranked WHERE rank <= {k}
"""


def simhash_dup_sql(docs_sql: str, max_hamming: int = 3) -> str:
    """Rows ``a, b, hamming`` — mirror of textops.simhash_dup_pairs over a
    (id, t) docs subquery."""
    bands = " UNION ALL ".join(
        f"SELECT id, simhash, {b} AS band,"
        f" ((simhash // {1 << (8 * b)}) % 256) AS bsig FROM sh"
        for b in range(4))
    return f"""
WITH docs AS (SELECT id, t FROM {docs_sql} dsrc),
toks AS (SELECT id, unnest(string_split(t, ' ')) AS tok FROM docs),
h AS (SELECT id, {duckdb_h64('tok')} AS h FROM toks),
bits AS (
  SELECT id, r.i AS i,
         ((h // (CAST(1 AS BIGINT) << CAST(r.i AS INTEGER))) % 2) * 2 - 1 AS contrib
  FROM h, range({SIMHASH_BITS}) r(i)
),
s AS (SELECT id, i, sum(contrib) AS s FROM bits GROUP BY id, i),
sh AS (
  SELECT id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
  FROM s GROUP BY id
),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT l.id AS a, r.id AS b, l.simhash AS sha, r.simhash AS shb
  FROM bands l JOIN bands r ON l.band = r.band AND l.bsig = r.bsig
  WHERE l.id < r.id
)
SELECT a, b, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sha, shb)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# multimodal: recompute decoded-feature statistics from the arithmetic
# payload definition (operators/multimodal.py synthesize_media_arith) —
# the oracle never touches binary payloads; it re-derives every decoded
# element as the same integer function of (seed, media_id, position).
# ---------------------------------------------------------------------------

def multimodal_feats_sql(n_rows: int, seed: int) -> str:
    """Relation ``(media_id, kind, n_bytes, f0, f7)`` — f0/f7 are the first
    and last of the 8 equal-chunk means extract_features produces."""
    mul = 2654435761
    return f"""
ids AS (SELECT unnest(range(0, {n_rows})) AS i),
par AS (
  SELECT i,
    CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
    {seed} * 1000003 + i AS s,
    CASE i % 3
      WHEN 0 THEN 8 * (2 + i % 4) * (3 + i % 5)
      WHEN 1 THEN 1000 + 8 * (i % 50)
      ELSE 64 * (4 + i % 8) END AS cnt,
    CASE i % 3
      WHEN 0 THEN 12 + 8 * (2 + i % 4) * (3 + i % 5)
      WHEN 1 THEN 14 + 2 * (1000 + 8 * (i % 50))
      ELSE 14 + 64 * (4 + i % 8) END AS n_bytes
  FROM ids),
expanded AS (
  SELECT i, kind, n_bytes, cnt, s, unnest(range(0, cnt)) AS j FROM par),
mvals AS (
  SELECT i, kind, n_bytes, cnt, j // (cnt // 8) AS chunk,
    CASE WHEN kind = 'audio' THEN ((s + (j + 1) * {mul}) % 4001) - 2000
         ELSE (s + (j + 1) * {mul}) % 256 END AS val
  FROM expanded),
chunk_means AS (
  SELECT i, kind, n_bytes, chunk, CAST(sum(val) AS DOUBLE) / (cnt // 8) AS cm
  FROM mvals GROUP BY i, kind, n_bytes, chunk, cnt),
feats AS (
  SELECT i AS media_id, kind, n_bytes,
         sum(CASE WHEN chunk = 0 THEN cm END) AS f0,
         sum(CASE WHEN chunk = 7 THEN cm END) AS f7
  FROM chunk_means GROUP BY i, kind, n_bytes)"""


def multimodal_stats_sql(n_rows: int, seed: int, alpha: float,
                         qs: Sequence[float]) -> str:
    """Rows ``kind, q, est, n_media, f0_micro, f7_micro`` — DDSketch
    percentiles of payload size per modality plus floor-scaled integer
    sums of decoded feature chunks (floor * 1e6 -> exact BIGINT, immune to
    cross-row float summation order)."""
    pct = percentile_sql("feats", "n_bytes", alpha, qs, keys=["kind"])
    return f"""
WITH {multimodal_feats_sql(n_rows, seed)},
agg AS (
  SELECT kind, CAST(count(*) AS BIGINT) AS n_media,
         CAST(sum(CAST(floor(f0 * 1000000.0) AS BIGINT)) AS BIGINT) AS f0_micro,
         CAST(sum(CAST(floor(f7 * 1000000.0) AS BIGINT)) AS BIGINT) AS f7_micro
  FROM feats GROUP BY kind)
SELECT p.kind, p.q, p.est, a.n_media, a.f0_micro, a.f7_micro
FROM ({pct}) p JOIN agg a USING (kind)
"""


def dedup_clusters_sql(docs_sql: str) -> str:
    """Rows ``id, comp`` — connected components (min reachable id) of the
    MinHash-LSH candidate-pair graph, via a recursive CTE: the
    engine-independent fixpoint the Spark label-propagation loop must hit."""
    return f"""
WITH RECURSIVE {_minhash_ctes(docs_sql)},
cpairs AS (
  SELECT l.id AS a, r.id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.bsig = r.bsig
  WHERE l.id < r.id
  GROUP BY l.id, r.id
),
cedges AS (SELECT a, b FROM cpairs UNION SELECT b, a FROM cpairs),
cnodes AS (SELECT DISTINCT a AS id FROM cedges),
reach AS (
  SELECT id, id AS r FROM cnodes
  UNION
  SELECT e.b AS id, reach.r AS r FROM reach JOIN cedges e ON e.a = reach.id
)
SELECT id, CAST(min(r) AS BIGINT) AS comp FROM reach GROUP BY id
"""


def pipeline_prepared_sql(quality_min: float, sample_rate: float) -> str:
    """Rows ``doc_id, tokens, quality, fp`` — the full training-data-prep
    pipeline mirrored in one SQL statement: exact dedup (min-id survivor
    per text) -> MinHash-LSH near-dup clustering (keep each cluster's
    canonical min id) -> language filter (lang_pred = 'en') -> quality
    threshold -> deterministic hash sample."""
    t = "t"
    padded = f"(' ' || {t} || ' ')"
    toks = (f"(CASE WHEN length({t}) = 0 THEN 0 ELSE length({t})"
            f" - length(replace({t}, ' ', '')) + 1 END)")
    scores = {
        lang: " + ".join(_occ_sql(padded, w) for w in LANGID_STOPWORDS[lang])
        for lang in LANGID_LANGS
    }
    score_cols = ", ".join(f"({scores[l]}) AS sc_{l}" for l in LANGID_LANGS)
    mx = "greatest(" + ", ".join(f"sc_{l}" for l in LANGID_LANGS) + ")"
    lang_case = "CASE " + " ".join(
        f"WHEN sc_{l} = {mx} THEN '{l}'" for l in LANGID_LANGS) + " END"
    w1, w2, w3, w4 = QUALITY_WEIGHTS
    stop = " + ".join(_occ_sql(padded, w) for w in QUALITY_STOPWORDS)
    alpha = f"CAST(length(regexp_replace({t}, '[^a-z]', '', 'g')) AS DOUBLE)"
    digit = f"CAST(length(regexp_replace({t}, '[^0-9]', '', 'g')) AS DOUBLE)"
    space = f"CAST(length({t}) - length(replace({t}, ' ', '')) AS DOUBLE)"
    ln = f"CAST(length({t}) AS DOUBLE)"
    quality = (f"CASE WHEN length({t}) > 0 THEN floor(("
               f"{_lit(w1)} * ({alpha} / {ln})"
               f" + {_lit(w2)} * (CAST({stop} AS DOUBLE) / CAST({toks} AS DOUBLE))"
               f" + {_lit(w3)} * (1.0 - {digit} / {ln})"
               f" + {_lit(w4)} * ({space} / {ln}))"
               f" * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END")
    threshold = int(sample_rate * (1 << 60))
    return f"""
WITH RECURSIVE
sdocs AS (SELECT min(doc_id) AS id, text AS t FROM documents GROUP BY text),
{_minhash_ctes("(SELECT id, t FROM sdocs)")},
cpairs AS (
  SELECT l.id AS a, r.id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.bsig = r.bsig
  WHERE l.id < r.id
  GROUP BY l.id, r.id
),
cedges AS (SELECT a, b FROM cpairs UNION SELECT b, a FROM cpairs),
cnodes AS (SELECT DISTINCT a AS id FROM cedges),
reach AS (
  SELECT id, id AS r FROM cnodes
  UNION
  SELECT e.b AS id, reach.r AS r FROM reach JOIN cedges e ON e.a = reach.id
),
comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
canon AS (
  SELECT s.id, s.t FROM sdocs s LEFT JOIN comp c ON c.id = s.id
  WHERE c.comp IS NULL OR c.comp = s.id
),
scored AS (
  SELECT id AS doc_id, t,
         CAST({toks} AS BIGINT) AS tokens,
         {quality} AS quality,
         {duckdb_h64(t)} AS fp,
         {score_cols}
  FROM canon
)
SELECT doc_id, tokens, quality, fp
FROM scored
WHERE ({lang_case}) = 'en' AND quality >= {_lit(quality_min)}
  AND fp < {threshold}
"""


def multimodal_resize_frames_sql(n_rows: int, seed: int,
                                 out_w: int, out_h: int,
                                 every: int) -> str:
    """Rows ``grp, n_rows, f0_micro`` for grp in ('image_resized',
    'video_frames'): re-derives nearest-neighbor resize of the arithmetic
    images and frame sampling of the arithmetic videos entirely in SQL,
    then mirrors extract_features' first chunk mean per output row."""
    mul = 2654435761
    return f"""
WITH ids AS (SELECT unnest(range(0, {n_rows})) AS i),
imgs AS (
  SELECT i, {seed} * 1000003 + i AS s,
         8 * (2 + i % 4) AS w, 3 + i % 5 AS h
  FROM ids WHERE i % 3 = 0),
-- nearest-neighbor resize to {out_w}x{out_h}: output pixel (r, c) reads
-- source pixel (r*h//{out_h}, c*w//{out_w}); f0 = mean of the first
-- {out_w}*{out_h}/8 output pixels in row-major order
img_px AS (
  SELECT i, s, w, h, unnest(range(0, {out_w} * {out_h} // 8)) AS p
  FROM imgs),
img_vals AS (
  SELECT i,
    (s + (((p // {out_w}) * h // {out_h}) * w
          + ((p % {out_w}) * w // {out_w}) + 1) * {mul}) % 256 AS val
  FROM img_px),
img_f0 AS (
  SELECT i, CAST(sum(val) AS DOUBLE) / ({out_w} * {out_h} // 8) AS f0
  FROM img_vals GROUP BY i),
vids AS (
  SELECT i, {seed} * 1000003 + i AS s, 4 + i % 8 AS nf
  FROM ids WHERE i % 3 = 2),
-- frames 0, {every}, ... of the 8x8 videos; frame f's pixel j is source
-- element f*64 + j; each frame becomes a FAKEIMG row whose f0 = mean of
-- its first 8 pixels
frames AS (
  SELECT i, s, unnest(range(0, nf, {every})) AS f FROM vids),
frame_px AS (
  SELECT i, s, f, unnest(range(0, 8)) AS j FROM frames),
frame_f0 AS (
  SELECT i, f, CAST(sum((s + (f * 64 + j + 1) * {mul}) % 256) AS DOUBLE)
               / 8 AS f0
  FROM frame_px GROUP BY i, f, s)
SELECT 'image_resized' AS grp, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(f0 * 1000000.0) AS BIGINT)) AS BIGINT) AS f0_micro
FROM img_f0
UNION ALL
SELECT 'video_frames' AS grp, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(f0 * 1000000.0) AS BIGINT)) AS BIGINT) AS f0_micro
FROM frame_f0
"""


def ngram_containment_sql(probe_pred: str, threshold: float,
                          table: str = "documents", id_col: str = "doc_id",
                          text_col: str = "text", unit: str = "char",
                          k: int | None = None) -> str:
    """Rows ``doc_id, pid, containment`` — mirror of
    textops.ngram_containment: fraction of the probe's DISTINCT
    k-shingles present in each document, thresholded. Probes are the
    table rows matching ``probe_pred``. ``unit='token'`` mirrors the
    space-token k-gram variant."""
    if k is None:
        k = SHINGLE_K
    if unit == "char":
        sh_expr = f"substr(t, CAST(i AS INTEGER), {k})"
        n_expr = f"length({text_col})"
        t_expr = text_col
    else:
        sh_expr = (f"array_to_string(list_slice(t, CAST(i AS INTEGER),"
                   f" CAST(i AS INTEGER) + {k} - 1), ' ')")
        n_expr = f"len(string_split({text_col}, ' '))"
        t_expr = f"string_split({text_col}, ' ')"
    return f"""
WITH dpos AS (
  SELECT {id_col} AS id, {t_expr} AS t,
         unnest(range(1, greatest({n_expr} - {k} + 1, 1) + 1)) AS i
  FROM {table}
),
dsh AS (
  SELECT DISTINCT id, {sh_expr} AS sh FROM dpos
),
psh AS (
  SELECT DISTINCT id AS pid, sh FROM dsh
  WHERE id IN (SELECT {id_col} FROM {table} WHERE {probe_pred})
),
psz AS (SELECT pid, count(*) AS sz FROM psh GROUP BY pid),
m AS (
  SELECT d.id, p.pid, count(*) AS mm
  FROM dsh d JOIN psh p USING (sh) GROUP BY d.id, p.pid
)
SELECT doc_id, pid, containment FROM (
  SELECT m.id AS doc_id, m.pid,
         floor(CAST(mm AS DOUBLE) / sz * 1000000.0 + 0.5) / 1000000.0
           AS containment
  FROM m JOIN psz USING (pid)
) WHERE containment >= {threshold}
"""
