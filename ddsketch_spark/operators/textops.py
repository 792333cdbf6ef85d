"""Text-analysis + deduplication operators over document tables — the
training-data-pipeline layer (exact dedup, MinHash+LSH, SimHash, n-gram
Jaccard, language-ID, quality scoring, token counts, fingerprints).

Everything here is built from JVM-side ``pyspark.sql.functions`` — with
ONE exception, the rolling fingerprint :func:`rfp` (a row function run
per Arrow batch by ``rows.vectorize``: the SQL fold is a higher-order
function Catalyst interprets per character; one numpy dot per document
computes the identical integers, see :func:`rolling_fingerprint_col`) —
so the hot path stays in whole-stage codegen and every aggregation gets
native map-side partial aggregation. All outputs are deterministic integers/strings (or
doubles produced by a fixed float expression), mirrored exactly by the
DuckDB oracle generators in :mod:`ddsketch_spark.oracles` via the
shared constants in :mod:`ddsketch_spark.textconf` (the fingerprint
diverges from its SQL mirror ONLY where the mirror overflows BIGINT —
documented on :func:`rfp`).

Scale notes (100 TB):
- shingle/token explodes multiply rows but feed straight into partial-agg
  ``groupBy(min/sum)`` — shuffle volume is O(docs x H), not O(shingles);
- LSH candidate generation is an equi-join on (band, signature) — a plain
  shuffle-hash/sort-merge join Spark can also skew-split with AQE;
- exact Jaccard runs only on LSH candidates, never all pairs.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import LongType

from ddsketch_spark.core.hashing import spark_h64
from ddsketch_spark.functions.rows import vectorize
from ddsketch_spark.textconf import (
    LANGID_LANGS, LANGID_STOPWORDS, LSH_BANDS, LSH_ROWS, MINHASH_AB,
    MINHASH_H, QUALITY_STOPWORDS, QUALITY_WEIGHTS, SHINGLE_K, SIMHASH_BITS,
    _P31, _P61,
)


# ------------------------------------------------------------------ shingles

def shingle_rows(df: DataFrame, id_col: str, text_col: str,
                 k: int = SHINGLE_K) -> DataFrame:
    """``id, sh`` — one row per character k-shingle. Explodes the position
    sequence FIRST and substrings per row: ~6-10x faster than materializing
    the array of shingle strings (measured; codegen keeps the text column
    by reference across the explode)."""
    return (df.select(
        F.col(id_col).alias("id"),
        F.explode(F.expr(
            f"sequence(1, greatest(length({text_col}) - {k} + 1, 1))"))
        .alias("__i"),
        F.col(text_col).alias("__t"))
        .select("id", F.expr(f"substring(__t, __i, {k})").alias("sh")))


# ------------------------------------------------------------------ exact dedup

def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """``keep_id, n_copies`` — one row per distinct text; keep_id is the
    smallest id (deterministic survivor pick). Plain hash aggregate."""
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias("keep_id"),
             F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


# ------------------------------------------------------------------ minhash

def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """``id, s0..s{H-1}`` — minhash signature via shingle-hash explode +
    native partial-agg min per hash function."""
    sh = shingle_rows(df, id_col, text_col).select(
        F.col("id").alias(id_col), (spark_h64("sh") % _P31).alias("s"))
    # one SQL string per aggregate: the Column-composed form cost ~100
    # py4j round-trips of plan-construction latency per query
    aggs = [
        F.expr(f"min(({a}L * s + {b}L) % {_P61}L)").alias(f"s{j}")
        for j, (a, b) in enumerate(MINHASH_AB)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``id, band, bsig`` — bsig is the band's raw signature rows as an
    ``array<bigint>``. Earlier revisions hashed the band to an md5 hex
    string; grouping on the raw values instead removes one md5 per
    (doc, band) AND shrinks the shuffle key from a ~44-byte string to
    4 packed longs — the bucket boundary is the dominant shuffle of the
    dedup pipeline at 100 TB, so key width is wire volume. Buckets are
    also exact by construction (no hash-collision false candidates)."""
    band_cols = []
    for b in range(LSH_BANDS):
        parts = ", ".join(f"s{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        band_cols.append(F.expr(f"array({parts})").alias(f"b{b}"))
    stack_args = ", ".join(
        f"{b}, b{b}" for b in range(LSH_BANDS))
    wide = sigs.select(id_col, *band_cols)
    return wide.select(
        id_col,
        F.expr(f"stack({LSH_BANDS}, {stack_args}) as (band, bsig)"),
    )


def bucket_pairs_expr(ids_col: str = "ids") -> Column:
    """All ordered pairs (a < b) from a sorted id array — the per-bucket
    candidate generator. ``slice`` is 1-based; transform's index is
    0-based, so the elements after position i start at ``i + 2``."""
    return F.explode(F.expr(
        f"flatten(transform({ids_col}, (x, i) ->"
        f" transform(slice({ids_col}, i + 2, size({ids_col}) - i - 1),"
        f" y -> struct(x AS a, y AS b))))"))


def _cap_buckets(buckets: DataFrame, max_bucket_size: int | None,
                 metric_name: str) -> DataFrame:
    """Production escape valve for pathological LSH buckets (boilerplate
    pages, parked domains, cookie banners): with ``max_bucket_size`` set,
    buckets larger than the cap are SKIPPED instead of expanding to
    m*(m-1)/2 pairs on one executor. Skips are counted via
    ``DataFrame.observe`` — the metrics ride the same action (zero extra
    jobs) and surface through QueryExecutionListener / the live UI as
    ``{metric_name: {skipped_buckets, skipped_rows}}``. Default off:
    uncapped output is what the exact oracles mirror."""
    if max_bucket_size is None:
        return buckets
    if max_bucket_size < 2:
        raise ValueError("max_bucket_size must be >= 2")
    over = F.size("ids") > max_bucket_size
    observed = buckets.observe(
        metric_name,
        F.sum(F.when(over, 1).otherwise(0)).alias("skipped_buckets"),
        F.sum(F.when(over, F.size("ids")).otherwise(0)).alias("skipped_rows"),
    )
    return observed.where(~over)


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      max_bucket_size: int | None = None,
                      bands: DataFrame | None = None) -> DataFrame:
    """``a, b, bands_shared`` — candidate near-duplicate pairs sharing at
    least one LSH band (a < b).

    Plan shape: ONE pass computes signatures + bands, then a
    ``groupBy(band, bsig) -> collect_list(id)`` builds each LSH bucket and
    pairs are generated inside the bucket with an array expression. The
    obvious alternative — self-joining the bands relation on
    ``(band, bsig)`` — recomputes the whole shingle+signature pipeline for
    BOTH join sides (Spark does not reuse the subplan across the two
    aliases), which measured ~2.5x slower end-to-end. Pair count per
    bucket is m*(m-1)/2 either way; the join materializes the same blow-up
    as join output, so the list form is not asymptotically worse.

    ``bands``: optionally a precomputed ``(id_col, band, bsig)`` relation
    — callers that can derive the band rows more cheaply than a full
    signature pass (e.g. a corpus whose rows are known copies of a
    smaller table, where the band rows are the small table's with ids
    remapped) supply it here and ``df``/``text_col`` are ignored.

    At 100 TB, run exact-dedup first (removes identical texts — the bulk
    of any boilerplate bucket) AND set ``max_bucket_size`` (see
    :func:`_cap_buckets`): a bucket the cap skips is one whose members are
    near-identical boilerplate — pairing them adds no signal, only a
    quadratic array on one executor. SCALE.md discusses choosing the cap."""
    if bands is None:
        bands = lsh_bands(minhash_signatures(df, id_col, text_col), id_col)
    buckets = (bands.groupBy("band", "bsig")
               .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
               .where(F.size("ids") > 1))
    buckets = _cap_buckets(buckets, max_bucket_size, "minhash_lsh_skipped")
    pairs = buckets.select(bucket_pairs_expr("ids").alias("p")).select("p.a", "p.b")
    return pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("bands_shared"))


# ------------------------------------------------------------------ jaccard

def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        sh: DataFrame | None = None) -> DataFrame:
    """Exact shingle-set Jaccard for candidate ``(a, b)`` pairs:
    ``a, b, jacc`` (rounded to 6 dp). Distinct-shingle join — candidates
    only, never the full cross product. (Measured: checkpointing the
    distinct-shingle relation to share it across its three subtrees is a
    net LOSS here — materialization + broken pipelining costs more than
    the recompute.)

    ``sh``: optionally a precomputed DISTINCT ``(id, sh)`` relation —
    callers that can derive it more cheaply than the full explode+distinct
    (e.g. a corpus of known copies of a smaller table, where the distinct
    shingles are the small table's with ids remapped) supply it here and
    ``df``/``text_col`` are ignored."""
    if sh is None:
        sh = shingle_rows(df, id_col, text_col).distinct()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        pairs.join(sh.withColumnRenamed("id", "a"), on="a")
        .join(sh.withColumnRenamed("id", "b").withColumnRenamed("sh", "sh_b"),
              on="b")
        .where(F.col("sh") == F.col("sh_b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        pairs.select("a", "b")
        .join(inter, on=["a", "b"], how="left")
        .na.fill({"inter": 0})
        .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), on="a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), on="b")
        .select(
            "a", "b",
            round6(F.col("inter").cast("double")
                   / (F.col("sza") + F.col("szb") - F.col("inter")))
            .alias("jacc"))
    )


# ------------------------------------------------------------------ simhash

def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """``id, simhash`` — 32-bit SimHash over whitespace tokens (bit i set
    iff the signed sum of token-hash bit i is positive).

    One ``groupBy(id)`` with 32 conditional sums — one aggregate input row
    per TOKEN, not per (token, bit): the earlier shape exploded every token
    row into 32 bit rows before aggregating, a 32x row and CPU blow-up the
    partial aggregation couldn't hide. Integer div keeps full precision
    (h has 60 bits — no doubles)."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).select(id_col, spark_h64("tok").alias("h"))
    bit_sums = toks.groupBy(id_col).agg(*[
        F.sum(F.expr(f"((h div {1 << i}L) % 2) * 2 - 1")).alias(f"c{i}")
        for i in range(SIMHASH_BITS)
    ])
    sim = sum_cols([
        F.when(F.col(f"c{i}") > 0, F.lit(1 << i).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        for i in range(SIMHASH_BITS)
    ])
    return bit_sums.select(id_col, sim.alias("simhash"))


# ------------------------------------------------------------------ text metrics

def round6(col: Column) -> Column:
    """Deterministic 6-dp rounding: ``floor(x*1e6 + 0.5) / 1e6``. Spark's
    round() is decimal HALF_UP while DuckDB's rounds dyadic ties to even
    (observed on jacc = 0.0640625: 0.064063 vs 0.064062), so comparable
    outputs must round in the integer domain where both engines agree.
    Valid for non-negative inputs (all users here are ratios/scores)."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def token_count_col(text_col: str) -> Column:
    """Tokens in single-space-separated text: spaces + 1 (0 for empty)."""
    t = F.col(text_col)
    return (F.when(F.length(t) == 0, F.lit(0))
            .otherwise(F.length(t)
                       - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1)
            .cast("long"))


def _occurrences_sql(padded: str, word: str) -> str:
    """SQL text for the space-padded occurrence count. These builders emit
    ONE SQL string per output column instead of composing hundreds of
    Column objects: every Column op is a py4j round-trip (~0.5-1 ms of
    driver time), and langid+quality together were ~400 of them — a
    constant ~0.3 s of plan-construction latency per query, JVM-identical
    expression either way."""
    pat = f" {word} "
    return (f"CAST((length({padded}) - length(replace({padded},"
            f" '{pat}', ''))) / {len(pat)} AS BIGINT)")


def langid_col(text_col: str) -> Column:
    """Heuristic language-ID: argmax of per-language stopword occurrence
    counts; ties go to the lexicographically smallest language."""
    padded = f"concat(' ', {text_col}, ' ')"
    scores = [
        "(" + " + ".join(_occurrences_sql(padded, w)
                         for w in LANGID_STOPWORDS[lang]) + ")"
        for lang in LANGID_LANGS
    ]
    # array_position(scores, array_max(scores)) = FIRST index holding the
    # max, i.e. the lexicographically smallest language in sorted order —
    # identical semantics to the earlier first-match CASE over
    # greatest(...), but each score expression appears ONCE instead of
    # once in greatest + once per WHEN (the repeated replace() scans were
    # not reliably subexpression-eliminated inside CASE branches; measured
    # 0.20 -> 0.15 s on the langid column at sf0.1, equal output)
    arr = "array(" + ", ".join(scores) + ")"
    langs = "array(" + ", ".join(f"'{l}'" for l in LANGID_LANGS) + ")"
    return F.expr(f"element_at({langs},"
                  f" CAST(array_position({arr}, array_max({arr})) AS INT))")


def sum_cols(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


def quality_score_col(text_col: str) -> Column:
    """Composite quality heuristic in [0, ~1]:
    ``w1*alpha_ratio + w2*stopword_ratio + w3*(1 - digit_ratio) +
    w4*space_ratio`` rounded to 6 dp (fixed left-assoc float expression,
    mirrored exactly in SQL). Emitted as one SQL string — see
    :func:`_occurrences_sql` for why."""
    t = text_col
    ln = f"CAST(length({t}) AS DOUBLE)"
    # count-of-class via translate (delete the class, diff the lengths):
    # identical count to length(regexp_replace(t, '[^class]', '')) for
    # every string, but a single char-map pass instead of a regex engine
    # + result-string allocation per row — measured 2x on the quality
    # column (0.92 -> 0.47 s for both counts over 50k docs, local[32])
    alpha = (f"CAST(length({t}) - length(translate({t},"
             f" 'abcdefghijklmnopqrstuvwxyz', '')) AS DOUBLE)")
    digit = (f"CAST(length({t}) - length(translate({t},"
             f" '0123456789', '')) AS DOUBLE)")
    space = (f"CAST(length({t}) - length(replace({t}, ' ', ''))"
             f" AS DOUBLE)")
    padded = f"concat(' ', {t}, ' ')"
    stop = ("CAST(" + " + ".join(_occurrences_sql(padded, w)
                                 for w in QUALITY_STOPWORDS)
            + " AS DOUBLE)")
    toks = (f"CAST(CASE WHEN length({t}) = 0 THEN 0 ELSE length({t})"
            f" - length(replace({t}, ' ', '')) + 1 END AS DOUBLE)")
    w1, w2, w3, w4 = QUALITY_WEIGHTS
    # the D suffix forces DOUBLE literals — bare 0.4 parses as DECIMAL in
    # Spark SQL, which would run the whole expression in decimal math
    score = (f"{w1}D * ({alpha} / {ln}) + {w2}D * ({stop} / {toks})"
             f" + {w3}D * (1.0D - {digit} / {ln}) + {w4}D * ({space} / {ln})")
    rounded = f"floor(({score}) * 1000000.0D + 0.5D) / 1000000.0D"
    return F.expr(
        f"CASE WHEN {ln} > 0 THEN {rounded} ELSE 0.0D END")


def fingerprint_col(text_col: str) -> Column:
    """60-bit md5 content fingerprint of the raw text (shared h64)."""
    return spark_h64(text_col)


BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def bpe_token_count_col(text_col: str) -> Column:
    """BPE-ish tokenization count: lowercase word runs, digit runs, and
    single non-alnum marks (a GPT-2-flavored pre-tokenizer simplified to a
    regex both Java and RE2 interpret identically). ``regexp_count``
    returns the same non-overlapping match count as
    ``size(regexp_extract_all(...))`` without materializing an array of
    match strings per document (measured equal output on the corpus +
    edge inputs, ~20% faster at sf0.1)."""
    return F.regexp_count(
        F.col(text_col), F.lit(BPE_ISH_PATTERN)).cast("long")


_RFP_W = np.ones(0, dtype=np.int64)


def _rfp_weights(n: int) -> np.ndarray:
    """The first ``n`` position weights ``(i*2654435761 mod 2^31) | 1``.
    One cached vector, sliced per row and grown by doubling, so it never
    holds more than twice the longest document's codepoints."""
    global _RFP_W
    if len(_RFP_W) < n:
        idx = np.arange(1, max(n, 2 * len(_RFP_W)) + 1, dtype=np.int64)
        w = ((idx * 2654435761) % (1 << 31)) | 1
        w.flags.writeable = False     # shared: callers get read-only views
        _RFP_W = w
    return _RFP_W[:n]


def rfp(s: str) -> int:
    """Rolling fingerprint of one document: codepoints via utf-32 decode
    into int64, one dot product against the position weights. Exact
    integer math: each term is < 2^52 (codepoint < 2^21, weight < 2^31),
    and when ``len * max_codepoint`` bounds the whole dot under 2^63 it
    is ONE int64 dot; longer/higher-codepoint documents (~4k+
    astral-plane chars — where the int64 dot would wrap SILENTLY)
    accumulate exact Python ints over 2048-element chunks (each chunk dot
    < 2^63, so never wraps). Identical to the SQL-mirrorable definition
    below for every input the SQL form can evaluate; on inputs where the
    SQL fold's un-modded accumulator would overflow BIGINT (ANSI error on
    both engines), this returns the exact mathematical value instead —
    strictly more tolerant, pinned by
    tests/test_textops.py::test_rfp_numpy_exact_on_overflow_risk."""
    if not s:
        return 0
    cpi = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    n = len(cpi)
    w = _rfp_weights(n)
    # short-circuit on the theoretical max codepoint (0x10FFFF)
    # so documents under ~3.9k chars skip the max() pass entirely
    if n * 0x110000 < (1 << 32) or n * int(cpi.max()) < (1 << 32):
        acc = int(cpi @ w)
    else:
        acc = sum(int(cpi[i:i + 2048] @ w[i:i + 2048])
                  for i in range(0, n, 2048))
    return acc % _P61


def rfp_col(text_col: str) -> Column:
    """Column form of the rolling fingerprint (:func:`rfp` per row, one
    Python call per Arrow batch) — composes into a single projection with
    the other profile columns, so no join is needed to attach it."""
    return vectorize(rfp, LongType())(F.col(text_col))


def rolling_fingerprint_col(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """``id, rfp`` — position-sensitive document fingerprint:
    ``sum_i ascii(c_i) * w_i mod (2^61 - 1)`` with
    ``w_i = (i*2654435761 mod 2^31) | 1`` (Knuth multiplicative position
    weights). Order-sensitive like a rolling hash, exact integer math, and
    SQL-mirrorable per character.

    Computed per Arrow batch by :func:`rfp_col`: the earlier
    ``aggregate(sequence(1, length))`` fold is a HIGHER-ORDER function —
    Catalyst interprets the lambda per character, so 50k docs paid ~15M
    boxed lambda evaluations (1.2-2.0 s at local[32]); the numpy dot per
    row runs the same exact integer math in 0.6 s including the Arrow
    hop (guide §4.2: batch native beats interpreted per-element JVM).
    The pure-SQL definition is what the DuckDB oracle replays; equality
    is pinned per-row in tests/test_textops.py."""
    return df.select(F.col(id_col), rfp_col(text_col).alias("rfp"))


def rolling_fingerprint_sql_col(text_col: str) -> Column:
    """The reference JVM-expression form of the rolling fingerprint (the
    SQL definition both engines mirror); kept for the parity test."""
    return F.expr(
        f"aggregate(sequence(1, greatest(length({text_col}), 1)), 0L,"
        f" (acc, i) -> acc + ascii(substring({text_col}, i, 1))"
        f" * ((CAST((i * 2654435761) % {1 << 31} AS BIGINT)) | 1L))"
        f" % {(1 << 61) - 1}"
    )


def simhash_dup_pairs(df: DataFrame, max_hamming: int = 3,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      max_bucket_size: int | None = None) -> DataFrame:
    """``a, b, hamming`` — near-dup pairs whose 32-bit SimHashes differ in
    at most ``max_hamming`` bits. Candidates come from exact-match joins on
    the four 8-bit bands (any pair within hamming 3 must agree on >= 1
    band — pigeonhole), so the join is an equi-join, never all-pairs."""
    if max_hamming > 3:
        # four 8-bit bands guarantee completeness only up to hamming 3
        # (pigeonhole: 4 bands, <= 3 differing bits -> >= 1 band agrees);
        # beyond that qualifying pairs would be silently lost.
        raise ValueError(
            "simhash_dup_pairs: four 8-bit bands are complete only for "
            f"max_hamming <= 3 (got {max_hamming})")
    sh = simhash(df, id_col, text_col)
    band_cols = [((F.col("simhash") / (1 << (8 * b))).cast("long") % 256)
                 .alias(f"bs{b}") for b in range(4)]
    wide = sh.select(id_col, "simhash", *band_cols)
    stack_args = ", ".join(f"{b}, bs{b}" for b in range(4))
    bands = wide.select(
        id_col, "simhash",
        F.expr(f"stack(4, {stack_args}) as (band, bsig)"))
    # single pipeline pass: bucket by (band, bsig), pair inside the bucket
    # (see minhash_lsh_pairs — the bands self-join recomputes simhash for
    # both sides), then distinct across bands.
    buckets = (bands.groupBy("band", "bsig")
               .agg(F.sort_array(
                    F.collect_list(F.struct(F.col(id_col).alias("id"),
                                            F.col("simhash").alias("sh"))))
                    .alias("ids"))
               .where(F.size("ids") > 1))
    buckets = _cap_buckets(buckets, max_bucket_size, "simhash_skipped")
    cand = (buckets.select(bucket_pairs_expr("ids").alias("p"))
            .select(F.col("p.a.id").alias("a"), F.col("p.b.id").alias("b"),
                    F.col("p.a.sh").alias("sh_a"), F.col("p.b.sh").alias("sh_b"))
            .distinct())
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long")
    return (cand.withColumn("hamming", ham)
            .where(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming"))


def hash_sample(df: DataFrame, key_col: str, rate: float) -> DataFrame:
    """Deterministic uniform sample: keep rows whose shared 60-bit hash of
    ``key_col`` falls below ``rate`` of the hash space. Unlike
    ``df.sample``, the decision is a pure function of the row key — stable
    across runs, partitionings, and cluster sizes, and the SAME rows are
    kept when the pipeline re-executes (critical for reproducible
    training-data subsampling)."""
    if not (0.0 <= rate <= 1.0):
        raise ValueError("rate must be in [0, 1]")
    threshold = int(rate * (1 << 60))
    return df.where(spark_h64(key_col) < threshold)


def stratified_hash_sample(df: DataFrame, key_cols: Sequence[str],
                           id_col: str, n_per_key: int) -> DataFrame:
    """Deterministic FIXED-SIZE sample per stratum: keep the ``n_per_key``
    rows of each ``key_cols`` group with the smallest ``(h64(id), id)``.
    The hash order is a pure row function, so the sample is stable across
    runs, partitionings, and cluster sizes (the fixed-quota sibling of
    :func:`hash_sample`'s Bernoulli rate — use this when downstream
    budgets are per-stratum row COUNTS, e.g. 'at most N documents per
    language/source pair').

    Scale: one shuffle by the stratum key for the window; rank truncation
    happens inside the sort, so only ~n_per_key rows per stratum survive
    the stage. For heavily skewed strata, pre-filter with ``hash_sample``
    at a generous rate first so the per-stratum sort input is bounded."""
    from pyspark.sql.window import Window

    if n_per_key < 1:
        raise ValueError("n_per_key must be >= 1")
    rk = "__rk"
    while rk in df.columns:          # never clobber a caller column
        rk = "_" + rk
    w = Window.partitionBy(*key_cols).orderBy(
        spark_h64(id_col).asc(), F.col(id_col).asc())
    return (df.withColumn(rk, F.row_number().over(w))
            .where(F.col(rk) <= n_per_key)
            .drop(rk))


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """``id, comp`` — connected components of an undirected candidate-pair
    graph (columns ``a, b``); ``comp`` is the minimum node id reachable,
    giving each near-duplicate cluster a deterministic canonical survivor.

    Min-label propagation WITH pointer doubling: each round every node
    takes the min of its own label, its neighbors' labels, and its
    label's label (path halving). The neighbor step alone needs
    O(diameter) rounds; the doubling step collapses chains exponentially,
    giving O(log n) rounds even on adversarial path graphs (same idea as
    the large-star/small-star algorithm). Dedup graphs are piles of small
    dense clusters, so convergence is typically 2-4 rounds; each round is
    two joins + a partial-agg min, and ``localCheckpoint`` truncates the
    growing plan between rounds.
    """
    sym = (edges.select("a", "b")
           .unionAll(edges.select(F.col("b").alias("a"), F.col("a").alias("b"))))
    # materialize the edge list ONCE: every round joins it, and without
    # this each round re-executes the whole upstream candidate pipeline
    # (measured 9x slower at sf0.1). Edges are two longs per candidate
    # pair — tiny relative to the corpus they came from.
    sym = sym.localCheckpoint(eager=True)
    labels = (sym.select(F.col("a").alias("id")).distinct()
              .withColumn("comp", F.col("id")))
    if not labels.take(1):
        # empty candidate graph (a clean corpus): nothing to propagate,
        # and the label-sum convergence check below can never fire
        # (sum over zero rows is NULL every round) — return the empty
        # labels frame instead of spinning max_iter rounds and raising
        return labels
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        nbr = (sym.join(labels.select(F.col("id").alias("b"),
                                      F.col("comp").alias("nc")), on="b")
               .groupBy("a").agg(F.min("nc").alias("nmin")))
        stepped = (labels.join(nbr.select(F.col("a").alias("id"), "nmin"),
                               on="id", how="left")
                   .select("id", F.least(
                       F.col("comp"),
                       F.coalesce(F.col("nmin"), F.col("comp"))).alias("comp")))
        # pointer doubling: comp <- min(comp, comp[comp]); labels are
        # always node ids, so the self-join resolves (path halving)
        new = (stepped.alias("x")
               .join(stepped.select(F.col("id").alias("cid"),
                                    F.col("comp").alias("ccomp")).alias("y"),
                     F.col("x.comp") == F.col("y.cid"), "left")
               .select(F.col("x.id").alias("id"),
                       F.least(F.col("x.comp"),
                               F.coalesce(F.col("y.ccomp"), F.col("x.comp")))
                       .alias("comp"))
               .localCheckpoint(eager=True))
        # labels are per-node monotone non-increasing, so the label SUM
        # strictly decreases iff anything changed — one scalar agg per
        # round instead of a join + count. DECIMAL(38,0): ids may span the
        # full int64 range (e.g. xxhash64 keys), so a BIGINT sum overflows
        # (ANSI ArithmeticException at ~400k hash-valued nodes); the
        # decimal sum is exact up to 10^38.
        new_sum = new.agg(
            F.sum(F.col("comp").cast("decimal(38,0)"))).collect()[0][0]
        converged = prev_sum is not None and new_sum == prev_sum
        prev_sum = new_sum
        labels = new
        if converged:
            break
    if not converged:
        # returning partial labels would silently keep wrong near-dup
        # survivors downstream (dedup_clusters, pipeline_prepared_docs)
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds; raise max_iter (pointer doubling needs "
            f"O(log n) rounds, so this indicates a pathological graph)")
    return labels


# ------------------------------------------------------- decontamination

def token_shingle_rows(df: DataFrame, id_col: str, text_col: str,
                       k: int) -> DataFrame:
    """``id, sh`` — one row per TOKEN k-gram (space-joined); whole text
    if shorter than k tokens. Same explode-positions-first shape as the
    character variant: the token array is built once per row and sliced
    per position in codegen."""
    return (df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), " ").alias("__tk"))
        .select("id", F.explode(F.expr(
            f"sequence(1, greatest(size(__tk) - {k} + 1, 1))"))
            .alias("__i"), "__tk")
        .select("id", F.expr(f"concat_ws(' ', slice(__tk, __i, {k}))")
                .alias("sh")))


def ngram_containment(docs: DataFrame, probes: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      probe_id_col: str = "pid",
                      probe_text_col: str = "text",
                      k: int = SHINGLE_K,
                      threshold: float = 0.0,
                      unit: str = "char") -> DataFrame:
    """Benchmark decontamination primitive: ``doc_id, pid, containment``
    where containment = |distinct k-shingles of probe present in doc| /
    |distinct k-shingles of probe| — the standard n-gram-overlap test for
    "does this training document contain (part of) this benchmark item".

    100 TB shape: the probe set (a benchmark) is SMALL — its distinct
    shingles and sizes are broadcast, so the corpus never shuffles for
    the join. The doc-side shingle explode feeds the broadcast hash join
    directly (non-matching shingles — almost all of them — die in the
    map stage); only MATCHED (doc, probe, shingle) rows reach the
    count-distinct shuffle, which for real contamination rates is
    vanishingly small next to the scan. (Caveat, r5 ADVICE: a document
    that repeats one probe-matching shingle many times amplifies the
    join OUTPUT rows before aggregation — correctness holds, and the
    count-distinct's map-side partial aggregation dedupes the repeats
    within each task before the shuffle, but highly repetitive text
    such as boilerplate/spam inflates the in-task join output itself.)
    ``threshold`` filters the output to suspect pairs (containment >=
    threshold). ``unit='token'`` uses space-token k-grams (the
    conventional published decontamination setting, e.g. 8-13 token
    overlap) instead of character shingles."""
    if unit not in ("char", "token"):
        raise ValueError("unit must be 'char' or 'token'")
    mk = shingle_rows if unit == "char" else token_shingle_rows
    dsh = mk(docs, id_col, text_col, k)
    psh = (mk(probes, probe_id_col, probe_text_col, k)
           .distinct().withColumnRenamed("id", "pid"))
    psz = psh.groupBy("pid").agg(F.count(F.lit(1)).alias("__sz"))
    inter = (dsh.join(F.broadcast(psh), on="sh")
             .groupBy("id", "pid")
             .agg(F.count_distinct("sh").alias("__m")))
    out = (inter.join(F.broadcast(psz), on="pid")
           .select(F.col("id").alias(id_col), "pid",
                   round6(F.col("__m").cast("double") / F.col("__sz"))
                   .alias("containment")))
    if threshold > 0.0:
        out = out.where(F.col("containment") >= threshold)
    return out
