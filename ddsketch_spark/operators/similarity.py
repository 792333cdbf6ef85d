"""Embedding similarity search — brute-force cosine top-k (exactness
baseline) and random-hyperplane LSH buckets (the scale path), plus
embedding-cosine near-duplicate pairs.

Determinism contract (shared with the DuckDB oracles): embeddings are
float32; both engines quantize each component to an integer
``q = floor(double(x) * EMB_SCALE + 0.5)`` (exact — float32 -> float64 is
lossless and the two float ops are identical IEEE operations), then all dot
products and norms are *exact integer sums*. The only float steps are the
final ``dot / (sqrt(na) * sqrt(nb))`` — three correctly-rounded IEEE ops —
so cosine values are bit-identical across engines and rankings never flip.

Scale notes: brute-force is broadcast(queries) x corpus — linear scan,
embarrassingly parallel, no shuffle of the corpus; LSH buckets give
sublinear candidate sets via an equi-join on the 16-bit bucket id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType
from pyspark.sql.window import Window

from ddsketch_spark.operators.aggregate import map_batches
from ddsketch_spark.plans.local import local_frame
from ddsketch_spark.textconf import ANN_PLANES, EMB_SCALE, ann_plane_weights


def quantize_col(emb_col: str) -> Column:
    """array<long> quantized embedding (see module docstring)."""
    return F.expr(
        f"transform({emb_col}, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" * {EMB_SCALE} + 0.5) AS BIGINT))"
    )


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        f" CAST(0 AS BIGINT), (acc, v) -> acc + v)")


def _norm2(a: str) -> Column:
    return F.expr(
        f"aggregate({a}, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)")


def with_quantized(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    return (df.withColumn("qv", quantize_col(emb_col))
            .withColumn("n2", _norm2("qv")))


def cosine_expr() -> Column:
    """cosine between pre-quantized qa/qb with norms na/nb."""
    return (_dot("qa", "qb").cast("double")
            / (F.sqrt(F.col("na").cast("double"))
               * F.sqrt(F.col("nb").cast("double"))))


def _rank_topk(cand: DataFrame, k: int) -> DataFrame:
    """``query_id, rank, neighbor_id``: each query's first ``k``
    candidates under ``(cos desc, neighbor_id asc)``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "neighbor_id"))


def cosine_topk(df: DataFrame, queries: DataFrame, k: int,
                id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """``query_id, rank, neighbor_id`` — exact brute-force cosine top-k.
    ``queries`` is a (small) subset of rows of ``df``; the corpus is
    scanned once.

    NOTE this function is EAGER in ``queries``: the query vectors are
    collected to the driver at call time (a small Spark job runs before
    the returned frame is acted on) and ride to executors inside the
    scoring stage — sized for the documented small-query-set contract
    (tens-to-thousands of rows; kBs-to-MBs of matrix). Callers needing a
    fully lazy plan or a large query side should use
    :func:`cosine_topk_expr` (the JVM-expression reference shape) or the
    LSH/IVF variants, which bound the candidate set instead.

    Scoring is a vectorized Arrow batch per corpus partition: quantize
    (``floor(float64(x) * SCALE + 0.5)`` — the same two IEEE ops as the
    SQL form), one exact int64 matmul against the collected query matrix,
    one IEEE division per cosine, then a PARTIAL top-k per (partition,
    query) so only ``partitions x queries x k`` candidate rows reach the
    final window — the earlier shape shipped every (corpus x queries)
    pair through an interpreted ``aggregate(zip_with(...))`` dot and a
    full |corpus x queries| window sort (measured 2.0-3.1 s vs ~1 s at
    sf1.0, 20k x 10). Distributed partial top-k is exact: the global
    top-k under a total order is contained in the union of per-partition
    top-ks under the same order — (cos desc, neighbor asc), with
    numpy-computed cosines bit-identical to the JVM expression
    (:func:`cosine_topk_expr`, kept as the parity reference; equality is
    pinned by tests)."""
    qrows = with_quantized(queries, emb_col).select(
        F.col(id_col).alias("qid"), "qv", "n2").collect()
    cand_schema = StructType([
        StructField("query_id", LongType(), False),
        StructField("neighbor_id", LongType(), False),
        StructField("cos", DoubleType(), True),
    ])
    if not qrows:
        return local_frame(df.sparkSession, [], cand_schema).select(
            "query_id", F.lit(1).cast("long").alias("rank"), "neighbor_id")
    Q = np.array([r["qv"] for r in qrows], dtype=np.int64)        # (q, D)
    qids = np.array([int(r["qid"]) for r in qrows], dtype=np.int64)
    qn = np.sqrt(np.array([r["n2"] for r in qrows], dtype=np.float64))

    def part_topk(batches):
        cand_cos: list = []
        cand_nid: list = []
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            m = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[emb_col]])
            qv = np.floor(m * EMB_SCALE + 0.5).astype(np.int64)
            n2 = (qv * qv).sum(axis=1)
            dots = qv @ Q.T                                       # exact
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots.astype(np.float64) / (
                    np.sqrt(n2.astype(np.float64))[:, None] * qn[None, :])
            for j in range(len(qids)):
                mask = ids != qids[j]
                cj, nj = cos[mask, j], ids[mask]
                if not len(cj):
                    continue
                # Spark's descending double order puts NaN first; map
                # NaN -> +inf for the sort key only (cos <= 1 otherwise)
                key = np.where(np.isnan(cj), np.inf, cj)
                top = np.lexsort((nj, -key))[:k]
                cand_cos.append((j, cj[top]))
                cand_nid.append(nj[top])
        out_q, out_n, out_c = [], [], []
        for (j, cvals), nvals in zip(cand_cos, cand_nid):
            out_q.extend([int(qids[j])] * len(nvals))
            out_n.extend(int(x) for x in nvals)
            out_c.extend(float(x) for x in cvals)
        yield pd.DataFrame({"query_id": pd.Series(out_q, dtype="int64"),
                            "neighbor_id": pd.Series(out_n, dtype="int64"),
                            "cos": pd.Series(out_c, dtype="float64")})

    return _rank_topk(
        map_batches(df.select(F.col(id_col), emb_col), part_topk, cand_schema),
        k)


def cosine_topk_expr(df: DataFrame, queries: DataFrame, k: int,
                     id_col: str = "vec_id",
                     emb_col: str = "embedding") -> DataFrame:
    """The pure-JVM-expression brute-force top-k (broadcast crossJoin +
    HOF cosine + full window) — kept as the parity reference for
    :func:`cosine_topk`."""
    corpus = with_quantized(df, emb_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qv").alias("qb"), F.col("n2").alias("nb"))
    qs = with_quantized(queries, emb_col).select(
        F.col(id_col).alias("query_id"),
        F.col("qv").alias("qa"), F.col("n2").alias("na"))
    return _rank_topk(corpus.crossJoin(F.broadcast(qs))
                      .where(F.col("neighbor_id") != F.col("query_id"))
                      .withColumn("cos", cosine_expr()), k)


def cosine_dup_pairs(df: DataFrame, threshold: float,
                     id_col: str = "vec_id",
                     emb_col: str = "embedding",
                     exact: bool = False) -> DataFrame:
    """``a, b`` pairs with cosine >= threshold (a < b) — embedding near-dup
    detection.

    Default is the LSH-bucketed plan (:func:`cosine_dup_pairs_lsh`):
    candidates must share a hyperplane bucket, so the join is a sublinear
    equi-join and the plan survives a 100x corpus. ``exact=True`` opts in
    to the O(n^2) self-join — full recall, but quadratic row
    amplification; it exists as the exactness baseline for tests/oracles
    and should never be the default at scale (r3 review item 5)."""
    if not exact:
        return cosine_dup_pairs_lsh(df, threshold, id_col, emb_col)
    q = with_quantized(df, emb_col)
    l = q.select(F.col(id_col).alias("a"), F.col("qv").alias("qa"),
                 F.col("n2").alias("na"))
    r = q.select(F.col(id_col).alias("b"), F.col("qv").alias("qb"),
                 F.col("n2").alias("nb"))
    return (l.crossJoin(r).where(F.col("a") < F.col("b"))
            .withColumn("cos", cosine_expr())
            .where(F.col("cos") >= threshold)
            .select("a", "b"))


def cosine_dup_pairs_lsh(df: DataFrame, threshold: float,
                         id_col: str = "vec_id",
                         emb_col: str = "embedding") -> DataFrame:
    """Scale path for embedding near-dup: candidate pairs share an LSH
    bucket (equi-join, sublinear) before the exact cosine filter —
    vs the O(n^2) self-join of :func:`cosine_dup_pairs`. Recall is bounded
    by bucket collision probability; near-identical vectors almost always
    share all plane signs."""
    buckets = ann_buckets(df, id_col, emb_col)
    q = with_quantized(df, emb_col)
    l = (q.select(F.col(id_col).alias("a"), F.col("qv").alias("qa"),
                  F.col("n2").alias("na"))
         .join(buckets.withColumnRenamed("id", "a"), on="a"))
    r = (q.select(F.col(id_col).alias("b"), F.col("qv").alias("qb"),
                  F.col("n2").alias("nb"))
         .join(buckets.withColumnRenamed("id", "b"), on="b"))
    return (l.join(r, on="bucket")
            .where(F.col("a") < F.col("b"))
            .withColumn("cos", cosine_expr())
            .where(F.col("cos") >= threshold)
            .select("a", "b"))


def ann_buckets(df: DataFrame, id_col: str = "vec_id",
                emb_col: str = "embedding") -> DataFrame:
    """``id, bucket`` — random-hyperplane LSH bucket per vector
    (ANN_PLANES=6 planes -> 64 buckets), computed as a vectorized Arrow
    batch matmul against the deterministic integer plane matrix
    (textconf.ann_plane_weights)."""
    planes = ann_plane_weights()  # (P, D) int64

    def buckets(batches):
        for pdf in batches:
            m = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
            dots = m @ planes.T                 # exact int64 (fits: 2^45)
            bits = (dots > 0).astype(np.int64)
            yield pd.DataFrame({"id": pdf["id"], "bucket": (
                bits << np.arange(ANN_PLANES, dtype=np.int64)).sum(axis=1)})

    q = with_quantized(df, emb_col).select(F.col(id_col).alias("id"), "qv")
    return map_batches(q, buckets, StructType(
        [q.schema["id"], StructField("bucket", LongType())]))


def ann_lsh_topk(df: DataFrame, queries: DataFrame, k: int,
                 id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """``query_id, rank, neighbor_id`` — top-k among same-bucket candidates
    only (sublinear at scale; recall measured in tests vs brute force)."""
    buckets = ann_buckets(df, id_col, emb_col)
    q = with_quantized(queries, emb_col).select(
        F.col(id_col).alias("query_id"), F.col("qv").alias("qa"),
        F.col("n2").alias("na"))
    qb = buckets.withColumnRenamed("id", "query_id")
    corpus = with_quantized(df, emb_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("qv").alias("qb"),
        F.col("n2").alias("nb"))
    cb = buckets.withColumnRenamed("id", "neighbor_id")
    cand = (
        q.join(F.broadcast(qb), on="query_id")
        .join(cb.join(corpus, on="neighbor_id"), on="bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine_expr())
    )
    return _rank_topk(cand, k)


# ------------------------------------------------------------------ IVF

def ivf_codebook(df: DataFrame, n_cells: int = 8, id_col: str = "vec_id",
                 emb_col: str = "embedding", refine_iters: int = 0,
                 sample_n: int = 4096,
                 balance: float | None = 2.5) -> list[tuple[int, list[int], int]]:
    """Deterministic IVF coarse quantizer: the ``n_cells`` corpus vectors
    with the smallest ``(h64(id), id)`` become cell seeds (k-means++-style
    sampled init). Returns ``[(cell, quantized_centroid, norm2), ...]`` —
    a kilobyte-scale driver gather (the ``_gather_estimates`` pattern:
    seed selection is a distributed TakeOrdered job; the codebook then
    rides into the assignment stage's closure, so assignment needs NO
    corpus shuffle and no second pass).

    ``refine_iters > 0`` runs that many Lloyd iterations of spherical
    k-means on a deterministic training sample (the ``sample_n`` vectors
    with the smallest hash order — standard IVF practice: the quantizer
    trains on a subsample, never the corpus). Refined centroids are
    quantized back to the integer grid, so every downstream expression —
    assignment, probes, exact re-ranking — is unchanged. The oracle-paired
    driver query keeps ``refine_iters=0`` (seed selection is replayable in
    SQL; float means are not); refined-codebook recall is pinned by pytest
    instead.

    ``balance`` (refinement only): if any cell attracts more than
    ``balance`` times the even share of the training sample, the emptiest
    cell's centroid is re-seeded on the oversized cell's farthest member
    before the Lloyd mean step — standard empty/fat-cluster handling.
    Oversized cells don't skew the JOIN (probes broadcast; the corpus
    never shuffles) but they inflate every probing query's candidate set,
    which is the term that dominates scan cost at scale; capping them
    keeps candidates ~ nprobe/n_cells of the corpus. Deterministic given
    the deterministic sample."""
    from ddsketch_spark.core.hashing import spark_h64

    q = with_quantized(df, emb_col)
    n_fetch = max(n_cells, sample_n if refine_iters > 0 else n_cells)
    rows = (q.select(F.col(id_col).alias("sid"),
                     spark_h64(F.col(id_col)).alias("h"), "qv", "n2")
            .orderBy("h", "sid")       # TakeOrdered: distributed top-N
            .limit(n_fetch)
            .collect())
    cents = [np.asarray(r["qv"], dtype=np.float64) for r in rows[:n_cells]]
    if refine_iters > 0 and len(rows) > n_cells:
        sample = np.stack([np.asarray(r["qv"], dtype=np.float64)
                           for r in rows])
        norms = np.linalg.norm(sample, axis=1)
        unit = sample[norms > 0] / norms[norms > 0, None]
        c = np.stack(cents)
        c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-30)
        for _ in range(refine_iters):
            assign = np.argmax(unit @ c.T, axis=1)       # cosine argmax
            counts = np.bincount(assign, minlength=n_cells)
            if balance and counts.max() > balance * len(unit) / n_cells:
                big = int(np.argmax(counts))
                small = int(np.argmin(counts))
                members = unit[assign == big]
                far = int(np.argmin(members @ c[big]))   # lowest cosine
                c[small] = members[far]
                assign = np.argmax(unit @ c.T, axis=1)
            for j in range(n_cells):
                members = unit[assign == j]
                if len(members):                          # empty cell keeps
                    m = members.mean(axis=0)              # its old centroid
                    n = np.linalg.norm(m)
                    if n > 0:
                        c[j] = m / n
        # back to the integer grid at seed-magnitude scale so the exact
        # integer dot/norm machinery (and its overflow headroom) holds;
        # a degenerate corpus (near-zero-norm seeds) can quantize a
        # refined centroid to the zero vector, whose norm would make
        # _seed_cos_sql divide by sqrt(0) — keep the unrefined seed for
        # any such cell so assignment cosines are always defined
        scale = float(np.median([np.linalg.norm(x) for x in cents])) or 1.0
        refined = [np.floor(c[j] * scale + 0.5) for j in range(n_cells)]
        cents = [r if float(np.dot(r, r)) > 0 else s
                 for r, s in zip(refined, cents)]
    out = []
    for j, v in enumerate(cents):
        iv = [int(x) for x in v]
        n2 = int(sum(x * x for x in iv))
        if n2 == 0:
            # zero-norm seed (degenerate corpus vector): pin the cell to a
            # basis direction so its assignment cosine is still defined
            iv = [1] + [0] * (len(iv) - 1)
            n2 = 1
        out.append((j, iv, n2))
    return out


def _seed_cos_sql(seed_q: list[int], seed_n2: int) -> str:
    """cosine(qv, seed) with the seed embedded as an array literal —
    exact integer dot + two IEEE float ops, same contract as cosine_expr.
    Emitted as ONE SQL string: building the equivalent tree from
    per-element ``F.lit`` Columns costs ~1000 py4j round-trips per query
    (measured ~0.8 s of pure driver time for an 8x64 codebook)."""
    arr = ",".join(f"{int(x)}L" for x in seed_q)
    dot = (f"aggregate(zip_with(qv, array({arr}), (x, y) -> x * y),"
           f" 0L, (acc, v) -> acc + v)")
    return (f"CAST({dot} AS DOUBLE)"
            f" / (sqrt(CAST(n2 AS DOUBLE))"
            f" * sqrt(CAST({int(seed_n2)}L AS DOUBLE)))")


def _cell_structs_sql(codebook) -> str:
    """SQL for array<struct<cos, negcell>> — one entry per cell; struct
    ordering makes max = (best cos, lowest cell) without any shuffle."""
    entries = ",".join(
        f"struct({_seed_cos_sql(qs, ns)} AS cos,"
        f" CAST({-c} AS BIGINT) AS negcell)"
        for c, qs, ns in codebook)
    return f"array({entries})"


def ivf_assign(df: DataFrame, codebook, id_col: str = "vec_id",
               emb_col: str = "embedding") -> DataFrame:
    """``id, cell, qv, n2`` — nearest-cell assignment (argmax cosine, ties
    to the lowest cell index). Computed as ONE vectorized Arrow batch
    matmul against the codebook matrix (the ann_buckets pattern): the
    struct-array JVM expression (:func:`ivf_assign_expr`) evaluates
    n_cells interpreted ``aggregate(zip_with(...))`` lambdas per corpus
    row — measured 1.7 s for 20k x 8 cells at local[32], vs milliseconds
    for the batch matmul. Bit-identical: exact int64 dots (< 2^52, so the
    float64 cast is lossless), the same two IEEE ops per cosine
    (``dot / (sqrt(n2) * sqrt(seed_n2))``), and numpy argmax's
    first-max-wins tie == (max cos, lowest cell) struct ordering.
    One deliberate divergence: a zero-norm corpus row (all cosines NaN)
    is assigned to cell 0 here, where the expression form raises
    DIVIDE_BY_ZERO under ANSI — strictly more tolerant, never different
    on defined inputs. The corpus is scanned once and never shuffled
    either way; parity is pinned per-row by tests/test_textops.py."""
    seeds = np.array([qs for _, qs, _ in codebook], dtype=np.int64)
    seed_n2 = np.sqrt(np.array([ns for _, _, ns in codebook],
                               dtype=np.float64))

    def assign(batches):
        for pdf in batches:
            m = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
            dots = (m @ seeds.T).astype(np.float64)
            denom = (np.sqrt(pdf["n2"].to_numpy(dtype=np.float64))[:, None]
                     * seed_n2)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / denom
            yield pdf.assign(cell=np.argmax(cos, axis=1).astype(np.int64))

    q = with_quantized(df, emb_col).select(F.col(id_col).alias("id"),
                                           "qv", "n2")
    return map_batches(q, assign, StructType(
        [q.schema["id"], StructField("cell", LongType()), q.schema["qv"],
         q.schema["n2"]]))


def ivf_assign_expr(df: DataFrame, codebook, id_col: str = "vec_id",
                    emb_col: str = "embedding") -> DataFrame:
    """The pure-JVM-expression form of :func:`ivf_assign` (literal
    codebook struct array + array_max) — kept as the parity reference."""
    q = with_quantized(df, emb_col).select(F.col(id_col).alias("id"),
                                           "qv", "n2")
    best = F.expr(f"array_max({_cell_structs_sql(codebook)})")
    return q.select("id", (-best["negcell"]).cast("long").alias("cell"),
                    "qv", "n2")


def ivf_probe(queries: DataFrame, codebook, nprobe: int,
              id_col: str = "vec_id",
              emb_col: str = "embedding") -> DataFrame:
    """``query_id, cell, qa, na`` — each query expanded to its ``nprobe``
    closest cells (sort the per-cell struct array desc, slice, explode)."""
    q = with_quantized(queries, emb_col)
    arr = F.expr(f"reverse(array_sort({_cell_structs_sql(codebook)}))")
    probes = q.select(F.col(id_col).alias("query_id"),
                      F.col("qv").alias("qa"), F.col("n2").alias("na"),
                      F.explode(F.slice(arr, 1, nprobe)).alias("p"))
    return probes.select("query_id", "qa", "na",
                         (-F.col("p.negcell")).cast("long").alias("cell"))


def ann_ivf_topk(df: DataFrame, queries: DataFrame, k: int,
                 n_cells: int = 8, nprobe: int = 2,
                 id_col: str = "vec_id", emb_col: str = "embedding",
                 refine_iters: int = 0,
                 balance: float | None = 2.5) -> DataFrame:
    """``query_id, rank, neighbor_id`` — IVF approximate top-k: candidates
    are corpus vectors whose cell is one of the query's ``nprobe`` closest
    cells. vs the random-hyperplane LSH path: the quantizer is trained on
    the data (seed vectors live where the data lives), so cells track the
    corpus distribution and recall/candidate-count is tunable via
    (n_cells, nprobe) instead of fixed by plane count.

    Plan shape at 100 TB: seed selection is one TakeOrdered scan; the main
    job is ONE corpus scan with per-batch matmul assignment, broadcast-join
    against the (queries x nprobe) probe rows on cell, then a per-query
    window over candidates — the corpus is never shuffled, mirroring
    ann_lsh_topk's bucket equi-join but with a data-adaptive codebook."""
    codebook = ivf_codebook(df, n_cells, id_col, emb_col,
                            refine_iters=refine_iters, balance=balance)
    corpus = ivf_assign(df, codebook, id_col, emb_col).select(
        F.col("id").alias("neighbor_id"), "cell",
        F.col("qv").alias("qb"), F.col("n2").alias("nb"))
    probes = ivf_probe(queries, codebook, nprobe, id_col, emb_col)
    cand = (corpus.join(F.broadcast(probes), on="cell")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("cos", cosine_expr()))
    return _rank_topk(cand, k)
