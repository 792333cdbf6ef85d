"""ddsketch_spark — PySpark-native mergeable-sketch analytics engine.

Public API surface (see README.md for the full layout):

- core kernels: DDSketch, HLL, CMS, Bloom, KLL, TDigest
- aggregation: ddsketch / ddsketch_percentile / ddsketch_percentile_of /
  ddsketch_avg / ddsketch_sum (+ *_from_sketches), sketch_agg (generic),
  merge_sketches
- extraction UDFs: one row function per scalar in functions/rows.py,
  exposed as Column helpers (functions/sketch_udfs.py: sketch_quantile /
  sketch_rank_of / sketch_trimmed / sketch_count / sketch_info /
  sketch_buckets / sketch_union / sketch_add; functions/estimators.py)
  and as SQL functions (functions/register.py: register_sql_functions)
- training-data ops: exact_dedup, minhash_lsh_pairs, simhash(_dup_pairs),
  ngram_jaccard_pairs, connected_components, hash_sample, cosine_topk,
  ann_lsh_topk, cosine_dup_pairs_lsh
"""

from ddsketch_spark.core.bloom import Bloom
from ddsketch_spark.core.cms import CMS
from ddsketch_spark.core.ddsketch import (
    DDSketch, param_buckets, param_info, union,
)
from ddsketch_spark.core.hll import HLL
from ddsketch_spark.core.kll import KLL
from ddsketch_spark.core.tdigest import TDigest
from ddsketch_spark.operators.api import (
    ddsketch, ddsketch_avg, ddsketch_avg_from_sketches, ddsketch_merge,
    ddsketch_percentile, ddsketch_percentile_from_sketches,
    ddsketch_percentile_of, ddsketch_percentile_of_from_sketches,
    ddsketch_sum, ddsketch_sum_from_sketches, hll_ndv, kll_percentile,
    tdigest_percentile,
)
from ddsketch_spark.operators.aggregate import merge_sketches, sketch_agg
from ddsketch_spark.operators.native import ddsketch_agg_native
from ddsketch_spark.operators.similarity import (
    ann_lsh_topk, cosine_dup_pairs_lsh, cosine_topk,
)
from ddsketch_spark.operators.textops import (
    connected_components, exact_dedup, hash_sample, minhash_lsh_pairs,
    ngram_jaccard_pairs, simhash, simhash_dup_pairs,
)

__all__ = [
    "Bloom", "CMS", "DDSketch", "HLL", "KLL", "TDigest",
    "ann_lsh_topk", "connected_components", "cosine_dup_pairs_lsh",
    "cosine_topk", "exact_dedup", "hash_sample", "minhash_lsh_pairs",
    "ngram_jaccard_pairs", "simhash", "simhash_dup_pairs",
    "ddsketch", "ddsketch_agg_native", "ddsketch_avg",
    "ddsketch_avg_from_sketches", "ddsketch_merge", "ddsketch_percentile",
    "ddsketch_percentile_from_sketches", "ddsketch_percentile_of",
    "ddsketch_percentile_of_from_sketches", "ddsketch_sum",
    "ddsketch_sum_from_sketches", "hll_ndv", "kll_percentile",
    "merge_sketches", "param_buckets", "param_info", "sketch_agg",
    "tdigest_percentile", "union",
]
