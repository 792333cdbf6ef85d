"""Deterministic synthesis of the Common-Crawl-style web-pages table
(BASELINE.json input_hint): ``url string, warc_ts timestamp, html binary,
text string, lang string``.

Everything is a pure function of (seed, doc id) via a splitmix64-style
counter hash, so:

- generation is embarrassingly parallel (``spark.range`` +
  ``aggregate.map_batches``, no shuffle) and scales to any doc count;
- the per-row invariant holds: the extracted ``text`` for a given ``url``
  is byte-identical across runs, partitionings, and cluster sizes
  (tests/test_webpages.py pins golden hashes);
- ``lang`` is Zipf-distributed (skew the north rule requires us to handle)
  and text lengths are lognormal.

``html`` wraps the text in deterministic markup — the "extraction" that
maps html -> text is trivially invertible here, standing in for a real
WARC text extractor.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

from ddsketch_spark.operators.aggregate import map_batches

SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), False),
    StructField("html", BinaryType(), False),
    StructField("text", StringType(), False),
    StructField("lang", StringType(), False),
])

# Zipf(s=1.3) over 12 languages — en dominates, the tail is thin
LANGS = ["en", "zh", "es", "de", "fr", "ja", "ru", "pt", "it", "nl", "pl", "sv"]
_ZIPF_S = 1.3

# per-language stopword markers (make language-ID heuristics meaningful)
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "ja": ["no1", "ni2", "wa3", "wo4", "ga5"],
    "ru": ["i9", "v8", "ne7", "na6", "chto"],
    "pt": ["o", "a", "e", "do", "da"],
    "it": ["il", "di", "che", "e", "un"],
    "nl": ["de", "het", "een", "van", "en"],
    "pl": ["w0", "i0", "na0", "z0", "sie"],
    "sv": ["och", "att", "det", "som", "en"],
}

# content vocabulary: deterministic pseudo-words
VOCAB = np.array([f"w{i:03d}" for i in range(512)])

_BASE_TS = np.datetime64("2025-01-01T00:00:00")

_U64 = np.uint64


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — vectorized, exact uint64 wraparound."""
    with np.errstate(over="ignore"):
        x = (x + _U64(0x9E3779B97F4A7C15)).astype(_U64)
        x ^= x >> _U64(30)
        x = (x * _U64(0xBF58476D1CE4E5B9)).astype(_U64)
        x ^= x >> _U64(27)
        x = (x * _U64(0x94D049BB133111EB)).astype(_U64)
        x ^= x >> _U64(31)
    return x


def _u01(x: np.ndarray) -> np.ndarray:
    return x.astype(np.float64) / float(1 << 64)


def _zipf_cdf(k: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, k + 1) ** s
    return np.cumsum(w / w.sum())


_LANG_CDF = _zipf_cdf(len(LANGS), _ZIPF_S)


def generate_batch(ids: np.ndarray, seed: int = 42) -> pd.DataFrame:
    """Pure deterministic generator for a batch of doc ids (the unit the
    tests pin). One row per id; all randomness from counter hashes."""
    ids = np.asarray(ids, dtype=np.int64).astype(_U64)
    with np.errstate(over="ignore"):
        h = _mix(ids + _U64(seed) * _U64(0x9E3779B97F4A7C15))
    h2 = _mix(h)
    h3 = _mix(h2)

    lang_idx = np.searchsorted(_LANG_CDF, _u01(h), side="right")
    lang_idx = np.minimum(lang_idx, len(LANGS) - 1)
    langs = np.array(LANGS)[lang_idx]

    # lognormal word counts via Box-Muller (two independent uniforms)
    u1 = np.clip(_u01(h2), 1e-12, 1.0)
    u2 = _u01(h3)
    z = np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)
    nwords = np.clip(np.exp(3.5 + 1.0 * z), 5, 3000).astype(np.int64)

    # word stream: word j of doc i <- hash(h_i + j)
    total = int(nwords.sum())
    doc_h = np.repeat(h, nwords)
    pos = np.arange(total, dtype=np.int64) - np.repeat(
        np.concatenate([[0], np.cumsum(nwords)[:-1]]), nwords)
    with np.errstate(over="ignore"):
        wh = _mix(doc_h + pos.astype(_U64))
    # ~30% stopwords from the doc's language, rest from the shared vocab
    is_stop = (wh % _U64(10)) < _U64(3)
    word_arr = VOCAB[(wh % _U64(len(VOCAB))).astype(np.int64)].astype("U8")
    stop_rows = np.repeat(lang_idx, nwords)
    stop_tables = np.array([LANG_STOPWORDS[l] for l in LANGS])  # (12, 5)
    picks = stop_tables[stop_rows[is_stop],
                        ((wh[is_stop] >> _U64(8)) % _U64(5)).astype(np.int64)]
    word_arr[is_stop] = picks

    bounds = np.concatenate([[0], np.cumsum(nwords)])
    texts = [" ".join(word_arr[bounds[i]:bounds[i + 1]])
             for i in range(len(ids))]

    ids_i = ids.astype(np.int64)
    urls = [f"https://site-{int(hh % _U64(1000)):03d}.example-{l}.org/doc/{i:012d}"
            for hh, l, i in zip(h, langs, ids_i)]
    ts = (_BASE_TS + (h % _U64(365 * 24 * 3600)).astype("timedelta64[s]")
          ).astype("datetime64[ns]")
    htmls = [(f'<!DOCTYPE html><html lang="{l}"><head><title>doc {i}</title>'
              f'</head><body><p>{t}</p></body></html>').encode("utf-8")
             for l, i, t in zip(langs, ids_i, texts)]

    return pd.DataFrame({
        "url": urls,
        "warc_ts": pd.Series(ts),
        "html": htmls,
        "text": texts,
        "lang": langs,
    })


def extract_text(html: bytes) -> str:
    """The 'WARC text extraction' inverse of generate_batch's wrapping —
    byte-identical text per url is the per-row invariant."""
    s = html.decode("utf-8")
    return s[s.index("<p>") + 3:s.rindex("</p>")]


def synthesize_range(spark: SparkSession, lo: int, hi: int, seed: int = 42,
                     partitions: int | None = None) -> DataFrame:
    """Deterministic web pages for doc ids [lo, hi): pure function of
    (seed, id) — the same id yields the same row no matter how the range is
    sliced, partitioned, or scaled (per-row invariant)."""
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            yield generate_batch(pdf["id"].to_numpy(), seed)

    return map_batches(spark.range(lo, hi, 1, parts), gen, SCHEMA)


def synthesize(spark: SparkSession, n_docs: int, seed: int = 42,
               partitions: int | None = None) -> DataFrame:
    """Distributed deterministic web-pages table: no shuffle, scales
    linearly with executors."""
    return synthesize_range(spark, 0, n_docs, seed, partitions)
