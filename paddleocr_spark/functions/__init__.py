"""Training-data pipeline functions — first-class components beyond the
reference's own operators (dedup, similarity search, text analysis).

Everything here is expressed with JVM-side Spark SQL expressions (higher-order
functions over arrays, window ranking, band-joins) — zero Python UDFs — so it
whole-stage-codegens and scales. Each public op is a ``(spark, sf_dir)``
callable listed in ``paddleocr_spark.entry_queries.queries()`` next to its
DuckDB oracle twin; :func:`bench_queries` is the subset bench.py times,
looked up in that same table.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .dedup import (dedup_exact, dedup_minhash_pairs, dedup_ngram_jaccard,
                    dedup_simhash, noisy_corpus, release_band_cache,
                    simhash_pairs)
from .metrics import char_prf, det_eval, lcs_string
from .teds import teds, teds_batch_avg, teds_score
from .similarity import (ann_cosine_topk, ann_ivf_topk, ann_lsh_buckets,
                         embedding_neardup, ivf_assign,
                         neardup_components, neardup_survivors)
from .textfns import (fingerprint, gopher_rules, lang_id,
                      quality_score, strq2b, token_count)


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The secondary queries bench.py times: the ``entry_queries.BENCH``
    names, each mapped to its ``queries()`` callable."""
    from ..entry_queries import BENCH, queries
    table = queries()
    return {name: table[name] for name in BENCH}


__all__ = [
    "dedup_exact", "dedup_minhash_pairs", "dedup_ngram_jaccard",
    "dedup_simhash", "noisy_corpus", "ann_cosine_topk", "ann_lsh_buckets",
    "embedding_neardup", "fingerprint", "lang_id", "quality_score", "strq2b",
    "token_count", "bench_queries", "char_prf", "det_eval", "lcs_string",
    "teds", "teds_batch_avg", "teds_score", "ann_ivf_topk", "ivf_assign",
    "simhash_pairs", "release_band_cache", "gopher_rules",
    "neardup_components", "neardup_survivors",
]
