"""functions.* per-layer figures: one pass over the data-pipeline
operators of `functions.pipeline`, each forced and checked against the
DuckDB side of `all_pipeline_sql` (computed before the pass).

This runs inside the traced `codec` run, on that run's generated
`documents` and `embeddings` tables; it moves no end-to-end metric of
the benchmark.
"""

from __future__ import annotations

import sys
import time
import traceback

from .ops import small_result

OPS = ("text_metrics", "quality_filter", "dedup_minhash_lsh",
       "dedup_simhash", "dedup_ngram_jaccard", "decontaminate",
       "dedup_clusters", "ann_batch", "ann_ivf", "pack_sequences")


def function_layers(spark, oracle, counters, dim: int):
    """Returns (attempted, failed, {functions.<op>.s / .jobs})."""
    from columnstore_spark.functions.pipeline import (
        all_pipeline_sql, dedup_clusters_oracle_sql, spark_pipeline_df)

    sqls = all_pipeline_sql(dim)
    expected = {op: oracle.digest(dedup_clusters_oracle_sql()
                                  if op == "dedup_clusters"
                                  else sqls[op]["duck"])
                for op in OPS}
    out, failed = {}, 0
    for op in OPS:
        gid = counters.new_group()
        t0 = time.perf_counter()
        try:
            ok = (small_result(spark_pipeline_df(spark, op, dim))
                  == expected[op])
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        out[f"functions.{op}.s"] = time.perf_counter() - t0
        out[f"functions.{op}.jobs"] = counters.jobs(gid)
        failed += not ok
    return len(OPS), failed, out
