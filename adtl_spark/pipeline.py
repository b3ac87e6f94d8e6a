"""Reusable corpus-cleaning pipeline (the CLI-facing form of the
``pipeline_corpus_clean`` gate query): quality filter -> repetition
filter -> MinHash near-dup removal, written out in one Spark action
plus a per-stage report.

The stages are the oracle-gated operators
(text.quality_repetition_keep / dedup.dedup_minhash_lsh's plan); this
module only composes them and counts survivors, so the CLI path and
the correctness-gated path cannot drift apart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from adtl_spark.operators import dedup as D
from adtl_spark.operators import text as X


def corpus_clean(
    docs: DataFrame,
    output: str,
    min_quality: float = 0.5,
    max_top_bigram_frac: float = 0.2,
    minhash_k: int = 16,
    minhash_bands: int = 4,
    threshold: float = 0.6,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[str, int]:
    """Clean a document corpus into parquet at ``output``; returns the
    report.

    The cleaned corpus keeps the original columns.  ``id_col`` must be a
    unique, non-null key: near-dup removal drops documents by id, so
    two documents sharing an id share one fate.

    Nothing runs before the write: the report counts documents
    surviving each stage through ``Observation``s, metrics collected as
    a side effect of that one action.  The working-corpus and signature
    caches are released after it.
    """
    obs_in = Observation("corpus_clean_input")
    obs_kept = Observation("corpus_clean_kept")
    obs_out = Observation("corpus_clean_output")
    n = F.count(F.lit(1)).alias("n")
    kept = (
        X.quality_repetition_keep(
            docs.observe(obs_in, n), min_quality, max_top_bigram_frac, text_col
        )
        .observe(obs_kept, n)
        .persist()
    )
    pairs, sig = D.minhash_lsh_plan(
        kept, minhash_k, minhash_bands, threshold, shingle_n, text_col, id_col
    )
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    clean = kept.join(drop, id_col, "left_anti").observe(obs_out, n)
    try:
        clean.write.mode("overwrite").parquet(output)
    finally:
        sig.unpersist()
        kept.unpersist()
    return {
        "after_near_dedup": int(obs_out.get["n"]),
        "input": int(obs_in.get["n"]),
        "after_quality_and_repetition": int(obs_kept.get["n"]),
    }
