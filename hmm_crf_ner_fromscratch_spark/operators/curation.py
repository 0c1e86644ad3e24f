"""Corpus-curation operators for LLM training-data pipelines: sequence
packing and deterministic stratified sampling.

Both are pure window/expression plans (JVM-side, codegen, no python
stage), and both are engine-portable by construction -- the DuckDB
oracles in plans/entry_queries.py mirror the exact expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    docs: DataFrame,
    capacity: int = 512,
    *,
    # 256, not 4: parallelism equals the shard count, and the round-7
    # 1M-doc sweep (BENCH/curation_1m_r7.md) measured the old 4-shard
    # default ~70% slower than 32+ shards ALREADY at 1M rows -- at real
    # corpus scale four serialized cumsum windows would be the job.
    # Deterministic constant (NOT derived from the environment): the
    # packing layout is part of the result and must reproduce bit-for-bit
    # across cluster sizes.
    n_shards: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-chunk sequence packing: per shard, documents in
    deterministic ``id_col`` order form one token stream chunked into
    fixed-``capacity`` bins (documents may span bins -- the standard
    "concatenate everything, cut every N tokens" LLM pretraining layout).
    Returns one row per document: its shard, token count, the bin and
    offset where it starts, and the bin where it ends.

    Scale shape: the cumulative sum runs per SHARD (hash of the id), so
    at 100 TB each shard's window sorts only its slice -- parallelism =
    ``n_shards``; no global sort exists anywhere. Greedy no-split
    bin-packing is deliberately NOT offered: its bin boundaries are a
    sequential recurrence over the whole stream (not window-expressible,
    not parallelizable); concat-and-chunk wastes zero tokens and is what
    large pretraining pipelines actually do.

    ``n_shards`` and the column names are keyword-only. The ``n_shards``
    default changed from 4 to 256 in round 7, and the shard count is part
    of the packed layout, so a caller that relied on the old default gets
    different bins; pass ``n_shards=4`` to reproduce it.
    """
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    t = docs.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"),
        n_tok.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_prev", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return c.select(
        id_col,
        "shard",
        "n_tokens",
        F.floor(F.col("cum_prev") / capacity).alias("start_bin"),
        (F.col("cum_prev") % capacity).alias("start_offset"),
        F.floor((F.col("cum_prev") + F.col("n_tokens") - 1) / capacity).alias(
            "end_bin"
        ),
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str = "lang",
    quota: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum quota sample (data-mixing stage): within
    each stratum, documents rank by ``md5(id)`` (a stable, seedless,
    engine-portable shuffle) and the first ``quota`` survive. Re-running
    on the same corpus always returns the same sample; adding documents
    only perturbs ranks locally. One shuffle (the per-stratum window);
    quota * n_strata rows out."""
    h = F.md5(F.col(id_col).cast("string").cast("binary"))
    w = Window.partitionBy(strata_col).orderBy(h, F.col(id_col))
    return (
        docs.select(id_col, strata_col, h.alias("h"))
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= quota)
        .select(id_col, strata_col, "sample_rank")
    )
