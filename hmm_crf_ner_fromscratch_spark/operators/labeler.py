"""One labeler: the single Spark decode stage behind every sequence model.

:func:`label` runs any model with a ``tag_batch(sequences)`` method
(``HMMModel``, ``CRFModel``, ``TransformerCRFParams``) over a DataFrame:
one broadcast, ``fan_out`` off unsplittable scans, and ONE ``mapInPandas``
that tags each Arrow batch and, for ``emit="mentions"``, assembles the
spans in the same python worker (chained ``mapInPandas`` stages measured
5.8x slower at 32 cores). Each worker unpickles the broadcast model once
(workers are reused across tasks) and the model builds its decode tables
on its first ``tag_batch`` call, so tables are never shipped. Every
public decode operator is one call into :func:`label`.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..functions.mentions import extract_spans_batch
from .partitioning import fan_out

MENTION_SCHEMA_SUFFIX = (
    "span_start int, span_end int, entity_type string, surface string"
)


def _mentions_frame(pdf, key_cols, token_lists, tag_lists, scheme) -> pd.DataFrame:
    """One row per mention span of a batch: ``key_cols`` of the span's
    row, then span_start, span_end (exclusive), entity_type, surface."""
    rows, starts, ends, types, surfaces = extract_spans_batch(
        token_lists, tag_lists, scheme=scheme
    )
    out = pdf.iloc[rows][list(key_cols)].reset_index(drop=True)
    out["span_start"] = pd.Series(starts, dtype="int32")
    out["span_end"] = pd.Series(ends, dtype="int32")
    out["entity_type"] = pd.Series(types, dtype=object)
    out["surface"] = pd.Series(surfaces, dtype=object)
    return out


def label(
    df: DataFrame,
    model,
    *,
    emit: str = "tags",
    key_cols: tuple[str, ...] = (),
    token_col: str = "tokens",
    emissions_col: str | None = None,
    tag_col: str = "tags_pred",
    scheme: str = "bio",
) -> DataFrame:
    """Tag every row of ``df`` with ``model`` in one python stage.

    The model reads ``emissions_col`` if given, else ``token_col``.
    ``emit="tags"`` appends ``tag_col``; ``emit="mentions"`` returns the
    ``key_cols`` present plus one row per span (surfaces from
    ``token_col``). ``model=None`` reads the tags from ``tag_col``. A null
    input sequence gets null tags and no mentions.
    """
    if emit not in ("tags", "mentions"):
        raise ValueError(f"label: unknown emit={emit!r}")
    if model is None and emit == "tags":
        raise ValueError("label: emit='tags' needs a model")
    in_col = emissions_col or token_col
    if emit == "tags":
        df = fan_out(df)
        out_type = (
            ArrayType(StringType()) if emissions_col else df.schema[token_col].dataType
        )
        out_schema = StructType(df.schema.fields + [StructField(tag_col, out_type)])
    else:
        if not any(c in df.columns for c in key_cols):
            raise ValueError(f"label: no key column of {key_cols} in {df.columns}")
        key_cols = tuple(c for c in key_cols if c in df.columns)
        in_cols = [in_col] if model is not None else [in_col, tag_col]
        df = fan_out(df.select(*dict.fromkeys([*key_cols, token_col, *in_cols])))
        key_schema = ", ".join(
            f"{c} {df.schema[c].dataType.simpleString()}" for c in key_cols
        )
        out_schema = f"{key_schema}, {MENTION_SCHEMA_SUFFIX}"
    bc = df.sparkSession.sparkContext.broadcast(model) if model is not None else None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tagger = bc.value if bc is not None else None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ok = pdf[in_col].notna().to_numpy()
            if tagger is None:
                ok &= pdf[tag_col].notna().to_numpy()
            live = pdf if ok.all() else pdf[ok]
            seqs = live[in_col].tolist()
            tags = tagger.tag_batch(seqs) if tagger is not None else live[tag_col].tolist()
            if emit == "tags":
                if len(live) < len(pdf):
                    it = iter(tags)
                    tags = [next(it) if k else None for k in ok]
                pdf[tag_col] = tags
                yield pdf
            else:
                tokens = seqs if in_col == token_col else live[token_col].tolist()
                yield _mentions_frame(live, key_cols, tokens, tags, scheme)

    return df.mapInPandas(run, schema=out_schema)
