"""Decode + mention extraction in one python stage (turns -> mentions).

The labeler (``operators/labeler.py``) emitting mentions: ``tag_batch``
and the span assembly share one ``mapInPandas``, so the tags never cross
the JVM boundary. ``decode_hmm``/``decode_crf`` then ``extract_mentions``
give the same rows through the same kernel and span helper, with a tags
table in between that can be checkpointed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .labeler import label


def decode_and_extract(
    turns: DataFrame,
    model,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx", "role", "tool"),
    token_col: str = "tokens",
    scheme: str = "bio",
) -> DataFrame:
    """turns (with ``tokens``) -> mentions table, one python stage; any
    model with ``tag_batch`` (HMM or CRF)."""
    return label(
        turns, model, emit="mentions", key_cols=key_cols, token_col=token_col, scheme=scheme
    )


# the labeler needs no per-model variant; kept as the CRF-path name
decode_and_extract_crf = decode_and_extract
