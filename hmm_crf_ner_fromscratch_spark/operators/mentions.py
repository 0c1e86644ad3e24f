"""K3: mention table construction from decoded turns.

Input: the decoded transcript frame (one row per turn, ``tokens`` +
``tags_pred`` arrays plus key columns). Output: one row per mention:

  ``conv_id string, turn_idx int, role string, tool string,
    span_start int, span_end int, entity_type string, surface string``

The labeler's span assembly (``operators/labeler.py``) over the existing
tags: flat-vectorized span kernel (functions/mentions.py), no shuffle,
embarrassingly parallel over the decode output's partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .labeler import label


def extract_mentions(
    decoded: DataFrame,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx", "role", "tool"),
    token_col: str = "tokens",
    tag_col: str = "tags_pred",
    scheme: str = "bio",
) -> DataFrame:
    """Explode decoded turns into a mentions table."""
    return label(
        decoded, None, emit="mentions", key_cols=key_cols, token_col=token_col,
        tag_col=tag_col, scheme=scheme,
    )
