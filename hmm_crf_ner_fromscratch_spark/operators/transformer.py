"""Transformer-CRF decode operator (W6): distributed decode-given-weights.

The torch encoder (``transformer_ner.py:76-117``) is not portable (no
torch in this environment; nondeterministic init), so the Spark surface
takes per-token EMISSION vectors as a column -- ``emissions
array<array<float>>`` with one (K,) row per token -- and runs the ported
CRF layer (``functions/transformer_crf.py``) over Arrow batches:
broadcast parameters, length-bucketed batched Viterbi, no per-row Python.
On a cluster with a real encoder checkpoint, a preceding stage fills the
emissions column (e.g. an inference server UDF or an ONNX scorer); this
operator is everything downstream of it.

Decode is the labeler (``operators/labeler.py``) over
:meth:`TransformerCRFParams.tag_batch`. Physical plan notes:
embarrassingly parallel over existing partitioning (no shuffle
introduced); the broadcast is K^2 + 2K floats -- trivially small;
per-batch cost is O(sum T * K^2) vectorized.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.transformer_crf import TransformerCRFParams
from .labeler import label


def decode_transformer_crf(
    df: DataFrame,
    params: TransformerCRFParams,
    emissions_col: str = "emissions",
    out_col: str = "tags_pred",
) -> DataFrame:
    """Viterbi-decode every row's emission matrix; appends ``out_col``
    (array<string> of tag names, one per token) through the labeler."""
    return label(df, params, emissions_col=emissions_col, tag_col=out_col)


# ---------------------------------------------------------------------
# Deterministic synthetic fixtures (engine-portable md5 construction, the
# same discipline as similarity.hyperplane_values): integer-valued floats
# in [-500, 500], exact in float32, so decode is exact integer arithmetic
# and a SQL oracle can reproduce it bit-for-bit.
# ---------------------------------------------------------------------

def _md5_int(s: str, mod: int = 1001, shift: int = 500) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % mod - shift


def synth_params(K: int, seed: int = 42) -> TransformerCRFParams:
    """Deterministic integer-valued CRF parameters; SQL formula:
    ``('0x' || substring(md5(key), 1, 15))::BIGINT % 1001 - 500`` with
    keys ``tr{seed}:i:j`` / ``st{seed}:j`` / ``en{seed}:j``."""
    tr = np.array(
        [[_md5_int(f"tr{seed}:{i}:{j}") for j in range(K)] for i in range(K)],
        dtype=np.float32,
    )
    st = np.array([_md5_int(f"st{seed}:{j}") for j in range(K)], dtype=np.float32)
    en = np.array([_md5_int(f"en{seed}:{j}") for j in range(K)], dtype=np.float32)
    return TransformerCRFParams(tr, st, en, [f"T{j}" for j in range(K)])


def synth_emissions(
    spark, n_seqs: int, K: int, seed: int = 42, min_len: int = 3, len_mod: int = 18
) -> DataFrame:
    """Deterministic emission sequences: seq_id, length = min_len +
    md5 % len_mod, emissions[t][j] = md5-int of ``em{seed}:id:t:j``.
    Entirely Spark expressions (no UDF) and reproducible in SQL."""
    def h(key_col):
        return (
            F.pmod(
                F.conv(F.substring(F.md5(key_col.cast("binary")), 1, 15), 16, 10).cast(
                    "long"
                ),
                F.lit(1001),
            )
            - 500
        )

    base = spark.range(n_seqs).select(F.col("id").alias("seq_id"))
    length = (
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(f"len{seed}:"), F.col("seq_id").cast("string")).cast(
                            "binary"
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(len_mod),
        )
        + min_len
    )
    emis = F.transform(
        F.sequence(F.lit(0), length.cast("int") - 1),
        lambda t: F.transform(
            F.sequence(F.lit(0), F.lit(K - 1)),
            lambda j: h(
                F.concat(
                    F.lit(f"em{seed}:"),
                    F.col("seq_id").cast("string"),
                    F.lit(":"),
                    t.cast("string"),
                    F.lit(":"),
                    j.cast("string"),
                )
            ).cast("float"),
        ),
    )
    return base.select("seq_id", emis.alias("emissions"))
