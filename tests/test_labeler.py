"""One labeler behind every decode operator, checked end to end.

For each model (an HMM trained on a dictionary-tagged synthetic corpus,
the committed CRF artifact, and synthetic transformer-CRF parameters):

* Spark ``tags_pred`` equals the scalar kernels run in-process
  (``viterbi_single``, ``viterbi_decode_crf``, ``transformer_crf.oracle_decode``);
* the fused mentions equal ``extract_mentions`` over those tags;
* the input holds a T=0 row, an all-unknown row and a null row: the null
  row gets null tags and no mentions, it does not crash the job.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hmm_crf_ner_fromscratch_spark.functions.crf import (
    CRFModel,
    DecodeTables,
    viterbi_decode_crf,
)
from hmm_crf_ner_fromscratch_spark.functions.transformer_crf import (
    TransformerCRFParams,
    oracle_decode,
)
from hmm_crf_ner_fromscratch_spark.functions.viterbi import viterbi_single
from hmm_crf_ner_fromscratch_spark.operators.crf import decode_crf
from hmm_crf_ner_fromscratch_spark.operators.fused import (
    decode_and_extract,
    decode_and_extract_crf,
)
from hmm_crf_ner_fromscratch_spark.operators.hmm import decode_hmm, train_hmm
from hmm_crf_ner_fromscratch_spark.operators.labeler import label
from hmm_crf_ner_fromscratch_spark.operators.mentions import extract_mentions
from hmm_crf_ner_fromscratch_spark.operators.transformer import (
    decode_transformer_crf,
    synth_emissions,
    synth_params,
)
from hmm_crf_ner_fromscratch_spark.plans.entry_queries import (
    _CRF_ART_DIR,
    OBJ_WORDS,
    OP_WORDS,
)
from hmm_crf_ner_fromscratch_spark.session import local_df
from hmm_crf_ner_fromscratch_spark.sources.transcripts import (
    synth_transcripts,
    tokenize_turns,
)
from conftest import dict_tagged

KEYS = ("conv_id", "turn_idx")
SPAN_COLS = ["span_start", "span_end", "entity_type", "surface"]
EDGE_TURNS = [  # (conv_id, turn_idx, text)
    ("edge", 0, ""),  # T = 0
    ("edge", 1, "zzqx wvut qqqq"),  # every word unknown to every model
    ("edge", 2, None),  # null text -> null tokens
]


def _turns(spark):
    """Synthetic turns, OP/OBJ turns the CRF artifact tags, edge rows."""
    ops = [
        ("ops", j, " ".join([OP_WORDS[j % 9], "the", OBJ_WORDS[j % 14], "and",
                              OBJ_WORDS[(3 * j) % 14], "Germany", OP_WORDS[(j + 4) % 9]]))
        for j in range(40)
    ]
    extra = local_df(spark, ops + EDGE_TURNS, "conv_id string, turn_idx int, text string")
    synth = synth_transcripts(spark, 300, seed=7).select("conv_id", "turn_idx", "text")
    return tokenize_turns(synth.unionByName(extra)).persist()


def _hmm_case(spark):
    model = train_hmm(dict_tagged(spark, 2000, seed=13))
    B_ext = model.b_extended()

    def oracle(tokens):
        if len(tokens) == 0:
            return []
        widx = np.array([model.word_to_idx.get(w, -1) for w in tokens])
        path = viterbi_single(B_ext[:, widx].T, model.pi, model.A)
        return [model.idx_to_tag[i] for i in path]

    turns = _turns(spark)
    return dict(
        df=turns, keys=KEYS, in_col="tokens", oracle=oracle,
        tags=lambda: decode_hmm(turns, model),
        fused=lambda: decode_and_extract(turns, model, key_cols=KEYS),
    )


def _crf_case(spark):
    model = CRFModel.load(_CRF_ART_DIR)
    tables = DecodeTables(model)
    turns = _turns(spark)
    return dict(
        df=turns, keys=KEYS, in_col="tokens",
        oracle=lambda tokens: viterbi_decode_crf(list(tokens), tables),
        tags=lambda: decode_crf(turns, model),
        fused=lambda: decode_and_extract_crf(turns, model, key_cols=KEYS),
    )


def _transformer_case(spark):
    K = 5
    p = synth_params(K, seed=3)
    params = TransformerCRFParams(
        p.transitions, p.start_transitions, p.end_transitions,
        ["O", "B-PER", "I-PER", "B-LOC", "I-LOC"],
    )
    em = synth_emissions(spark, 200, K, seed=3)
    edge = spark.createDataFrame(
        [(10_000, []), (10_001, None)], "seq_id long, emissions array<array<float>>"
    )
    df = (
        em.unionByName(edge)
        .withColumn("tokens", F.transform("emissions", lambda e, i: F.concat(F.lit("w"), i)))
        .persist()
    )
    keys = ("seq_id",)

    def oracle(emissions):
        if len(emissions) == 0:
            return []
        E = np.array([list(e) for e in emissions], dtype=np.float32)
        return [params.tags[i] for i in oracle_decode(E, params)]

    return dict(
        df=df, keys=keys, in_col="emissions", oracle=oracle,
        tags=lambda: decode_transformer_crf(df, params),
        fused=lambda: label(df, params, emit="mentions", key_cols=keys, emissions_col="emissions"),
    )


CASES = {"hmm": _hmm_case, "crf": _crf_case, "transformer_crf": _transformer_case}


@pytest.mark.parametrize("name", list(CASES))
def test_labeler_matches_scalar_kernels_and_extract_mentions(spark, name):
    case = CASES[name](spark)
    keys, in_col = list(case["keys"]), case["in_col"]

    decoded = case["tags"]()
    rows = decoded.select(*keys, in_col, "tags_pred").collect()
    assert len(rows) == case["df"].count()
    null_keys, n_empty = set(), 0
    for r in rows:
        seq = r[in_col]
        if seq is None:
            assert r.tags_pred is None
            null_keys.add(tuple(r[k] for k in keys))
            continue
        n_empty += len(seq) == 0
        assert r.tags_pred == case["oracle"](seq), (name, tuple(r[k] for k in keys))
    assert len(null_keys) == 1 and n_empty == 1

    fused = sorted(tuple(r) for r in case["fused"]().select(*keys, *SPAN_COLS).collect())
    chained = sorted(
        tuple(r)
        for r in extract_mentions(decoded, key_cols=case["keys"]).select(*keys, *SPAN_COLS).collect()
    )
    assert fused == chained
    assert len(fused) > 20
    assert not {m[: len(keys)] for m in fused} & null_keys
    case["df"].unpersist()
