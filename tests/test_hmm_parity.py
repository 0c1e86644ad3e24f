"""M1 gate: Spark HMM train + decode bit-matches the reference end-to-end.

The golden files are produced by running the reference implementation
(deterministic, verified in SURVEY.md) inside the test session; our Spark
pipeline's CoNLL re-serialization must be byte-identical.
"""

from __future__ import annotations

import math
import pickle

import pytest

from hmm_crf_ner_fromscratch_spark.operators.hmm import decode_hmm, train_hmm
from hmm_crf_ner_fromscratch_spark.sources.conll import (
    read_conll,
    write_conll_local,
)
from conftest import needs_reference


@pytest.fixture(scope="module")
def english_model(spark, english_golden):
    train_df = read_conll(spark, english_golden["train"], doc_id="en_train")
    return train_hmm(train_df)


@needs_reference
def test_model_matches_reference_pickle(english_model, english_golden):
    with open(english_golden["model"], "rb") as f:
        ref = pickle.load(f)
    m = english_model
    assert m.word_to_idx == ref["word_to_idx"]
    assert m.tag_to_idx == ref["tag_to_idx"]
    assert m.tag_counts == ref["tag_counts"]
    assert m.V == ref["V"]
    K = len(ref["tag_to_idx"])
    for j in range(K):
        assert m.pi[j] == ref["pi"][j], f"pi[{j}]"
    for i in range(K):
        for j in range(K):
            assert m.A[i, j] == ref["A"][i][j], f"A[{i}][{j}]"
    # B is K x V; compare exhaustively (fast as numpy vs list comparison)
    import numpy as np

    refB = np.array(ref["B"], dtype=np.float64)
    assert np.array_equal(m.B, refB), "emission matrix mismatch"


@needs_reference
def test_english_decode_bitmatch(spark, english_model, english_golden, tmp_path):
    val_df = read_conll(spark, english_golden["val"], doc_id="en_val", with_tags=False)
    decoded = decode_hmm(val_df, english_model)
    out = tmp_path / "en_pred.txt"
    write_conll_local(decoded, str(out), tag_col="tags_pred")
    ours = out.read_bytes()
    golden = open(english_golden["pred"], "rb").read()
    assert ours == golden, "English validation predictions are not byte-identical"


@needs_reference
def test_chinese_decode_bitmatch(spark, chinese_golden, tmp_path):
    train_df = read_conll(spark, chinese_golden["train"], doc_id="zh_train")
    model = train_hmm(train_df)
    val_df = read_conll(spark, chinese_golden["val"], doc_id="zh_val", with_tags=False)
    decoded = decode_hmm(val_df, model)
    out = tmp_path / "zh_pred.txt"
    write_conll_local(decoded, str(out), tag_col="tags_pred")
    assert out.read_bytes() == open(chinese_golden["pred"], "rb").read()


@needs_reference
def test_unknown_word_emission_quirk(english_model):
    # Q3: unk emission = log(1/(count(t)+V)) per tag (hmm_ner.py:206-210)
    m = english_model
    unk = m.unk_column()
    for j in range(m.K):
        assert unk[j] == math.log(1.0 / (m.tag_counts[j] + m.V))
