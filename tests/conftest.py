"""Shared fixtures: one SparkSession per test session, a hermetic English
HMM trained on dictionary-tagged synthetic transcripts, plus reference
goldens generated by actually running the (deterministic) reference HMM
implementation at /root/reference -- never copied, always re-derived."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hmm_crf_ner_fromscratch_spark.operators.hmm import train_hmm  # noqa: E402
from hmm_crf_ner_fromscratch_spark.session import get_spark  # noqa: E402
from hmm_crf_ner_fromscratch_spark.sources.transcripts import (  # noqa: E402
    synth_transcripts,
    tokenize_turns,
)

REFERENCE = "/root/reference"
GOLDEN_CACHE = os.path.join(os.path.dirname(__file__), ".golden_cache")

# marks a test that compares against the reference implementation itself
needs_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE),
    reason=f"needs the reference implementation at {REFERENCE}",
)


# dictionary tagger for the hermetic HMM training corpora (synth_transcripts
# filler words); "Street"/"States" are I- tags, so orphan I- spans occur too
DICT = {
    "Germany": "B-LOC", "Russia": "B-LOC", "England": "B-LOC", "Paris": "B-LOC",
    "France": "B-LOC", "Iraq": "B-LOC", "Wall": "B-LOC", "Street": "I-LOC",
    "United": "B-LOC", "States": "I-LOC", "Clinton": "B-PER", "Michael": "B-PER",
    "Reuters": "B-ORG", "U.N.": "B-ORG",
}


def dict_tagged(spark, n_turns: int, seed: int):
    """``train_hmm`` input: synthetic turns tagged by ``DICT``."""

    def tag(w):
        expr = F.lit("O")
        for word, t in DICT.items():
            expr = F.when(w == word, t).otherwise(expr)
        return expr

    corpus = tokenize_turns(synth_transcripts(spark, n_turns, seed=seed))
    return corpus.select(
        F.col("conv_id").alias("doc_id"),
        F.col("turn_idx").cast("long").alias("sent_id"),
        "tokens",
        F.transform("tokens", tag).alias("tags"),
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions="8")
    yield s


@pytest.fixture(scope="session")
def english_model(spark):
    """Hermetic English HMM (no reference corpus needed)."""
    return train_hmm(dict_tagged(spark, 600, seed=13))


def _ensure_reference_hmm(corpus: str) -> dict[str, str]:
    """Run the reference hmm_ner.py train+predict for ``corpus`` (``English``
    or ``Chinese``), caching model + predictions. Returns paths."""
    os.makedirs(GOLDEN_CACHE, exist_ok=True)
    train = os.path.join(REFERENCE, corpus, "train.txt")
    val = os.path.join(REFERENCE, corpus, "validation.txt")
    model = os.path.join(GOLDEN_CACHE, f"hmm_{corpus.lower()}.pkl")
    pred = os.path.join(GOLDEN_CACHE, f"hmm_{corpus.lower()}_val_pred.txt")
    if not os.path.exists(pred):
        subprocess.run(
            [sys.executable, os.path.join(REFERENCE, "hmm_ner.py"), "train",
             "--input", train, "--model", model],
            check=True, capture_output=True,
        )
        subprocess.run(
            [sys.executable, os.path.join(REFERENCE, "hmm_ner.py"), "predict",
             "--model", model, "--input", val, "--output", pred],
            check=True, capture_output=True,
        )
    return {"train": train, "val": val, "model": model, "pred": pred}


@pytest.fixture(scope="session")
def english_golden():
    return _ensure_reference_hmm("English")


@pytest.fixture(scope="session")
def chinese_golden():
    return _ensure_reference_hmm("Chinese")
