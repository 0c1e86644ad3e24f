"""M2/M3 gates: transcript layer determinism + per-turn text equality +
decode-through-transcripts parity + mention assembly vs an independent
pure-Python oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hmm_crf_ner_fromscratch_spark.operators.hmm import decode_hmm, train_hmm
from hmm_crf_ner_fromscratch_spark.operators.mentions import extract_mentions
from hmm_crf_ner_fromscratch_spark.sources.conll import read_conll
from hmm_crf_ner_fromscratch_spark.sources.transcripts import (
    load_eval_sentences,
    salted_turns,
    synth_transcripts,
    tokenize_turns,
)
from conftest import needs_reference


def spans_oracle(tokens, tags, scheme="bio"):
    """Independent single-process span extractor (test oracle)."""
    spans = []
    cur = None
    for i, t in enumerate(tags):
        if t in ("O", ""):
            cur = None
            continue
        p, _, ty = t.partition("-")
        if scheme == "bio":
            cont = p == "I" and cur is not None and cur[2] == ty
        else:
            cont = (
                p in ("M", "E")
                and cur is not None
                and cur[2] == ty
                and cur[3] in ("B", "M")
            )
        if cont:
            cur[1] = i + 1
            cur[3] = p
        else:
            cur = [i, i + 1, ty, p]
            spans.append(cur)
    return [
        (s[0], s[1], s[2], " ".join(tokens[s[0] : s[1]])) for s in spans
    ]


def test_synth_transcripts_deterministic_and_skewed(spark):
    a = synth_transcripts(spark, 2000, seed=42).orderBy("conv_id", "turn_idx").collect()
    b = synth_transcripts(spark, 2000, seed=42).orderBy("conv_id", "turn_idx").collect()
    assert a == b
    assert [f.name for f in synth_transcripts(spark, 10).schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]
    sizes = {}
    for r in a:
        sizes[r.conv_id] = sizes.get(r.conv_id, 0) + 1
    top = max(sizes.values())
    assert top > 3 * (2000 / len(sizes)), "expected long-tail conversation skew"
    # turn_idx dense per conv
    by_conv = {}
    for r in a:
        by_conv.setdefault(r.conv_id, []).append(r.turn_idx)
    for idxs in by_conv.values():
        assert idxs == list(range(len(idxs)))


@needs_reference
def test_eval_slice_text_equality(spark, english_golden):
    sents = load_eval_sentences(english_golden["val"])
    df = synth_transcripts(spark, 500, seed=42, eval_sentences=sents[:300])
    got = (
        df.where(F.col("conv_id").startswith("eval_"))
        .orderBy("conv_id", "turn_idx")
        .select("text")
        .collect()
    )
    assert [r.text for r in got] == sents[:300]


@needs_reference
def test_decode_through_transcript_path_bitmatch(spark, english_golden):
    """Per-turn decode over the salted transcript path must equal the
    reference's per-sentence predictions (tag-sequence identity)."""
    sents = load_eval_sentences(english_golden["val"])
    n = 400
    df = synth_transcripts(spark, 200, seed=7, eval_sentences=sents[:n])
    eval_turns = tokenize_turns(df.where(F.col("conv_id").startswith("eval_")))
    eval_turns = salted_turns(eval_turns, bucket=64)

    model = train_hmm(read_conll(spark, english_golden["train"], doc_id="t"))
    decoded = decode_hmm(eval_turns, model)
    got = {
        (r.conv_id, r.turn_idx): r.tags_pred
        for r in decoded.select("conv_id", "turn_idx", "tags_pred").collect()
    }

    golden = []
    cur = []
    with open(english_golden["pred"], encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                if cur:
                    golden.append(cur)
                    cur = []
                continue
            cur.append(line.split()[-1])
    if cur:
        golden.append(cur)

    for j in range(n):
        key = (f"eval_{j // 250:06d}", j % 250)
        assert got[key] == golden[j], f"turn {j} tag mismatch"


@pytest.mark.parametrize(
    "scheme,tokens,tags",
    [
        ("bio", ["a"], ["B-PER"]),
        ("bio", ["a", "b", "c"], ["I-PER", "I-PER", "O"]),  # orphan I-X
        ("bio", ["a", "b"], ["B-PER", "I-ORG"]),  # type switch
        ("bio", ["a", "b", "c", "d"], ["B-LOC", "B-LOC", "I-LOC", "O"]),
        ("bio", ["a", "b"], ["O", "O"]),
        ("bmes", ["a"], ["S-NAME"]),
        ("bmes", ["a", "b", "c"], ["B-EDU", "M-EDU", "E-EDU"]),
        ("bmes", ["a", "b"], ["E-EDU", "M-EDU"]),  # orphans
        ("bmes", ["a", "b", "c"], ["S-ORG", "M-ORG", "B-ORG"]),  # S can't continue
        ("bmes", ["a", "b", "c", "d"], ["B-TITLE", "E-TITLE", "B-TITLE", "M-TITLE"]),
    ],
)
def test_span_kernel_vs_oracle(scheme, tokens, tags):
    from hmm_crf_ner_fromscratch_spark.functions.mentions import (
        extract_spans_batch,
    )

    rows, starts, ends, types, surfaces = extract_spans_batch(
        [tokens], [tags], scheme=scheme
    )
    got = list(zip(starts.tolist(), ends.tolist(), types, surfaces))
    assert got == spans_oracle(tokens, tags, scheme)


def test_extract_mentions_e2e(spark, english_model):
    """Spark mention table == oracle applied to the same decoded tags."""
    df = synth_transcripts(spark, 100, seed=3, heaps_vocab=0.5)
    turns = tokenize_turns(df)
    decoded = decode_hmm(turns, english_model).persist()

    mentions = extract_mentions(decoded)
    got = {
        (r.conv_id, r.turn_idx, r.span_start, r.span_end, r.entity_type, r.surface)
        for r in mentions.collect()
    }
    want = set()
    for r in decoded.select("conv_id", "turn_idx", "tokens", "tags_pred").collect():
        for s, e, ty, surf in spans_oracle(list(r.tokens), list(r.tags_pred)):
            want.add((r.conv_id, r.turn_idx, s, e, ty, surf))
    decoded.unpersist()
    assert got == want
    assert len(got) > 50


def test_heaps_vocab_growth(spark):
    """heaps_vocab > 0 must make the distinct-token count grow with corpus
    size (sublinearly, Heaps-style), while the default bounded vocabulary
    stays flat; generation stays deterministic."""
    from pyspark.sql import functions as F

    from hmm_crf_ner_fromscratch_spark.sources.transcripts import (
        synth_transcripts,
        tokenize_turns,
    )

    def distinct_tokens(n, heaps):
        tx = synth_transcripts(spark, n, seed=7, heaps_vocab=heaps)
        return (
            tokenize_turns(tx)
            .select(F.explode("tokens").alias("w"))
            .agg(F.countDistinct("w"))
            .first()[0]
        )

    flat_small, flat_big = distinct_tokens(2000, 0.0), distinct_tokens(8000, 0.0)
    heaps_small, heaps_big = distinct_tokens(2000, 2.0), distinct_tokens(8000, 2.0)
    assert flat_big == flat_small  # bounded filler vocabulary
    # 4x corpus with beta=0.7 -> ~2.6x vocabulary; require clear growth
    assert heaps_big > heaps_small * 1.8
    assert heaps_small > flat_small  # entity tokens add vocabulary
    # determinism
    a = synth_transcripts(spark, 3000, seed=7, heaps_vocab=2.0).orderBy(
        "conv_id", "turn_idx"
    ).collect()
    b = synth_transcripts(spark, 3000, seed=7, heaps_vocab=2.0).orderBy(
        "conv_id", "turn_idx"
    ).collect()
    assert a == b
