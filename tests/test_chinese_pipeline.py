"""Chinese (BMES) end-to-end: transcripts -> decode -> BMES mention
assembly -> triples through the checkpointed pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from hmm_crf_ner_fromscratch_spark.operators.hmm import train_hmm
from hmm_crf_ner_fromscratch_spark.plans.incremental import IncrementalKGPipeline
from hmm_crf_ner_fromscratch_spark.sources.conll import read_conll
from hmm_crf_ner_fromscratch_spark.sources.transcripts import (
    load_eval_sentences,
    synth_transcripts,
)
from tests.test_transcripts_mentions import spans_oracle
from conftest import needs_reference


@needs_reference
def test_chinese_bmes_pipeline(spark, chinese_golden, tmp_path):
    sents = load_eval_sentences(chinese_golden["val"])[:200]
    tx = synth_transcripts(spark, 20, seed=17, eval_sentences=sents)
    model = train_hmm(read_conll(spark, chinese_golden["train"], doc_id="zh"))

    pipe = IncrementalKGPipeline(
        spark, str(tmp_path / "kg"), model, scheme="bmes", salt_bucket=64
    )
    res = pipe.run(tx)
    assert res.executed[-1] == "edges"

    # mentions equal the independent oracle applied to golden tags
    golden_tags = []
    cur = []
    with open(chinese_golden["pred"], encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                if cur:
                    golden_tags.append(cur)
                    cur = []
                continue
            cur.append(line.split()[-1])
    if cur:
        golden_tags.append(cur)

    want = set()
    for j, sent in enumerate(sents):
        conv, turn = f"eval_{j // 250:06d}", j % 250
        for s, e, ty, surf in spans_oracle(sent.split(), golden_tags[j], scheme="bmes"):
            want.add((conv, turn, s, e, ty, surf))
    got = {
        (r.conv_id, r.turn_idx, r.span_start, r.span_end, r.entity_type, r.surface)
        for r in pipe.io.read("mentions")
        .where(F.col("conv_id").startswith("eval_"))
        .collect()
    }
    assert got == want
    assert len(want) > 100

    # Chinese relation rules produce typed triples
    preds = {r.pred for r in pipe.io.read("triples").collect()}
    assert preds & {"holds_title", "affiliated_with", "educated_as", "works_in"}
