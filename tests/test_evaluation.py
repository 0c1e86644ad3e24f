"""A9 evaluation operator vs an independent counter oracle on the
reference's bundled 104-line example pair, plus TF-IDF link scoring."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from hmm_crf_ner_fromscratch_spark.operators.evaluation import evaluate_tagging
from hmm_crf_ner_fromscratch_spark.operators.linking import (
    candidate_entities,
    tfidf_link_scores,
)
from hmm_crf_ner_fromscratch_spark.sources.conll import read_conll
from conftest import needs_reference

GOLD = "/root/reference/example_data/example_gold_result.txt"
PRED = "/root/reference/example_data/example_my_result.txt"


@needs_reference
def test_evaluate_tagging_on_reference_example(spark):
    gold = read_conll(spark, GOLD, doc_id="ex")
    pred = read_conll(spark, PRED, doc_id="ex").withColumnRenamed("tags", "tags_pred")
    got = {r.label: r for r in evaluate_tagging(gold, pred).collect()}

    # independent oracle: plain counters over the two files
    def tags_of(path):
        out = []
        for line in open(path, encoding="utf-8"):
            line = line.strip()
            if line:
                out.append(line.split()[-1])
        return out

    g, p = tags_of(GOLD), tags_of(PRED)
    assert len(g) == len(p)
    tp, fp, fn = Counter(), Counter(), Counter()
    for gt, pt in zip(g, p):
        if gt != "O":
            (tp if gt == pt else fn)[gt] += 1
        if pt != "O" and pt != gt:
            fp[pt] += 1
    labels = set(tp) | set(fp) | set(fn)
    for lab in labels:
        r = got[lab]
        assert (r.tp, r.fp, r.fn) == (tp[lab], fp[lab], fn[lab]), lab
        want_p = tp[lab] / max(tp[lab] + fp[lab], 1)
        want_r = tp[lab] / max(tp[lab] + fn[lab], 1)
        assert abs(r.precision - want_p) < 1e-12
        assert abs(r.recall - want_r) < 1e-12
    # micro over entity labels
    TP, FP, FN = sum(tp.values()), sum(fp.values()), sum(fn.values())
    micro = got["micro_avg"]
    assert (micro.tp, micro.fp, micro.fn) == (TP, FP, FN)
    assert abs(micro.precision - TP / (TP + FP)) < 1e-12
    # the example pair differs only in two B-ORG -> B-PER flips
    assert got["B-ORG"].fn == 2 and got["B-PER"].fp == 2


@needs_reference
def test_classification_report_on_reference_example(spark):
    """check.py:38-40 parity: classification_report(labels=sort_labels[1:])
    over the bundled example pair, verified against a from-scratch
    transcription of the sklearn fixed-label-list formulas (sklearn is
    not installed here; the formulas are pinned in the operator docstring).
    The English label list includes tags absent from the 104-line example
    (e.g. I-PER), exercising the zero-support-in-macro semantics."""
    from hmm_crf_ner_fromscratch_spark.operators.evaluation import (
        classification_report,
    )

    labels = [  # check.py sorted_labels_eng[1:]
        "B-PER", "I-PER", "B-ORG", "I-ORG", "B-LOC", "I-LOC", "B-MISC", "I-MISC",
    ]
    gold = read_conll(spark, GOLD, doc_id="ex")
    pred = read_conll(spark, PRED, doc_id="ex").withColumnRenamed("tags", "tags_pred")
    got = {r.label: r for r in classification_report(gold, pred, labels).collect()}
    assert [got[l].label_idx for l in labels] == list(range(len(labels)))

    def tags_of(path):
        return [
            line.strip().split()[-1]
            for line in open(path, encoding="utf-8")
            if line.strip()
        ]

    g, p = tags_of(GOLD), tags_of(PRED)
    tp, fp, fn = Counter(), Counter(), Counter()
    for gt, pt in zip(g, p):
        if gt in labels:
            (tp if gt == pt else fn)[gt] += 1
        if pt in labels and pt != gt:
            fp[pt] += 1

    def prf(t, P, N):  # sklearn zero_division -> 0
        prec = t / (t + P) if t + P else 0.0
        rec = t / (t + N) if t + N else 0.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        return prec, rec, f1

    per = {l: prf(tp[l], fp[l], fn[l]) for l in labels}
    for l in labels:
        r = got[l]
        assert r.support == tp[l] + fn[l], l
        assert abs(r.precision - per[l][0]) < 1e-12, l
        assert abs(r.recall - per[l][1]) < 1e-12, l
        assert abs(r.f1 - per[l][2]) < 1e-12, l

    TP, FP, FN = sum(tp.values()), sum(fp.values()), sum(fn.values())
    mp, mr, mf = prf(TP, FP, FN)
    assert abs(got["micro_avg"].precision - mp) < 1e-12
    assert abs(got["micro_avg"].f1 - mf) < 1e-12
    n = len(labels)
    # macro: mean over ALL listed labels, zero-support ones included
    assert abs(got["macro_avg"].precision - sum(per[l][0] for l in labels) / n) < 1e-12
    assert abs(got["macro_avg"].f1 - sum(per[l][2] for l in labels) / n) < 1e-12
    tot = sum(tp[l] + fn[l] for l in labels)
    assert got["weighted_avg"].support == tot
    assert (
        abs(
            got["weighted_avg"].f1
            - sum((tp[l] + fn[l]) * per[l][2] for l in labels) / max(tot, 1)
        )
        < 1e-12
    )
    # at least one listed label must have zero support in the example
    assert any(got[l].support == 0 for l in labels)


def test_tfidf_link_scores(spark):
    rows = [
        ("c", 0, "user", None, 0, 2, "ORG", "Barnett Banks Inc."),
        ("c", 1, "user", None, 0, 2, "ORG", "Barnett Banks"),
        ("c", 2, "user", None, 0, 1, "ORG", "Barclays Capital"),
        ("c", 3, "user", None, 0, 1, "ORG", "Barxx Totally Other"),
    ]
    m = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, tool string, "
        "span_start int, span_end int, entity_type string, surface string",
    )
    scored = tfidf_link_scores(candidate_entities(m), threshold=0.0).collect()
    s = {
        (min(r.src_key, r.dst_key), max(r.src_key, r.dst_key)): r.score
        for r in scored
    }
    near = s[("ORG|Barnett Banks", "ORG|Barnett Banks Inc.")]
    far = s.get(("ORG|Barclays Capital", "ORG|Barnett Banks"), 0.0)
    # tiny-corpus IDF discounts the shared 'bar' grams; 0.6 is the bound
    assert near > 0.6
    assert near > far
    for score in s.values():
        assert -1e-9 <= score <= 1.0 + 1e-9

@needs_reference
def test_check_cli_reference_prompt_flow(tmp_path):
    """tools/check_cli.py: the reference's interactive prompt flow
    (check.py:44-67 -- prompt strings, retry-on-invalid loops, banner)
    over the bundled example pair, rendering the Spark report in
    sklearn's text layout. Metric VALUES are parity-tested above; this
    pins the CLI surface."""
    import os
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    (tmp_path / "English").mkdir()
    shutil.copy(GOLD, tmp_path / "English" / "validation.txt")
    shutil.copy(PRED, tmp_path / "English" / "validation_2.txt")
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "check_cli.py"),
         "--root", str(tmp_path)],
        input="9\n2\nx\nv\nq\ne\n",
        capture_output=True, text=True, timeout=400,
    ).stdout
    assert "Invalid model. Please choose 1, 2, 3." in out
    assert "Invalid dataset. Please choose t, v or test." in out
    assert "Invalid language. Please choose e or c." in out
    assert (
        "--------------------------------Test Model 2"
        "--------------------------------" in out
    )
    assert "English Validation Set:" in out
    assert "precision    recall  f1-score   support" in out
    for row in ("B-PER ", "micro avg", "macro avg", "weighted avg"):
        assert row in out
    # 4-digit metric cells, sklearn-style right alignment
    import re

    assert re.search(r"B-PER\s+\d\.\d{4}\s+\d\.\d{4}\s+\d\.\d{4}\s+\d+", out)
