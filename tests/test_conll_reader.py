"""CoNLL reader edge paths: multi-file directories (per-file sentence
windows) and blank-line handling."""

from __future__ import annotations

from hmm_crf_ner_fromscratch_spark.sources.conll import read_conll
from conftest import needs_reference


@needs_reference
def test_read_conll_directory_per_file_windows(spark, tmp_path, english_golden):
    # split the train file into two parts at a sentence boundary
    text = open(english_golden["train"], encoding="utf-8").read()
    sents = [s for s in text.split("\n\n") if s.strip()]
    half = len(sents) // 2
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "part_a.txt").write_text("\n\n".join(sents[:half]) + "\n\n", encoding="utf-8")
    (d / "part_b.txt").write_text("\n\n".join(sents[half:]) + "\n\n", encoding="utf-8")

    df = read_conll(spark, str(d))
    rows = df.collect()
    assert len(rows) == len(sents)
    # per-file sent_id is dense from 0
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.sent_id)
    assert len(by_doc) == 2
    for ids in by_doc.values():
        assert sorted(ids) == list(range(len(ids)))
    # token content round-trips for the first sentence of each file
    first_a = sorted((r for r in rows if "part_a" in r.doc_id), key=lambda r: r.sent_id)[0]
    want = [line.split()[0] for line in sents[0].splitlines() if line.strip()]
    assert list(first_a.tokens) == want


def test_read_conll_consecutive_blank_lines(spark, tmp_path):
    p = tmp_path / "x.txt"
    p.write_text("a B-X\n\n\n\nb O\nc O\n\n", encoding="utf-8")
    rows = sorted(read_conll(spark, str(p)).collect(), key=lambda r: r.sent_id)
    assert [list(r.tokens) for r in rows] == [["a"], ["b", "c"]]
    assert [r.sent_id for r in rows] == [0, 1]


def test_write_conll_local_transformer(spark, tmp_path):
    """transformer_ner.py:607-631 writer semantics: <PAD> emits as O,
    tokens beyond the prediction range emit as O, and the blank line
    separates sentences only (no trailing blank)."""
    from hmm_crf_ner_fromscratch_spark.sources.conll import (
        write_conll_local_transformer,
    )

    rows = [
        (0, ["a", "b", "c"], ["B-X", "<PAD>", "I-X"]),
        (1, ["d", "e"], ["B-Y"]),  # prediction shorter than sentence
        (2, ["f"], ["O"]),
    ]
    df = spark.createDataFrame(
        rows, "sent_id long, tokens array<string>, tags array<string>"
    )
    out = str(tmp_path / "t.txt")
    write_conll_local_transformer(df, out)
    want = "a B-X\nb O\nc I-X\n\nd B-Y\ne O\n\nf O\n"
    assert open(out, encoding="utf-8").read() == want
    # max_seq_len truncation: everything past the cap is O
    write_conll_local_transformer(df, out, max_seq_len=1)
    want2 = "a B-X\nb O\nc O\n\nd B-Y\ne O\n\nf O\n"
    assert open(out, encoding="utf-8").read() == want2
