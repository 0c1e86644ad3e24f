"""HMM sequence labeler: distributed training + broadcast/vectorized decode.

Training (reference ``hmm_ner.py:9-124``) is re-expressed as DataFrame
aggregations -- every count the reference accumulates in Python dicts is a
``groupBy().count()`` that Catalyst executes as a partial+final hash
aggregate, so training scales to arbitrarily large corpora; only the final
(K + K^2 + K*V)-sized count tables reach the driver, where the log-prob
matrices are assembled with the reference's exact smoothing formulas,
including its quirks (SURVEY.md SS4.1 Q1-Q3):

  Q1: pi entries for tags never sentence-initial stay 0.0 (not -inf).
  Q2: A rows for tags never seen as a predecessor stay all 0.0; any
      computed cell equal to exactly 0.0 is overwritten by the unseen-cell
      backfill ``log(1/(row_total+K))``.
  Q3: unknown-word emission is ``log(1/(count(t)+V))``.

Vocab/tag index order is first-occurrence order over the token stream
(``hmm_ner.py:37-39``) -- this order is semantics: Viterbi tie-breaking is
first-index-wins, so the index assignment must be reproduced exactly.

Decode (reference ``hmm_ner.py:127-268``) is :meth:`HMMModel.tag_batch`,
a length-bucketed NumPy Viterbi, run per Arrow batch by the one labeler
(``operators/labeler.py``). Output bit-matches the reference on both
bundled eval sets.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.viterbi import decode_by_length, viterbi_batch
from .labeler import label

SMOOTHING_FACTOR = 1e-10  # reference hmm_ner.py:7


class HMMModel:
    """Driver-side HMM model artifact (log-space float64 NumPy matrices).

    Mirrors the reference pickle fields (``hmm_ner.py:111-120``) but is
    persisted as .npy matrices + a JSON sidecar instead of a pickle.
    """

    def __init__(
        self,
        pi: np.ndarray,
        A: np.ndarray,
        B: np.ndarray,
        word_to_idx: dict[str, int],
        tag_to_idx: dict[str, int],
        tag_counts: dict[int, int],
    ):
        self.pi = pi
        self.A = A
        self.B = B
        self.word_to_idx = word_to_idx
        self.tag_to_idx = tag_to_idx
        self.idx_to_tag = {i: t for t, i in tag_to_idx.items()}
        self.tag_counts = tag_counts
        self.V = len(word_to_idx)
        self.K = len(tag_to_idx)

    def unk_column(self) -> np.ndarray:
        """Unknown-word emission column (quirk Q3, ``hmm_ner.py:206-210``)."""
        return np.array(
            [
                math.log(1.0 / (self.tag_counts.get(j, 0) + self.V))
                for j in range(self.K)
            ],
            dtype=np.float64,
        )

    def b_extended(self) -> np.ndarray:
        """(K, V+1) emission matrix with the unk column appended, so word
        index -1 (unknown) gathers the correct column via wraparound."""
        return np.concatenate([self.B, self.unk_column()[:, None]], axis=1)

    def tag_batch(self, token_lists: list) -> list[list[str]]:
        """Viterbi tags for each token array of a batch, one (B, T, K) DP
        per length; decode tables are built once and kept on this object."""
        if "_tables" not in self.__dict__:
            i2t = np.array([self.idx_to_tag[i] for i in range(self.K)], dtype=object)
            self._tables = (self.b_extended(), i2t)
        B_ext, i2t = self._tables
        w2i = self.word_to_idx

        def bucket(rows):
            widx = np.array([[w2i.get(w, -1) for w in toks] for toks in rows], dtype=np.int64)
            # (K, B, T) gather -> (B, T, K); index -1 hits the unk column
            return viterbi_batch(B_ext[:, widx].transpose(1, 2, 0), self.pi, self.A)

        return [i2t[p].tolist() for p in decode_by_length(token_lists, bucket)]

    def __getstate__(self):  # a broadcast ships the model, not its tables
        return {k: v for k, v in self.__dict__.items() if k != "_tables"}

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        np.save(os.path.join(path, "pi.npy"), self.pi)
        np.save(os.path.join(path, "A.npy"), self.A)
        np.save(os.path.join(path, "B.npy"), self.B)
        meta = {
            "word_to_idx": self.word_to_idx,
            "tag_to_idx": self.tag_to_idx,
            "tag_counts": {str(k): v for k, v in self.tag_counts.items()},
        }
        with open(os.path.join(path, "meta.json"), "w", encoding="utf-8") as f:
            json.dump(meta, f)

    @classmethod
    def load(cls, path: str) -> "HMMModel":
        with open(os.path.join(path, "meta.json"), encoding="utf-8") as f:
            meta = json.load(f)
        return cls(
            pi=np.load(os.path.join(path, "pi.npy")),
            A=np.load(os.path.join(path, "A.npy")),
            B=np.load(os.path.join(path, "B.npy")),
            word_to_idx=meta["word_to_idx"],
            tag_to_idx=meta["tag_to_idx"],
            tag_counts={int(k): v for k, v in meta["tag_counts"].items()},
        )


def _first_seen(col_pos: str = "pos") -> F.Column:
    """First-occurrence key: lexicographic min over (sent_id, pos)."""
    return F.min(F.struct(F.col("sent_id"), F.col(col_pos))).alias("first_seen")


def train_hmm(sentences: DataFrame, max_model_rows: int = 50_000_000) -> HMMModel:
    """Estimate an HMM from ``DataFrame[doc_id?, sent_id, tokens, tags]``.

    All counting is distributed (hash aggregates with map-side partial
    aggregation); only count tables sized by vocab/tag cardinality are
    collected. Reference semantics: ``hmm_ner.py:9-124``.

    ``max_model_rows`` bounds the driver collect: the model has
    K*V + K + K^2 + V count rows (K*V emission pairs dominate -- V=10M,
    K=9 is ~2.4 GB driver-side per docs/SCALE.md), and an open-vocabulary
    100 TB corpus could push that past driver memory. Rather than OOM
    mid-collect, the count job fetches at most ``max_model_rows + 1``
    rows and raises a sized error when the cap is exceeded -- the fix at
    that scale is vocabulary pruning upstream, not a bigger driver.

    Note: first-occurrence index order is only well defined for a corpus
    with a global sentence order, i.e. a single ``doc_id`` (matching the
    reference's single-file training). Multi-doc corpora are supported but
    order is (doc_id, sent_id, pos) lexicographic.
    """
    from .partitioning import fan_out

    sentences = fan_out(sentences.where(F.size("tokens") > 0))
    order_cols = (
        [F.col("doc_id"), F.col("sent_id")]
        if "doc_id" in sentences.columns
        else [F.col("sent_id")]
    )

    # All five reference count tables (A1-A5) in ONE unified aggregation
    # pass AND one input scan: every sentence expands to a single array of
    # (kind, k1, k2, pos) entries -- w/t/e per token, one i row, tr per
    # adjacent pair -- exploded once into the shared hash aggregate.
    # first_seen only matters for the 'w'/'t' kinds (index order,
    # hmm_ner.py:37-38). Round 7: the previous form unioned five
    # projections of the SAME input, so the scan (and, fanned out, its
    # exchange) was recomputed five times per training pass; the count
    # multiset is identical (zip_with over length-0 slices yields [] for
    # 1-token sentences, matching the old n >= 2 guard).
    def ent(kind, k1, k2, pos):
        return F.struct(
            kind.alias("kind"), k1.alias("k1"), k2.alias("k2"), pos.alias("pos")
        )

    n = F.size("tags")
    empty = F.lit("")
    # one indexed transform emits the w/t/e entries together (3 structs
    # per token, flattened) -- one lambda to compile instead of three;
    # measured ~0.4 s less one-shot codegen per training pass
    wte = F.flatten(
        F.transform(
            "tokens",
            lambda w, i: F.array(
                ent(F.lit("w"), w, empty, i),
                ent(F.lit("t"), F.element_at(F.col("tags"), i + F.lit(1)), empty, i),
                ent(F.lit("e"), F.element_at(F.col("tags"), i + F.lit(1)), w, i),
            ),
        )
    )
    entries = F.concat(
        wte,
        F.array(ent(F.lit("i"), F.element_at("tags", 1), empty, F.lit(0))),
        F.zip_with(
            F.slice("tags", 1, n - 1),
            F.slice(F.col("tags"), F.lit(2), n - 1),
            lambda p, c: ent(F.lit("tr"), p, c, F.lit(0)),
        ),
    )
    # a row whose tags do not align with its tokens adds no entries
    # (element_at past the end of ``tags`` aborts under ANSI). Checked
    # here, above the exchange, not in the ``where``: Catalyst pushes a
    # filter below a computed ``tags`` projection and evaluates it twice.
    entries = F.when(n == F.size("tokens"), entries)
    unified = sentences.select(
        F.struct(*order_cols).alias("sent_id"), F.explode(entries).alias("en")
    ).select(
        F.col("en.kind").alias("kind"),
        F.col("en.k1").alias("k1"),
        F.col("en.k2").alias("k2"),
        "sent_id",
        F.col("en.pos").alias("pos"),
    )
    # limit(cap+1) keeps this a single job: under the cap it returns every
    # row; over it we get cap+1 arbitrary rows and refuse loudly.
    rows = (
        unified.groupBy("kind", "k1", "k2")
        .agg(F.count("*").alias("cnt"), _first_seen())
        .limit(max_model_rows + 1)
        .collect()
    )
    if len(rows) > max_model_rows:
        raise ValueError(
            f"HMM model exceeds max_model_rows={max_model_rows}: the corpus has "
            "more distinct (tag, word) / transition rows than the driver-side "
            "model budget allows. Prune the vocabulary (e.g. min-frequency "
            "filter on tokens) or raise max_model_rows explicitly."
        )
    word_rows = [r for r in rows if r.kind == "w"]
    tag_rows = [r for r in rows if r.kind == "t"]
    init_rows = [r for r in rows if r.kind == "i"]
    trans_rows = [r for r in rows if r.kind == "tr"]
    emit_rows = [r for r in rows if r.kind == "e"]
    # every non-empty sentence contributes exactly one 'i' row, so the
    # sentence total falls out of the unified agg -- no second scan job
    total_sentences = sum(r.cnt for r in init_rows)

    # ---- driver-side model assembly (A7), exact reference formulas ----
    word_order = sorted(word_rows, key=lambda r: (r.first_seen[0], r.first_seen[1]))
    tag_order = sorted(tag_rows, key=lambda r: (r.first_seen[0], r.first_seen[1]))
    word_to_idx = {r.k1: i for i, r in enumerate(word_order)}
    tag_to_idx = {r.k1: i for i, r in enumerate(tag_order)}
    tag_counts = {tag_to_idx[r.k1]: r.cnt for r in tag_order}
    V = len(word_to_idx)
    K = len(tag_to_idx)
    if total_sentences == 0 or K == 0 or V == 0:
        raise ValueError("training data is empty (reference hmm_ner.py:60-70)")

    # pi -- quirk Q1: unobserved initial tags stay exactly 0.0.
    pi = np.zeros(K, dtype=np.float64)
    for r in init_rows:
        pi[tag_to_idx[r.k1]] = math.log(
            (r.cnt + SMOOTHING_FACTOR) / (total_sentences + K * SMOOTHING_FACTOR)
        )

    # A -- quirk Q2: only rows with observed predecessors are filled; cells
    # still exactly 0.0 after the observed pass get the unseen backfill.
    A = np.zeros((K, K), dtype=np.float64)
    row_totals: dict[int, int] = {}
    for r in trans_rows:
        row_totals[tag_to_idx[r.k1]] = row_totals.get(tag_to_idx[r.k1], 0) + r.cnt
    for r in trans_rows:
        i, j = tag_to_idx[r.k1], tag_to_idx[r.k2]
        A[i, j] = math.log((r.cnt + 1) / (row_totals[i] + K))
    for i, total in row_totals.items():
        backfill = math.log(1 / (total + K))
        A[i, A[i] == 0.0] = backfill

    # B -- dense K x V add-1 smoothing (hmm_ner.py:89-109). math.log, not
    # np.log: numpy's SIMD log differs from libm by 1 ulp on ~4% of inputs,
    # which breaks the bit-match contract. Unobserved (tag, word) cells all
    # share the per-row value log(1/(count(t)+V)), so only observed pairs
    # (bounded by corpus, not K*V) need individual log calls.
    B = np.empty((K, V), dtype=np.float64)
    for j in range(K):
        B[j, :] = math.log(1.0 / (tag_counts[j] + V))
    for r in emit_rows:
        i = tag_to_idx[r.k1]
        B[i, word_to_idx[r.k2]] = math.log((r.cnt + 1.0) / (tag_counts[i] + V))

    return HMMModel(pi, A, B, word_to_idx, tag_to_idx, tag_counts)


def decode_hmm(
    sentences: DataFrame,
    model: HMMModel,
    token_col: str = "tokens",
    out_col: str = "tags_pred",
) -> DataFrame:
    """Viterbi-decode every row's token array; appends ``out_col``
    (:meth:`HMMModel.tag_batch` via ``label``)."""
    return label(sentences, model, token_col=token_col, tag_col=out_col)
