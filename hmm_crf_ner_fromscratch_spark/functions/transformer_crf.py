"""Transformer-CRF decode layer (W6) ported to NumPy float32.

Scope: **decode-given-weights**. The reference's transformer ENCODER
(embedding / positional encoding / self-attention,
``transformer_ner.py:76-117``) is torch-internal and nondeterministically
initialized (``transformer_ner.py:97-104``), so it is not ported; what is
ported is the CRF layer it feeds -- everything that is deterministic given
per-token emission scores:

* masked batched forward algorithm (logZ), ``transformer_ner.py:147-176``
* gold-path scoring with start/end transitions, ``transformer_ner.py:178-206``
* Viterbi decode with start/end transitions, ``transformer_ner.py:214-274``

Any encoder that yields a (T, K) emission matrix per sequence plugs in
upstream; emissions are an input column, never computed here.

Float discipline (mirrors the proven W2 recipe): all arithmetic float32
(the reference parameters are float32, ``transformer_ner.py:96-99``);
additions keep the reference's left-associative order
(``(prev + transitions) + emissions[t]``); argmax / max are
first-index-wins (``torch.max`` returns the first maximal index, as does
``np.argmax``). Reductions that NumPy would otherwise do pairwise (sum
inside logsumexp) are explicit sequential folds over the tag axis so the
vectorized kernels are bit-identical to the scalar oracle transcription
below -- K is tiny, the fold costs nothing.
"""

from __future__ import annotations

import json
import os

import numpy as np

from .viterbi import decode_by_length


class TransformerCRFParams:
    """CRF-layer parameters: (K, K) transitions + (K,) start/end vectors
    + the tag inventory. Mirrors the reference checkpoint fields
    (``transformer_ner.py:524-543``) minus the torch encoder state."""

    def __init__(
        self,
        transitions: np.ndarray,
        start_transitions: np.ndarray,
        end_transitions: np.ndarray,
        tags: list[str],
    ):
        self.transitions = np.asarray(transitions, dtype=np.float32)
        self.start_transitions = np.asarray(start_transitions, dtype=np.float32)
        self.end_transitions = np.asarray(end_transitions, dtype=np.float32)
        self.tags = list(tags)
        self.K = len(self.tags)
        assert self.transitions.shape == (self.K, self.K)
        assert self.start_transitions.shape == (self.K,)
        assert self.end_transitions.shape == (self.K,)

    def tag_batch(self, emission_lists: list) -> list[list[str]]:
        """Viterbi tags for each (T, K) emission matrix of a batch, one
        :func:`crf_viterbi_batch` per length."""
        i2t = np.array(self.tags, dtype=object)

        def bucket(rows):
            E = np.array([[list(tok) for tok in em] for em in rows], dtype=np.float32)
            return crf_viterbi_batch(E, self)

        return [i2t[p].tolist() for p in decode_by_length(emission_lists, bucket)]

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        np.save(os.path.join(path, "transitions.npy"), self.transitions)
        np.save(os.path.join(path, "start_transitions.npy"), self.start_transitions)
        np.save(os.path.join(path, "end_transitions.npy"), self.end_transitions)
        with open(os.path.join(path, "tags.json"), "w", encoding="utf-8") as f:
            json.dump(self.tags, f)

    @classmethod
    def load(cls, path: str) -> "TransformerCRFParams":
        with open(os.path.join(path, "tags.json"), encoding="utf-8") as f:
            tags = json.load(f)
        return cls(
            transitions=np.load(os.path.join(path, "transitions.npy")),
            start_transitions=np.load(os.path.join(path, "start_transitions.npy")),
            end_transitions=np.load(os.path.join(path, "end_transitions.npy")),
            tags=tags,
        )


def _seq_sum(x: np.ndarray, axis: int) -> np.ndarray:
    """Sequential (left-fold) sum along ``axis`` -- NOT np.sum, whose
    pairwise reduction has a different float rounding order than the
    scalar oracle's sequential loop."""
    parts = np.moveaxis(x, axis, 0)
    acc = parts[0]
    for k in range(1, parts.shape[0]):
        acc = acc + parts[k]
    return acc


def _logsumexp_seq(x: np.ndarray, axis: int) -> np.ndarray:
    """Max-subtracted logsumexp with a sequential exp-sum (float32 in,
    float32 out) -- the algorithm ``torch.logsumexp`` implements, with a
    pinned summation order."""
    m = np.max(x, axis=axis)
    s = _seq_sum(np.exp(x - np.expand_dims(m, axis)), axis=axis)
    return m + np.log(s)


def crf_viterbi_batch(
    E: np.ndarray, params: TransformerCRFParams
) -> np.ndarray:
    """Viterbi decode a batch of same-length sequences
    (``transformer_ner.py:214-274``, vectorized over the batch exactly
    like the HMM ``viterbi_batch``). ``E``: (B, T, K) float32 emissions.
    Returns (B, T) int64 tag indices.

    Per-cell float ops are identical to the reference's per-sequence
    loop: init ``start + E[0]`` (``:238``), recursion
    ``(prev + transitions) + E[t]`` (``:244-247``), termination
    ``last + end`` (``:258``), first-index max everywhere.
    """
    E = np.asarray(E, dtype=np.float32)
    B, T, K = E.shape
    tr = params.transitions
    dp = params.start_transitions[None, :] + E[:, 0, :]
    bp = np.zeros((T, B, K), dtype=np.int64)
    for t in range(1, T):
        scores = (dp[:, :, None] + tr[None, :, :]) + E[:, t, :][:, None, :]
        amax = np.argmax(scores, axis=1)  # first-index over prev tag
        bp[t] = amax
        dp = np.take_along_axis(scores, amax[:, None, :], axis=1)[:, 0, :]
    final = dp + params.end_transitions[None, :]
    paths = np.zeros((B, T), dtype=np.int64)
    paths[:, T - 1] = np.argmax(final, axis=1)
    brng = np.arange(B)
    for t in range(T - 2, -1, -1):
        paths[:, t] = bp[t + 1][brng, paths[:, t + 1]]
    return paths


def crf_forward_batch(
    E: np.ndarray, mask: np.ndarray, params: TransformerCRFParams
) -> np.ndarray:
    """Masked batched forward algorithm (logZ per sequence),
    ``transformer_ner.py:147-176``: frozen forward variables on padded
    positions via the same ``where(mask)`` update. ``E``: (B, T, K)
    float32; ``mask``: (B, T) bool with contiguous True prefixes.
    Returns (B,) float32 logZ.
    """
    E = np.asarray(E, dtype=np.float32)
    B, T, K = E.shape
    tr = params.transitions
    fv = params.start_transitions[None, :] + E[:, 0, :]
    for t in range(1, T):
        x = (fv[:, :, None] + tr[None, :, :]) + E[:, t, :][:, None, :]
        nfv = _logsumexp_seq(x, axis=1)
        fv = np.where(mask[:, t][:, None], nfv, fv)
    terminal = fv + params.end_transitions[None, :]
    return _logsumexp_seq(terminal, axis=1)


def crf_gold_score_batch(
    E: np.ndarray,
    tags: np.ndarray,
    mask: np.ndarray,
    params: TransformerCRFParams,
) -> np.ndarray:
    """Gold-path scores (``transformer_ner.py:178-206``): start transition
    + emissions, masked ``transition + emission`` accumulation, end
    transition at each sequence's last valid position. Returns (B,)
    float32."""
    E = np.asarray(E, dtype=np.float32)
    B, T, K = E.shape
    tags = np.asarray(tags, dtype=np.int64)
    br = np.arange(B)
    score = params.start_transitions[tags[:, 0]] + E[br, 0, tags[:, 0]]
    for t in range(1, T):
        ts = params.transitions[tags[:, t - 1], tags[:, t]]
        es = E[br, t, tags[:, t]]
        score = score + np.where(mask[:, t], ts + es, np.float32(0.0))
    seq_lens = mask.sum(axis=1)
    last = tags[br, seq_lens - 1]
    return score + params.end_transitions[last]


# ---------------------------------------------------------------------
# Scalar float32 oracle transcription (the property-test reference).
# Plain Python loops over np.float32 scalars -- a line-by-line
# re-execution of the reference math, mirroring the W2 recipe
# (functions/crf.py oracle_decode).
# ---------------------------------------------------------------------

def oracle_decode(E: np.ndarray, params: TransformerCRFParams) -> list[int]:
    """Per-sequence Viterbi transcription of ``transformer_ner.py:227-268``.
    ``E``: (T, K) float32."""
    E = np.asarray(E, dtype=np.float32)
    T, K = E.shape
    if T == 0:
        return []
    dp = [params.start_transitions[j] + E[0, j] for j in range(K)]
    bps: list[list[int]] = []
    for t in range(1, T):
        ndp, nbp = [], []
        for j in range(K):
            best_i, best = 0, None
            for i in range(K):
                s = (dp[i] + params.transitions[i, j]) + E[t, j]
                if best is None or s > best:  # strict > = first-index-wins
                    best, best_i = s, i
            ndp.append(best)
            nbp.append(best_i)
        dp = ndp
        bps.append(nbp)
    best_j, best = 0, None
    for j in range(K):
        s = dp[j] + params.end_transitions[j]
        if best is None or s > best:
            best, best_j = s, j
    path = [best_j]
    for nbp in reversed(bps):
        path.append(nbp[path[-1]])
    path.reverse()
    return path


def oracle_forward(E: np.ndarray, params: TransformerCRFParams) -> np.float32:
    """Per-sequence forward transcription of ``transformer_ner.py:147-176``
    (unmasked: a single sequence of its own length), scalar float32 with
    sequential exp-sums."""
    f32 = np.float32
    E = np.asarray(E, dtype=np.float32)
    T, K = E.shape

    def lse(xs):
        m = xs[0]
        for x in xs[1:]:
            if x > m:
                m = x
        acc = f32(0.0)
        for x in xs:
            acc = acc + np.exp(x - m)
        return m + np.log(acc)

    fv = [params.start_transitions[j] + E[0, j] for j in range(K)]
    for t in range(1, T):
        fv = [
            lse([(fv[i] + params.transitions[i, j]) + E[t, j] for i in range(K)])
            for j in range(K)
        ]
    return lse([fv[j] + params.end_transitions[j] for j in range(K)])
