"""Vectorized HMM Viterbi decode kernels (NumPy, float64).

Bit-match contract with the reference decoder (``hmm_ner.py:165-268``),
proven experimentally on both bundled eval sets (SURVEY.md SS7.2):

  * emission for known word w at tag j:  ``B[j, w]``; for unknown word:
    ``log(1 / (tag_counts.get(j, 0) + V))`` (``hmm_ner.py:206-210``).
  * recursion keeps the reference's left-associative float order:
    ``(dp[i] + A[i, j]) + e`` (``hmm_ner.py:246``).
  * all argmaxes are first-index-wins (reference uses strict ``>``,
    ``hmm_ner.py:247,258``; ``np.argmax`` matches).

Two kernels: a per-sentence reference-shaped one (used as an internal
oracle in tests) and the batched one used in production, which decodes all
same-length sentences of an Arrow batch simultaneously with dp of shape
(batch, K) -- the throughput lever borrowed from the reference's batched
transformer CRF formulation (``transformer_ner.py:147-176``).
"""

from __future__ import annotations

import numpy as np


def viterbi_single(E: np.ndarray, pi: np.ndarray, A: np.ndarray) -> np.ndarray:
    """Decode one sentence. ``E``: (T, K) per-token emission log-probs.

    Returns int array (T,) of tag indices.
    """
    T, K = E.shape
    bp = np.zeros((T, K), dtype=np.int64)
    dp = pi + E[0]
    for t in range(1, T):
        scores = (dp[:, None] + A) + E[t][None, :]
        bp[t] = np.argmax(scores, axis=0)
        dp = scores[bp[t], np.arange(K)]
    path = np.zeros(T, dtype=np.int64)
    path[T - 1] = int(np.argmax(dp))
    for t in range(T - 2, -1, -1):
        path[t] = bp[t + 1][path[t + 1]]
    return path


def viterbi_batch(E: np.ndarray, pi: np.ndarray, A: np.ndarray) -> np.ndarray:
    """Decode a batch of same-length sentences simultaneously.

    ``E``: (B, T, K) emission log-probs. Returns (B, T) int tag indices.
    Element-wise float ops are identical to :func:`viterbi_single`
    (same left-assoc adds, first-index argmax), so results bit-match.
    """
    B, T, K = E.shape
    bp = np.zeros((T, B, K), dtype=np.int64)
    dp = pi[None, :] + E[:, 0, :]  # (B, K)
    rng = np.arange(K)
    for t in range(1, T):
        # (B, K, 1) + (K, K) -> (B, K_prev, K_cur), then + E[:, t, None, :]
        scores = (dp[:, :, None] + A[None, :, :]) + E[:, t, :][:, None, :]
        amax = np.argmax(scores, axis=1)  # (B, K) first-index-wins
        bp[t] = amax
        dp = np.take_along_axis(scores, amax[:, None, :], axis=1)[:, 0, :]
    paths = np.zeros((B, T), dtype=np.int64)
    paths[:, T - 1] = np.argmax(dp, axis=1)
    brng = np.arange(B)
    for t in range(T - 2, -1, -1):
        paths[:, t] = bp[t + 1][brng, paths[:, t + 1]]
    return paths


_EMPTY_PATH = np.empty(0, dtype=np.int64)


def decode_by_length(seqs: list, decode_bucket) -> list:
    """Decode variable-length sequences one length bucket at a time.

    ``decode_bucket(rows)`` receives the rows sharing one length T >= 1
    and returns their (B, T) tag-index paths, so each bucket runs as a
    single vectorized DP. Returns one index path per input row, in input
    order; a length-0 row gets an empty path.
    """
    lengths = np.array([len(s) for s in seqs], dtype=np.int64)
    out: list = [_EMPTY_PATH] * len(seqs)
    for T in np.unique(lengths):
        if T == 0:
            continue
        idxs = np.flatnonzero(lengths == T)
        paths = decode_bucket([seqs[i] for i in idxs])
        for row, i in enumerate(idxs):
            out[i] = paths[row]
    return out
