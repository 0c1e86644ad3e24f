"""Linear-chain CRF with CRF++-style feature templates: model structures,
vectorized float32 Viterbi decode, and a pure-Python oracle decoder.

Semantics reproduced from the reference (``crf_ner.py``), re-expressed --
not transcribed -- for NumPy + Spark:

* 21 hardcoded templates (``crf_ner.py:16-40``): 10 unigram rules
  U00..U09, 10 observation-dependent bigram rules B00..B09 (same offset
  specs), one pure transition rule "B".
* feature keys (``crf_ner.py:133-147``): ``"{prefix}:{obs}_{tag}"`` for U,
  ``"{prefix}:{obs}_{prev}_{cur}"`` for B_obs, ``"B:{prev}_{cur}"`` for
  B_pure; obs = words at the rule's offsets joined by "/", out-of-range
  offsets read "BOS"/"EOS" (``crf_ner.py:120-128``).
* decode DP (``crf_ner.py:371-512``): potentials[k,j] = sum of B_obs rule
  weights (in template order) + B_pure[k,j], then + U_vec[j]; explicit
  START features at t=0 and STOP transition at termination; ``torch.max``
  = first-index argmax; float32 arithmetic throughout (weights are float32,
  ``crf_ner.py:602``). Our accumulation follows the same per-cell order,
  so results are bit-identical to a float32 re-execution of the reference.
* determinism fix (SURVEY SS1.3): the reference's tag order comes from
  ``list(tag_set)`` (unstable); we pin first-occurrence order.

The model keeps a *structured* registry (feature -> (rule, obs, prev,
cur, tag) fields) rather than only the flat string dict, so decode-time
lookups are prebuilt into per-(rule, obs) weight vectors / sparse blocks
without re-parsing key strings.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

START_TAG = "<START>"
STOP_TAG = "<STOP>"

# (prefix, offsets) in template order -- crf_ner.py:16-40
U_TEMPLATES: list[tuple[str, tuple[int, ...]]] = [
    ("U00", (-2,)), ("U01", (-1,)), ("U02", (0,)), ("U03", (1,)), ("U04", (2,)),
    ("U05", (-2, -1)), ("U06", (-1, 0)), ("U07", (-1, 1)), ("U08", (0, 1)),
    ("U09", (1, 2)),
]
B_TEMPLATES: list[tuple[str, tuple[int, ...]]] = [
    ("B00", (-2,)), ("B01", (-1,)), ("B02", (0,)), ("B03", (1,)), ("B04", (2,)),
    ("B05", (-2, -1)), ("B06", (-1, 0)), ("B07", (-1, 1)), ("B08", (0, 1)),
    ("B09", (1, 2)),
]


# ---------------------------------------------------------------------
# Observation transforms (extended templates). The reference's templates
# are purely lexical (identity transform "w"); the extended set adds the
# standard NER generalization features -- word shape, lowercase, and
# character prefixes/suffixes -- which fire on UNSEEN words too. Each
# transform is one Python function used by BOTH the Spark registry build
# (via a vectorized pandas UDF) and the decode/train kernels, so feature
# keys agree everywhere by construction.
# ---------------------------------------------------------------------

def word_shape(w: str) -> str:
    """Collapsed word shape: uppercase run -> X, lowercase -> x,
    digit -> d, other chars kept; consecutive duplicates collapsed
    ("McDonald's" -> "XxXx'x", "1984" -> "d")."""
    out: list[str] = []
    last = ""
    for ch in w:
        c = "X" if ch.isupper() else "x" if ch.islower() else "d" if ch.isdigit() else ch
        if c != last:
            out.append(c)
            last = c
    return "".join(out)


# Process-global word -> cluster-bitstring maps for the ``cluster:NAME``
# xform. The maps travel WITH the model (CRFModel.cluster_maps) and are
# (re)registered by DecodeTables/_TrainTables init in each worker
# process, so kernel-built and Spark-built feature keys agree.
CLUSTER_MAPS: dict[str, dict[str, str]] = {}


def register_cluster_maps(maps: dict[str, dict[str, str]] | None) -> None:
    if maps:
        CLUSTER_MAPS.update(maps)


def apply_xform(word: str, xform: str) -> str:
    if xform == "w":
        return word
    if xform == "shape":
        return word_shape(word)
    if xform == "lower":
        return word.lower()
    if xform.startswith("pre"):
        return word[: int(xform[3:])]
    if xform.startswith("suf"):
        return word[-int(xform[3:]):]
    if xform.startswith("cluster:"):
        # BOS/EOS padding stays itself (boundary info beats a shared
        # <unk> bucket); out-of-vocabulary words share one <unk> class.
        if word in ("BOS", "EOS"):
            return word
        m = CLUSTER_MAPS.get(xform[8:])
        if m is None:
            raise ValueError(
                f"cluster map {xform[8:]!r} not registered -- decode/train "
                "with a model whose cluster_maps carries it"
            )
        return m.get(word, "<unk>")
    raise ValueError(f"unknown xform {xform!r}")


def normalize_templates(tpls) -> list[tuple[str, tuple[int, ...], str]]:
    """Accept (prefix, offsets) 2-tuples (identity transform) or
    (prefix, offsets, xform) 3-tuples; return normalized 3-tuples."""
    out = []
    for t in tpls:
        if len(t) == 2:
            out.append((t[0], tuple(t[1]), "w"))
        else:
            out.append((t[0], tuple(t[1]), t[2]))
    return out


# Extended unigram template set: the 10 reference rules plus shape /
# lowercase / prefix / suffix generalization rules. Bigram templates stay
# the reference set (observation-bigram features over transforms explode
# the feature space for little gain).
EXTENDED_U_TEMPLATES: list[tuple[str, tuple[int, ...], str]] = (
    normalize_templates(U_TEMPLATES)
    + [
        ("US1", (-1,), "shape"), ("US2", (0,), "shape"), ("US3", (1,), "shape"),
        ("US4", (-1, 0), "shape"), ("US5", (0, 1), "shape"),
        ("UL0", (0,), "lower"),
        ("UP2", (0,), "pre2"), ("UP3", (0,), "pre3"), ("UP4", (0,), "pre4"),
        ("UX2", (0,), "suf2"), ("UX3", (0,), "suf3"), ("UX4", (0,), "suf4"),
    ]
)


def cluster_u_templates(
    map_names: tuple[str, ...] = ("c4", "c6", "c10"),
    include_bigrams: bool = True,
) -> list[tuple[str, tuple[int, ...], str]]:
    """EXTENDED_U_TEMPLATES plus Brown-cluster features at several
    hierarchy granularities (the Koo/Turian recipe: cluster-id unigrams
    over a -1..+1 window per prefix length, optionally plus local
    bigrams at the coarsest level -- bigrams add a large sparse cross
    product; measured to destabilize full-batch Adagrad on CoNLL, see
    BENCH/BASELINE.md quality runs). ``map_names`` must match keys of
    the model's cluster_maps."""
    tpls = list(EXTENDED_U_TEMPLATES)
    for name in map_names:
        xf = f"cluster:{name}"
        tpls += [
            (f"UK{name}a", (-1,), xf),
            (f"UK{name}b", (0,), xf),
            (f"UK{name}c", (1,), xf),
        ]
    if include_bigrams:
        tpls.append((f"UK{map_names[0]}d", (-1, 0), f"cluster:{map_names[0]}"))
        tpls.append((f"UK{map_names[0]}e", (0, 1), f"cluster:{map_names[0]}"))
    return tpls


def gazetteer_u_templates(
    base=None, map_name: str = "gaz"
) -> list[tuple[str, tuple[int, ...], str]]:
    """A template set plus gazetteer-membership features: the ``gaz``
    model-carried map (operators/crf.py::mine_gazetteer) sends each word
    to the '|'-joined set of entity types whose gold training spans
    contain it ('<unk>' otherwise), and these rules fire on that class at
    a -1..+1 window plus the two local bigrams (boundary evidence: an
    entity word FOLLOWED by a non-member is where spans end). Same
    mechanism as cluster features, so decode stays self-contained.
    ``base`` defaults to cluster_u_templates() -- the round-3 quality
    config this stacks on."""
    tpls = list(base if base is not None else cluster_u_templates())
    xf = f"cluster:{map_name}"
    tpls += [
        ("UGa", (-1,), xf), ("UGb", (0,), xf), ("UGc", (1,), xf),
        ("UGd", (-1, 0), xf), ("UGe", (0, 1), xf),
    ]
    return tpls


def word_at(words: list[str], idx: int) -> str:
    """BOS/EOS-padded positional read (crf_ner.py:120-128)."""
    if 0 <= idx < len(words):
        return words[idx]
    return "BOS" if idx < 0 else "EOS"


def obs_string(
    words: list[str], pos: int, offsets: tuple[int, ...], xform: str = "w"
) -> str:
    if xform == "w":
        return "/".join(word_at(words, pos + o) for o in offsets)
    return "/".join(apply_xform(word_at(words, pos + o), xform) for o in offsets)


@dataclass
class CRFModel:
    """Driver-side CRF artifact.

    ``features`` is the structured registry: parallel lists over feature id
    of (kind, rule_idx, obs, prev_tag, cur_tag); kind 'U' uses (rule, obs,
    cur), 'BO' uses (rule, obs, prev, cur), 'BP' uses (prev, cur).
    ``weights`` is float32 (crf_ner.py:602).
    """

    tags: list[str]  # actual tags, pinned first-occurrence order
    feature_index: dict[str, int]
    kinds: list[str]
    rule_idxs: list[int]
    obss: list[str]
    prevs: list[str]
    curs: list[str]
    weights: np.ndarray = field(default=None)
    # template sets (normalized 3-tuples); default = the reference's 21
    # hardcoded templates. The extended quality mode passes
    # EXTENDED_U_TEMPLATES at registry-build time.
    u_templates: list = None
    b_templates: list = None
    # word -> cluster-bitstring maps backing any ``cluster:NAME`` xform in
    # the templates (Brown-style classes from operators/clusters.py);
    # carried by the model so decode is self-contained.
    cluster_maps: dict = None

    def __post_init__(self):
        if self.weights is None:
            self.weights = np.zeros(len(self.feature_index), dtype=np.float32)
        self.weights = np.asarray(self.weights, dtype=np.float32)
        self.u_templates = normalize_templates(self.u_templates or U_TEMPLATES)
        self.b_templates = normalize_templates(self.b_templates or B_TEMPLATES)
        register_cluster_maps(self.cluster_maps)

    @property
    def n_features(self) -> int:
        return len(self.feature_index)

    def tag_batch(self, token_lists: list) -> list[list[str]]:
        """Viterbi tags for each token array of a batch. DecodeTables are
        built once and kept on this object until ``weights`` is replaced;
        a broadcast ships only the compact model (tables dwarf it)."""
        memo = self.__dict__.get("_tables")
        if memo is None or memo[0] is not self.weights:
            memo = self._tables = (self.weights, DecodeTables(self))
        return viterbi_decode_crf_batch([list(t) for t in token_lists], memo[1])

    def __getstate__(self):
        return {k: v for k, v in self.__dict__.items() if k != "_tables"}

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        np.save(os.path.join(path, "weights.npy"), self.weights)
        meta = {
            "tags": self.tags,
            "feature_index": self.feature_index,
            "kinds": self.kinds,
            "rule_idxs": self.rule_idxs,
            "obss": self.obss,
            "prevs": self.prevs,
            "curs": self.curs,
            "u_templates": [[p, list(o), x] for p, o, x in self.u_templates],
            "b_templates": [[p, list(o), x] for p, o, x in self.b_templates],
        }
        if self.cluster_maps:
            meta["cluster_maps"] = self.cluster_maps
        with open(os.path.join(path, "meta.json"), "w", encoding="utf-8") as f:
            json.dump(meta, f)

    @classmethod
    def load(cls, path: str) -> "CRFModel":
        with open(os.path.join(path, "meta.json"), encoding="utf-8") as f:
            meta = json.load(f)
        return cls(weights=np.load(os.path.join(path, "weights.npy")), **meta)


def build_feature_key(
    kind, rule_idx, obs, prev, cur, u_templates=None, b_templates=None
) -> str:
    """Reference-format flat key (crf_ner.py:133-147)."""
    if kind == "U":
        return f"{(u_templates or U_TEMPLATES)[rule_idx][0]}:{obs}_{cur}"
    if kind == "BO":
        return f"{(b_templates or B_TEMPLATES)[rule_idx][0]}:{obs}_{prev}_{cur}"
    return f"B:{prev}_{cur}"


class DecodeTables:
    """Per-(rule, obs) lookup tables prebuilt from a CRFModel for fast
    vectorized decode; mirrors the reference's accumulation structure."""

    def __init__(self, model: CRFModel):
        # broadcast unpickle does not re-run __post_init__, so worker
        # processes (re)register the model's cluster maps here
        register_cluster_maps(model.cluster_maps)
        K = len(model.tags)
        self.K = K
        self.tags = model.tags
        self.u_templates = model.u_templates
        self.b_templates = model.b_templates
        tag_idx = {t: i for i, t in enumerate(model.tags)}
        w = model.weights

        # U: (rule, obs) -> float32 vector over actual tags; STOP handled
        # as a separate scalar map (rule, obs) -> w.
        self.u_vec: dict[tuple[int, str], np.ndarray] = {}
        self.u_stop: dict[tuple[int, str], np.float32] = {}
        # B_obs: (rule, obs) -> list of (prev_idx, cur_idx, w) arrays over
        # actual x actual; START-row and STOP-column kept separately.
        self.bo_cells: dict[tuple[int, str], list] = {}
        self.bo_start: dict[tuple[int, str], np.ndarray] = {}  # vector over cur
        self.bo_stop: dict[tuple[int, str], np.ndarray] = {}  # vector over prev
        # B_pure dense blocks.
        self.bp = np.zeros((K, K), dtype=np.float32)
        self.bp_start = np.zeros(K, dtype=np.float32)  # START -> cur
        self.bp_stop = np.zeros(K, dtype=np.float32)  # prev -> STOP

        for fid in range(model.n_features):
            kind = model.kinds[fid]
            weight = w[fid]
            if kind == "U":
                key = (model.rule_idxs[fid], model.obss[fid])
                cur = model.curs[fid]
                if cur == STOP_TAG:
                    self.u_stop[key] = self.u_stop.get(key, np.float32(0.0)) + weight
                elif cur in tag_idx:
                    vec = self.u_vec.get(key)
                    if vec is None:
                        vec = np.zeros(K, dtype=np.float32)
                        self.u_vec[key] = vec
                    vec[tag_idx[cur]] += weight
            elif kind == "BO":
                key = (model.rule_idxs[fid], model.obss[fid])
                prev, cur = model.prevs[fid], model.curs[fid]
                if prev == START_TAG and cur in tag_idx:
                    vec = self.bo_start.get(key)
                    if vec is None:
                        vec = np.zeros(K, dtype=np.float32)
                        self.bo_start[key] = vec
                    vec[tag_idx[cur]] += weight
                elif cur == STOP_TAG and prev in tag_idx:
                    vec = self.bo_stop.get(key)
                    if vec is None:
                        vec = np.zeros(K, dtype=np.float32)
                        self.bo_stop[key] = vec
                    vec[tag_idx[prev]] += weight
                elif prev in tag_idx and cur in tag_idx:
                    self.bo_cells.setdefault(key, []).append(
                        (tag_idx[prev], tag_idx[cur], weight)
                    )
            else:  # BP
                prev, cur = model.prevs[fid], model.curs[fid]
                if prev == START_TAG and cur in tag_idx:
                    self.bp_start[tag_idx[cur]] += weight
                elif cur == STOP_TAG and prev in tag_idx:
                    self.bp_stop[tag_idx[prev]] += weight
                elif prev in tag_idx and cur in tag_idx:
                    self.bp[tag_idx[prev], tag_idx[cur]] += weight

    # -- per-position builders (all float32, reference accumulation order) --

    def u_at(self, words, pos) -> np.ndarray:
        v = np.zeros(self.K, dtype=np.float32)
        for r, (_, offs, xf) in enumerate(self.u_templates):
            vec = self.u_vec.get((r, obs_string(words, pos, offs, xf)))
            if vec is not None:
                v += vec
        return v

    def u_stop_at(self, words, pos) -> np.float32:
        s = np.float32(0.0)
        for r, (_, offs, xf) in enumerate(self.u_templates):
            x = self.u_stop.get((r, obs_string(words, pos, offs, xf)))
            if x is not None:
                s += x
        return s

    def start_scores(self, words) -> np.ndarray:
        """dp[0]: U at pos 0 + B_obs(START->cur) + B_pure(START->cur),
        matching crf_ner.py:396-424 accumulation order."""
        v = self.u_at(words, 0).copy()
        for r, (_, offs, xf) in enumerate(self.b_templates):
            vec = self.bo_start.get((r, obs_string(words, 0, offs, xf)))
            if vec is not None:
                v += vec
        v += self.bp_start
        return v

    def potentials_at(self, words, pos) -> np.ndarray:
        """(K, K) transition potentials at position pos >= 1 plus the U
        broadcast, matching crf_ner.py:427-458."""
        trans = np.zeros((self.K, self.K), dtype=np.float32)
        for r, (_, offs, xf) in enumerate(self.b_templates):
            cells = self.bo_cells.get((r, obs_string(words, pos, offs, xf)))
            if cells:
                for pi, ci, wt in cells:
                    trans[pi, ci] += wt
        trans += self.bp
        return trans + self.u_at(words, pos)[None, :]

    def stop_scores(self, words) -> np.ndarray:
        """Transition-to-STOP vector at pos = len(words)
        (crf_ner.py:469-496)."""
        T = len(words)
        v = np.zeros(self.K, dtype=np.float32)
        for r, (_, offs, xf) in enumerate(self.b_templates):
            vec = self.bo_stop.get((r, obs_string(words, T, offs, xf)))
            if vec is not None:
                v += vec
        v += self.bp_stop
        v += self.u_stop_at(words, T)
        return v


def viterbi_decode_crf(words: list[str], tables: DecodeTables) -> list[str]:
    """Vectorized float32 Viterbi; bit-matches the reference decode math."""
    K = tables.K
    T = len(words)
    if T == 0 or K == 0:
        return []
    bp = np.zeros((T, K), dtype=np.int64)
    dp = tables.start_scores(words)
    for t in range(1, T):
        combined = dp[:, None] + tables.potentials_at(words, t)
        bp[t] = np.argmax(combined, axis=0)
        dp = combined[bp[t], np.arange(K)]
    final = dp + tables.stop_scores(words)
    path = np.zeros(T, dtype=np.int64)
    path[T - 1] = int(np.argmax(final))
    for t in range(T - 2, -1, -1):
        path[t] = bp[t + 1][path[t + 1]]
    return [tables.tags[i] for i in path]


def build_obs_lists(
    words: list[str], templates: list[tuple[str, tuple[int, ...], str]]
) -> list[list[str]]:
    """Per-template observation strings for positions 0..T (incl. STOP):
    one padded word list, one transformed copy per distinct non-identity
    transform (shared across templates), each template's sequence a list
    slice (single offset) or zip-join of slices. Exactly equals
    ``[obs_string(words, pos, offs, xf) for pos in range(T + 1)]``."""
    T = len(words)
    min_off = min((min(offs) for _, offs, _ in templates if offs), default=0)
    max_off = max((max(offs) for _, offs, _ in templates if offs), default=0)
    L = max(-min_off, 0)
    R = max(max_off, 0)
    padded = ["BOS"] * L + list(words) + ["EOS"] * (R + 1)
    pads: dict[str, list[str]] = {}
    out = []
    for _, offs, xf in templates:
        p = pads.get(xf)
        if p is None:
            p = padded if xf == "w" else [apply_xform(w, xf) for w in padded]
            pads[xf] = p
        if len(offs) == 1:
            o = offs[0] + L
            out.append(p[o : o + T + 1])
        else:
            slices = [p[o + L : o + L + T + 1] for o in offs]
            out.append(["/".join(ws) for ws in zip(*slices)])
    return out


class BatchObs:
    """Flattened observation codes for a batch of sentences: the shared
    machinery behind the vectorized decode AND training kernels.

    All sentences concatenate onto one position axis (t = 0..T per
    sentence; t = T is the STOP slot). Words are factorized once
    (``pd.factorize``); each transform runs over the UNIQUE words only;
    per-(transform, offset) observation columns are integer code arrays
    built by shifted gathers; multi-offset templates combine component
    codes mixed-radix and materialize strings only for unique combos.
    ``template_codes(offs, xf)`` -> (codes over P, unique obs strings
    indexed by code), cached per template shape.
    """

    def __init__(self, sents: list, templates) -> None:
        import pandas as pd

        S = len(sents)
        self.S = S
        lengths = np.array([len(w) for w in sents], dtype=np.int64)
        self.lengths = lengths
        word_start = np.zeros(S, dtype=np.int64)
        np.cumsum(lengths[:-1], out=word_start[1:])
        npos = lengths + 1
        pos_start = np.zeros(S, dtype=np.int64)
        np.cumsum(npos[:-1], out=pos_start[1:])
        self.pos_start = pos_start
        P = int(npos.sum())
        self.P = P

        flat_words = np.empty(int(lengths.sum()), dtype=object)
        k = 0
        for w in sents:
            flat_words[k : k + len(w)] = w
            k += len(w)

        self.sent_of = np.repeat(np.arange(S), npos)
        self.t_local = np.arange(P, dtype=np.int64) - pos_start[self.sent_of]
        self.slen = lengths[self.sent_of]
        self._wstart = word_start[self.sent_of]
        self.is_word = self.t_local < self.slen
        self.mid_idx = np.nonzero((self.t_local >= 1) & self.is_word)[0]
        self.first_rows = pos_start
        self.stop_rows = pos_start + lengths

        wcodes, wuniq = pd.factorize(flat_words)
        wuniq = np.asarray(wuniq, dtype=object)
        self._xf_data: dict[str, tuple] = {}
        for _, _, xf in templates:
            if xf in self._xf_data:
                continue
            if xf == "w":
                tvals = wuniq
            else:
                tvals = np.array(
                    [apply_xform(w, xf) for w in wuniq], dtype=object
                )
            tail = np.array(
                [apply_xform("BOS", xf), apply_xform("EOS", xf)], dtype=object
            )
            tcodes, tuniq = pd.factorize(np.concatenate([tvals, tail]))
            self._xf_data[xf] = (
                tcodes[:-2][wcodes] if len(wcodes) else np.empty(0, np.int64),
                np.asarray(tuniq, dtype=object),
                int(tcodes[-2]),
                int(tcodes[-1]),
            )
        self._col_cache: dict[tuple, np.ndarray] = {}
        self._tpl_cache: dict[tuple, tuple] = {}

    def col(self, xf: str, o: int) -> np.ndarray:
        key = (xf, o)
        c = self._col_cache.get(key)
        if c is None:
            word_code, _, bos_c, eos_c = self._xf_data[xf]
            idx = self.t_local + o
            c = np.empty(self.P, dtype=np.int64)
            lo = idx < 0
            hi = idx >= self.slen
            ok = ~(lo | hi)
            c[lo] = bos_c
            c[hi] = eos_c
            c[ok] = word_code[self._wstart[ok] + idx[ok]]
            self._col_cache[key] = c
        return c

    def template_codes(self, offs: tuple, xf: str) -> tuple:
        key = (offs, xf)
        got = self._tpl_cache.get(key)
        if got is None:
            tuniq = self._xf_data[xf][1]
            if len(offs) == 1:
                got = (self.col(xf, offs[0]), tuniq)
            else:
                cols = [self.col(xf, o) for o in offs]
                n = len(tuniq)
                if n ** len(offs) < (1 << 62):
                    comb = cols[0].copy()
                    for cc in cols[1:]:
                        comb = comb * n + cc
                    ucomb, inv = np.unique(comb, return_inverse=True)
                    digits = []
                    rem = ucomb.copy()
                    for _ in range(len(offs) - 1):
                        digits.append(rem % n)
                        rem //= n
                    digits.append(rem)
                    digits.reverse()
                    strs = np.array(
                        [
                            "/".join(tuniq[d[j]] for d in digits)
                            for j in range(len(ucomb))
                        ],
                        dtype=object,
                    )
                else:  # pathological vocab size: stack-based unique
                    stacked = np.stack(cols)
                    ucomb, inv = np.unique(
                        stacked, axis=1, return_inverse=True
                    )
                    strs = np.array(
                        [
                            "/".join(
                                tuniq[ucomb[d, j]] for d in range(len(offs))
                            )
                            for j in range(ucomb.shape[1])
                        ],
                        dtype=object,
                    )
                got = (inv, strs)
            self._tpl_cache[key] = got
        return got


def viterbi_decode_crf_batch(
    token_lists: list, tables: DecodeTables
) -> list[list[str]]:
    """Fully vectorized batch decoder: identical tag sequences to
    per-sentence :func:`viterbi_decode_crf` (same float32 piece vectors
    summed in the same rule order per element), with NO per-position
    Python in the hot path:

      * all sentences are flattened into one position axis (t = 0..T per
        sentence, incl. the STOP slot); words are factorized once
        (``pd.factorize``) and each transform is applied to the *unique*
        words only, so per-(transform, offset) observation columns are
        integer code arrays built by shifted gathers;
      * per template, feature weights are resolved per *unique* obs code
        (one dict lookup each) and scattered into the flat (P, K) unigram
        matrix with a single fancy-indexed ``+=`` per rule -- rule order
        preserved, so float32 accumulation order matches the scalar path;
      * most positions have NO observation-dependent bigram features
        (B_obs keys exist only for gold-path contexts); the rare
        exceptional positions get a custom (K, K) block, everything else
        shares B_pure;
      * the Viterbi DP itself runs batched across sentences: sentences are
        sorted by length (desc) and chunked, and each time step does one
        (n_active, K, K) broadcast-add + argmax for the whole chunk.
        ``pots = bp + U[t]`` then ``dp[:, None] + pots`` keeps the exact
        per-element float32 add order of the reference accumulation.

    The only remaining zero-add identity difference vs the scalar path is
    STOP rows starting from 0.0 instead of copying ``bp_stop`` (x + 0.0f
    == x for every float except -0.0, and a sign-of-zero difference can
    never flip a comparison), so decoded paths are identical.
    """
    K = tables.K
    if K == 0:
        return [[] for _ in token_lists]
    u_tpls, b_tpls = tables.u_templates, tables.b_templates

    out: list[list[str]] = [None] * len(token_lists)
    sids: list[int] = []
    sents: list[list] = []
    for i, t in enumerate(token_lists):
        if len(t) == 0:
            out[i] = []
        else:
            sids.append(i)
            sents.append(t)
    if not sents:
        return out

    obs = BatchObs(sents, u_tpls + b_tpls)
    S, P = obs.S, obs.P
    lengths, pos_start = obs.lengths, obs.pos_start
    is_word, mid_idx = obs.is_word, obs.mid_idx
    first_rows, stop_rows = obs.first_rows, obs.stop_rows
    template_codes = obs.template_codes

    # --- unigram features: flat (P, K) matrix + STOP scalars, rule order ---
    U_flat = np.zeros((P, K), dtype=np.float32)
    u_stop_flat = np.zeros(P, dtype=np.float32)
    stop_code_cache: dict[tuple, tuple] = {}

    def stop_uniques(codes):
        key = id(codes)
        got = stop_code_cache.get(key)
        if got is None:
            got = np.unique(codes[stop_rows], return_inverse=True)
            stop_code_cache[key] = got
        return got

    for r, (_, offs, xf) in enumerate(u_tpls):
        codes, uniq_strs = template_codes(offs, xf)
        uget = tables.u_vec.get
        ids = np.full(len(uniq_strs), -1, dtype=np.int64)
        rows: list[np.ndarray] = []
        for j in range(len(uniq_strs)):
            v = uget((r, uniq_strs[j]))
            if v is not None:
                ids[j] = len(rows)
                rows.append(v)
        if rows:
            mat = np.stack(rows)
            pid = ids[codes]
            m = (pid >= 0) & is_word
            if m.any():
                U_flat[m] += mat[pid[m]]
        if tables.u_stop:
            uc, inv = stop_uniques(codes)
            sget = tables.u_stop.get
            svals = np.zeros(len(uc), dtype=np.float32)
            shit = np.zeros(len(uc), dtype=bool)
            for j in range(len(uc)):
                x = sget((r, uniq_strs[uc[j]]))
                if x is not None:
                    svals[j] = x
                    shit[j] = True
            if shit.any():
                m = shit[inv]
                u_stop_flat[stop_rows[m]] += svals[inv[m]]

    # --- bigram features: START/STOP vectors + per-position (K, K) blocks.
    # Each feature key is unique per (rule, obs, prev, cur), so a rule's
    # cells touch each (prev, cur) cell at most once -- summing dense
    # per-(rule, obs) blocks in rule order is bit-identical to the scalar
    # path's cell-at-a-time accumulation. ---
    START = U_flat[first_rows].copy()  # dp[0] = U at pos 0, then B adds
    STOP = np.zeros((S, K), dtype=np.float32)
    trans_id = np.full(P, -1, dtype=np.int64)  # flat pos -> row into TR
    TR = None
    per_rule_blocks: list[tuple] = []
    any_hit = (
        np.zeros(len(mid_idx), dtype=bool) if len(mid_idx) else None
    )
    for r, (_, offs, xf) in enumerate(b_tpls):
        codes, uniq_strs = template_codes(offs, xf)
        if tables.bo_start:
            c0 = codes[first_rows]
            uc, inv = np.unique(c0, return_inverse=True)
            ids = np.full(len(uc), -1, dtype=np.int64)
            rows = []
            for j in range(len(uc)):
                v = tables.bo_start.get((r, uniq_strs[uc[j]]))
                if v is not None:
                    ids[j] = len(rows)
                    rows.append(v)
            if rows:
                mat = np.stack(rows)
                pid = ids[inv]
                m = pid >= 0
                START[m] += mat[pid[m]]
        if tables.bo_stop:
            uc, inv = stop_uniques(codes)
            ids = np.full(len(uc), -1, dtype=np.int64)
            rows = []
            for j in range(len(uc)):
                v = tables.bo_stop.get((r, uniq_strs[uc[j]]))
                if v is not None:
                    ids[j] = len(rows)
                    rows.append(v)
            if rows:
                mat = np.stack(rows)
                pid = ids[inv]
                m = pid >= 0
                STOP[m] += mat[pid[m]]
        if tables.bo_cells and len(mid_idx):
            cm = codes[mid_idx]
            uc, inv = np.unique(cm, return_inverse=True)
            ids = np.full(len(uc), -1, dtype=np.int64)
            blocks = []
            for j in range(len(uc)):
                cl = tables.bo_cells.get((r, uniq_strs[uc[j]]))
                if cl:
                    b = np.zeros((K, K), dtype=np.float32)
                    for pi, ci, wt in cl:
                        b[pi, ci] += wt
                    ids[j] = len(blocks)
                    blocks.append(b)
            if blocks:
                pid = ids[inv]
                hit = pid >= 0
                any_hit |= hit
                per_rule_blocks.append((np.stack(blocks), pid, hit))
    if per_rule_blocks:
        exc_mid = np.nonzero(any_hit)[0]  # indices into mid_idx
        eid_of_mid = np.full(len(mid_idx), -1, dtype=np.int64)
        eid_of_mid[exc_mid] = np.arange(len(exc_mid))
        TR = np.zeros((len(exc_mid), K, K), dtype=np.float32)
        for blocks, pid, hit in per_rule_blocks:  # rule order preserved
            h = np.nonzero(hit)[0]
            TR[eid_of_mid[h]] += blocks[pid[h]]
        trans_id[mid_idx[exc_mid]] = np.arange(len(exc_mid))
    START += tables.bp_start
    STOP += tables.bp_stop
    STOP += u_stop_flat[stop_rows][:, None]

    # --- chunked batch DP over length-sorted sentences ---
    order = np.argsort(-lengths, kind="stable")
    taglut = np.array(tables.tags, dtype=object)
    bp_mat = tables.bp
    ptr_dtype = np.int8 if K <= 127 else np.int32
    # adaptive chunk size, mirroring the training kernel's max_cells
    # bound (operators/crf.py): the backpointer tensor is maxT*nc*K cells
    # and each DP step broadcasts (nc, K, K) floats, so a fixed 1024 with
    # very long sentences and a large tagset could spike memory; cap the
    # sentences per chunk by cell budget instead (sentences are sorted
    # longest-first, so the first chunk is the binding one)
    max_cells = 8_000_000
    maxT0 = int(lengths[order[0]]) if S else 1
    CHUNK = min(1024, max(1, max_cells // max(maxT0 * K, 1)))
    for c0 in range(0, S, CHUNK):
        chunk = order[c0 : c0 + CHUNK]
        cl = lengths[chunk]  # descending
        nc = len(chunk)
        maxT = int(cl[0])
        first = pos_start[chunk]
        dp = START[chunk].copy()
        bptr = np.zeros((maxT, nc, K), dtype=ptr_dtype)
        for t in range(1, maxT):
            nt = int(np.searchsorted(-cl, -(t + 1), side="right"))
            rows_t = first[:nt] + t
            Ut = U_flat[rows_t]
            pots = bp_mat[None, :, :] + Ut[:, None, :]
            if TR is not None:
                tid = trans_id[rows_t]
                m = tid >= 0
                if m.any():
                    pots[m] = (TR[tid[m]] + bp_mat[None, :, :]) + Ut[m][
                        :, None, :
                    ]
            combined = dp[:nt, :, None] + pots
            am = np.argmax(combined, axis=1)
            bptr[t, :nt] = am
            dp[:nt] = np.take_along_axis(combined, am[:, None, :], axis=1)[
                :, 0, :
            ]
        final = dp + STOP[chunk]
        last = np.argmax(final, axis=1)
        paths = np.zeros((nc, maxT), dtype=np.int64)
        paths[np.arange(nc), cl - 1] = last
        for t in range(maxT - 2, -1, -1):
            na = int(np.searchsorted(-cl, -(t + 2), side="right"))
            if na:
                paths[:na, t] = bptr[t + 1, np.arange(na), paths[:na, t + 1]]
        for jj in range(nc):
            T = int(cl[jj])
            out[sids[chunk[jj]]] = taglut[paths[jj, :T]].tolist()
    return out


# ---------------------------------------------------------------------
# Pure-Python oracle decoder (test-only): dict lookups on flat string
# keys, float32 scalar arithmetic, structured exactly like the reference
# decode loop (crf_ner.py:371-512). Independent of DecodeTables.
# ---------------------------------------------------------------------

def oracle_decode(
    words: list[str],
    weights: np.ndarray,
    feature_index: dict[str, int],
    tags: list[str],
) -> list[str]:
    f32 = np.float32
    K, T = len(tags), len(words)
    if T == 0 or K == 0:
        return []
    w = np.asarray(weights, dtype=np.float32)

    def lookup(key):
        fid = feature_index.get(key)
        return w[fid] if fid is not None else None

    def u_scores(pos, tag_list):
        out = [f32(0.0)] * len(tag_list)
        for prefix, offs in U_TEMPLATES:
            obs = obs_string(words, pos, offs)
            for j, tag in enumerate(tag_list):
                x = lookup(f"{prefix}:{obs}_{tag}")
                if x is not None:
                    out[j] = out[j] + x
        return out

    # init
    dp = u_scores(0, tags)
    for prefix, offs in B_TEMPLATES:
        obs = obs_string(words, 0, offs)
        for j, tag in enumerate(tags):
            x = lookup(f"{prefix}:{obs}_{START_TAG}_{tag}")
            if x is not None:
                dp[j] = dp[j] + x
    for j, tag in enumerate(tags):
        x = lookup(f"B:{START_TAG}_{tag}")
        if x is not None:
            dp[j] = dp[j] + x

    bp = [[0] * K for _ in range(T)]
    for t in range(1, T):
        trans = [[f32(0.0)] * K for _ in range(K)]
        for prefix, offs in B_TEMPLATES:
            obs = obs_string(words, t, offs)
            for k, ptag in enumerate(tags):
                for j, ctag in enumerate(tags):
                    x = lookup(f"{prefix}:{obs}_{ptag}_{ctag}")
                    if x is not None:
                        trans[k][j] = trans[k][j] + x
        for k, ptag in enumerate(tags):
            for j, ctag in enumerate(tags):
                x = lookup(f"B:{ptag}_{ctag}")
                if x is not None:
                    trans[k][j] = trans[k][j] + x
        uni = u_scores(t, tags)
        new_dp = [f32(-np.inf)] * K
        for j in range(K):
            best, best_k = f32(-np.inf), 0
            for k in range(K):
                cur = dp[k] + (trans[k][j] + uni[j])
                if cur > best:
                    best, best_k = cur, k
            new_dp[j] = best
            bp[t][j] = best_k
        dp = new_dp

    stop = [f32(0.0)] * K
    for prefix, offs in B_TEMPLATES:
        obs = obs_string(words, T, offs)
        for k, ptag in enumerate(tags):
            x = lookup(f"{prefix}:{obs}_{ptag}_{STOP_TAG}")
            if x is not None:
                stop[k] = stop[k] + x
    for k, ptag in enumerate(tags):
        x = lookup(f"B:{ptag}_{STOP_TAG}")
        if x is not None:
            stop[k] = stop[k] + x
    u_stop = f32(0.0)
    for prefix, offs in U_TEMPLATES:
        obs = obs_string(words, T, offs)
        x = lookup(f"{prefix}:{obs}_{STOP_TAG}")
        if x is not None:
            u_stop = u_stop + x
    best, best_j = f32(-np.inf), 0
    for j in range(K):
        cur = dp[j] + (stop[j] + u_stop)
        if cur > best:
            best, best_j = cur, j
    path = [0] * T
    path[T - 1] = best_j
    for t in range(T - 2, -1, -1):
        path[t] = bp[t + 1][path[t + 1]]
    return [tags[i] for i in path]
