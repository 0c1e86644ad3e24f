"""CRF operators: distributed feature-registry build (F1/F2), broadcast
vectorized decode (W2/W3), and distributed full-batch training (A8).

Registry build re-expresses the reference's gold-path scan
(``crf_ner.py:563-587``) as DataFrame plans: one exploded token frame with
clamped context columns (array ``element_at`` -- no per-token window, no
extra shuffle), 21 rule projections unioned, first-encounter ordering via
``min(struct(sent, pos, rule_order))`` + ``row_number``. The pure-B
transition cross product (``crf_ner.py:578-587``) is appended on the
driver (K^2 is tiny).

Training semantics deviation (documented, SURVEY SS7.3): the reference does
per-sentence SGD (``crf_ner.py:606-624``), which is inherently sequential.
We train full-batch: each epoch one Spark job computes the exact CRF
gradient sum_sentences (E_model[f] - f_gold) via forward-backward inside
``mapInPandas``; the driver applies the update and re-broadcasts. The
parity contract is decode-given-weights (bit-level, property-tested), not
weight-trajectory equality.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.crf import (
    B_TEMPLATES,
    START_TAG,
    STOP_TAG,
    U_TEMPLATES,
    CRFModel,
    build_feature_key,
    build_obs_lists,
)
from .labeler import label


def _context_frame(sentences: DataFrame, xform_pairs: tuple = ()) -> DataFrame:
    """Exploded token frame with clamped context word columns w_m2..w_p2,
    prev/cur tags, and a STOP row per sentence (pos = len(tokens)).

    ``xform_pairs`` is the set of (offset, xform) pairs actually
    referenced by the template set; only those transformed columns are
    emitted (``w_0__shape`` etc.), not the full offsets x transforms
    cross product. lower/prefix/suffix are native Spark functions
    (JVM-side, codegen); only ``shape`` needs a (vectorized pandas) UDF
    -- it runs the SAME Python transform the decode/train kernels use,
    so Spark-built and kernel-built feature keys agree by construction."""
    order_cols = [c for c in ("doc_id", "sent_id") if c in sentences.columns]
    sent_key = F.struct(*[F.col(c) for c in order_cols]).alias("sent")
    toks, tags = F.col("tokens"), F.col("tags")
    n = F.size("tokens")

    base = sentences.where(n > 0).select(
        sent_key, "tokens", "tags", n.alias("n")
    )
    tok_rows = base.select(
        "sent",
        "tokens",
        "tags",
        "n",
        F.posexplode(F.col("tokens")).alias("pos", "_w"),
    )

    def ctx(off: int):
        p = F.col("pos") + off
        return (
            F.when(p < 0, "BOS")
            .when(p >= F.col("n"), "EOS")
            .otherwise(F.element_at(F.col("tokens"), p + 1))
        )

    body = tok_rows.select(
        "sent",
        "pos",
        ctx(-2).alias("w_m2"),
        ctx(-1).alias("w_m1"),
        ctx(0).alias("w_0"),
        ctx(1).alias("w_p1"),
        ctx(2).alias("w_p2"),
        F.when(F.col("pos") == 0, START_TAG)
        .otherwise(F.element_at(F.col("tags"), F.col("pos")))
        .alias("prev"),
        F.element_at(F.col("tags"), F.col("pos") + 1).alias("cur"),
    )
    stop = base.select(
        "sent",
        F.col("n").alias("pos"),
        F.when(F.col("n") >= 2, F.element_at("tokens", -2)).otherwise("BOS").alias("w_m2"),
        F.element_at("tokens", -1).alias("w_m1"),
        F.lit("EOS").alias("w_0"),
        F.lit("EOS").alias("w_p1"),
        F.lit("EOS").alias("w_p2"),
        F.element_at("tags", -1).alias("prev"),
        F.lit(STOP_TAG).alias("cur"),
    )
    out = body.unionByName(stop)
    for off, xf in xform_pairs:
        base_col = _OFF_COL[off]
        out = out.withColumn(
            f"{base_col}__{_xf_colname(xf)}", _xform_col(xf, F.col(base_col))
        )
    return out


_OFF_COL = {-2: "w_m2", -1: "w_m1", 0: "w_0", 1: "w_p1", 2: "w_p2"}


def _xf_colname(xf: str) -> str:
    """Column-safe xform name ('cluster:c4' -> 'cluster_c4')."""
    return xf.replace(":", "_")


def _xform_col(xf: str, col):
    """Word transform as a Spark column. lower/preN/sufN map to native
    functions (whole-stage codegen; Python slicing semantics replicated:
    words shorter than N come through whole); ``shape`` has no native
    equivalent and falls back to the Arrow-batched UDF."""
    if xf == "lower":
        return F.lower(col)
    if xf.startswith("pre"):
        return col.substr(F.lit(1), F.lit(int(xf[3:])))
    if xf.startswith("suf"):
        n = int(xf[3:])
        return col.substr(
            F.greatest(F.length(col) - (n - 1), F.lit(1)), F.lit(n)
        )
    return _xform_udf(xf)(col)


def _xform_udf(xf: str):
    from pyspark.sql.types import StringType

    from ..functions.crf import CLUSTER_MAPS, apply_xform

    if xf.startswith("cluster:"):
        # capture the driver-registered map into the closure -- executor
        # processes import functions.crf fresh with an empty registry, so
        # the dict must travel with the UDF (it's vocab-sized, a few MB)
        cmap = dict(CLUSTER_MAPS[xf[8:]])

        @F.pandas_udf(StringType())
        def _cudf(col: pd.Series) -> pd.Series:
            return col.map(
                lambda w: w if w in ("BOS", "EOS") else cmap.get(w, "<unk>")
            )

        return _cudf

    @F.pandas_udf(StringType())
    def _udf(col: pd.Series) -> pd.Series:
        return col.map(lambda w: apply_xform(w, xf))

    return _udf


def _obs_col(offsets: tuple[int, ...], xform: str = "w"):
    suffix = "" if xform == "w" else f"__{_xf_colname(xform)}"
    return F.concat_ws("/", *[F.col(_OFF_COL[o] + suffix) for o in offsets])


def build_registry(
    sentences: DataFrame,
    u_templates=None,
    b_templates=None,
) -> CRFModel:
    """F1+F2: scan gold paths once, assign feature ids in first-encounter
    order (sent, pos, template order), then append the pure-B cross
    product. Returns a CRFModel with zero weights.

    ``u_templates``/``b_templates`` default to the reference's 21
    templates; pass ``EXTENDED_U_TEMPLATES`` for the quality mode with
    shape/prefix/suffix generalization features."""
    from ..functions.crf import normalize_templates

    # NOT fanned out: a repartition below the persisted ctx made the
    # 22-leg union 4x slower (each leg's subtree re-plans through the
    # exchange while the cache populates); measured round 7
    u_tpls = normalize_templates(u_templates or U_TEMPLATES)
    b_tpls = normalize_templates(b_templates or B_TEMPLATES)
    xform_pairs = tuple(
        sorted(
            {
                (o, xf)
                for _, offs, xf in u_tpls + b_tpls
                if xf != "w"
                for o in offs
            }
        )
    )
    from .partitioning import fan_out

    # single-pass feature stream (round 7): every ctx row expands to one
    # array of per-template (ro, kind, rule_idx, obs, prev, cur) entries
    # exploded straight into the shared hash aggregate. The previous form
    # unioned one projection of a persisted ctx per template (22 legs),
    # which pinned the whole scan + every leg to the input's partition
    # count (one core off a single-row-group scan) and paid a cache
    # materialization; one consumer also means the input can fan out
    # safely. Row multiset identical: same entries, one per (row,
    # template).
    ctx = _context_frame(fan_out(sentences), xform_pairs=xform_pairs)

    def ent(ro, kind, rule_idx, obs, prev):
        return F.struct(
            F.lit(ro).alias("ro"), F.lit(kind).alias("kind"),
            F.lit(rule_idx).alias("rule_idx"), obs.alias("obs"),
            prev.alias("prev"), F.col("cur").alias("cur"),
        )

    entries = []
    rule_order = 0
    for r, (_, offs, xf) in enumerate(u_tpls):
        entries.append(ent(rule_order, "U", r, _obs_col(offs, xf), F.lit("")))
        rule_order += 1
    for r, (_, offs, xf) in enumerate(b_tpls):
        entries.append(ent(rule_order, "BO", r, _obs_col(offs, xf), F.col("prev")))
        rule_order += 1
    entries.append(ent(rule_order, "BP", -1, F.lit(""), F.col("prev")))
    allf = ctx.select(
        "sent", "pos", F.explode(F.array(*entries)).alias("en")
    ).select(
        "sent", "pos", F.col("en.ro").alias("ro"),
        F.col("en.kind").alias("kind"), F.col("en.rule_idx").alias("rule_idx"),
        F.col("en.obs").alias("obs"), F.col("en.prev").alias("prev"),
        F.col("en.cur").alias("cur"),
    )

    # distinct features + first-seen position stay distributed (hash agg);
    # id assignment happens driver-side after collect — the registry must
    # fit on the driver regardless (it becomes the broadcast weight
    # vector), and sorting locally avoids a row_number() over a global
    # Window, which would shuffle every distinct feature to one partition.
    reg_rows = (
        allf.groupBy("kind", "rule_idx", "obs", "prev", "cur")
        .agg(F.min(F.struct("sent", "pos", "ro")).alias("first_seen"))
        .collect()
    )

    # pinned tag order: first occurrence over the gold tag stream
    tag_rows = (
        sentences.where(F.size("tokens") > 0)
        .select(
            F.struct(*[F.col(c) for c in ("doc_id", "sent_id") if c in sentences.columns]).alias("sent"),
            F.posexplode("tags").alias("pos", "tag"),
        )
        .groupBy("tag")
        .agg(F.min(F.struct("sent", "pos")).alias("first_seen"))
        .collect()
    )
    tags = [r.tag for r in sorted(tag_rows, key=lambda r: tuple(r.first_seen))]

    reg_rows.sort(key=lambda r: tuple(r.first_seen))
    kinds = [r.kind for r in reg_rows]
    rule_idxs = [r.rule_idx for r in reg_rows]
    obss = [r.obs for r in reg_rows]
    prevs = [r.prev for r in reg_rows]
    curs = [r.cur for r in reg_rows]
    feature_index = {
        build_feature_key(r.kind, r.rule_idx, r.obs, r.prev, r.cur, u_tpls, b_tpls): fid
        for fid, r in enumerate(reg_rows)
    }

    # F2: pure-B cross product over tags + START/STOP, skipping *->START
    # and STOP->* (crf_ner.py:578-587); pinned iteration order.
    all_tags = tags + [START_TAG, STOP_TAG]
    for prev in all_tags:
        for cur in all_tags:
            if prev == STOP_TAG or cur == START_TAG:
                continue
            key = f"B:{prev}_{cur}"
            if key not in feature_index:
                feature_index[key] = len(feature_index)
                kinds.append("BP")
                rule_idxs.append(-1)
                obss.append("")
                prevs.append(prev)
                curs.append(cur)

    return CRFModel(
        tags=tags,
        feature_index=feature_index,
        kinds=kinds,
        rule_idxs=rule_idxs,
        obss=obss,
        prevs=prevs,
        curs=curs,
        u_templates=u_tpls,
        b_templates=b_tpls,
    )


def mine_gazetteer(
    sentences: DataFrame, max_vocab: int = 5_000_000, min_count: int = 1
) -> dict[str, str]:
    """Entity-membership gazetteer mined from gold training mentions:
    word -> '|'-joined sorted set of entity types whose spans contain it
    (scheme-agnostic: the tag's chunk prefix is stripped, so BIO 'B-PER'
    and BMES 'M-NAME' read 'PER'/'NAME'). The result is a model-carried
    word->class map (functions/crf.py CLUSTER_MAPS mechanism, xform
    'cluster:gaz'), so decode stays self-contained; non-member and OOV
    words read '<unk>'. One explode + grouped aggregate; the driver
    collect is bounded by DISTINCT entity words with a limit(cap+1) +
    loud refusal (cf. train_hmm's max_model_rows).

    ``min_count`` keeps only words with >= that many entity-token
    occurrences in total. The quality recipe trains with min_count=2
    (singleton entity words read '<unk>' at train time, matching how
    validation-unseen entities read at decode time -- the word-dropout
    remedy of Lample et al. 2016 applied to the gazetteer channel;
    measured: the unmasked map collapses recall, 0.871 -> 0.813) while
    the SAVED model carries the full min_count=1 map. On the stable
    cluster base (min_count=2/depth=8/grans 4,6,8/no bigrams) this
    recipe holds the English quality record: val entity-F1 0.8922
    tail-averaged / 0.8912 best epoch vs 0.8883 cluster-only
    (BENCH/crf_gazmask_r5.log.jsonl)."""
    rows = (
        gazetteer_entries(sentences)
        .where(F.col("n") >= min_count)
        .limit(max_vocab + 1)
        .collect()
    )
    if len(rows) > max_vocab:
        raise ValueError(
            f"gazetteer exceeds max_vocab={max_vocab} distinct entity "
            "words; the map must stay driver/broadcast-sized"
        )
    return {r.w: r.gaz_class for r in rows}


def gazetteer_entries(sentences: DataFrame) -> DataFrame:
    """Distributed core of ``mine_gazetteer``: one row per distinct
    entity word -- ``(w, gaz_class, n)`` where ``gaz_class`` is the
    '|'-joined lexicographically sorted set of chunk-prefix-stripped
    entity types whose gold spans contain the word and ``n`` its total
    entity-token count. One explode + one combiner-reduced groupBy;
    oracled by the ``gazetteer`` entry query (ANSI gaps-free aggregate,
    hash-compared against DuckDB)."""
    ex = (
        sentences.where(F.size("tokens") > 0)
        .select(F.explode(F.arrays_zip("tokens", "tags")).alias("x"))
        .select(F.col("x.tokens").alias("w"), F.col("x.tags").alias("tag"))
        .where(F.col("tag") != "O")
    )
    typ = F.when(
        F.col("tag").contains("-"), F.substring_index("tag", "-", -1)
    ).otherwise(F.col("tag"))
    return (
        ex.select("w", typ.alias("t"))
        .groupBy("w")
        .agg(
            F.count("*").alias("n"),
            F.array_sort(F.collect_set("t")).alias("ts"),
        )
        .select("w", F.array_join("ts", "|").alias("gaz_class"), "n")
    )


def decode_crf(
    sentences: DataFrame,
    model: CRFModel,
    token_col: str = "tokens",
    out_col: str = "tags_pred",
) -> DataFrame:
    """W2: appends ``out_col`` through the labeler. The compact model is
    broadcast; each python worker builds its DecodeTables once on the
    first :meth:`CRFModel.tag_batch` call. Shipping prebuilt tables
    instead was measured slower: for a 1.4M-feature model the pickled
    tables dwarf the model and the broadcast dominates."""
    return label(sentences, model, token_col=token_col, tag_col=out_col)


# ---------------------------------------------------------------------
# A8: distributed full-batch training
# ---------------------------------------------------------------------

class _TrainTables:
    """Reverse indexes (rule, obs) -> feature ids for gradient gather."""

    def __init__(self, model: CRFModel):
        from ..functions.crf import register_cluster_maps

        # worker processes rebuild tables from the broadcast model; the
        # cluster maps behind any cluster: xform must ride along
        register_cluster_maps(model.cluster_maps)
        self.model = model
        self.tags = model.tags
        self.u_templates = model.u_templates
        self.b_templates = model.b_templates
        K = len(model.tags)
        tag_idx = {t: i for i, t in enumerate(model.tags)}
        self.tag_idx = tag_idx
        self.u_fids: dict[tuple[int, str], list] = {}
        self.u_stop_fids: dict[tuple[int, str], list] = {}
        self.bo_fids: dict[tuple[int, str], list] = {}
        self.bo_start_fids: dict[tuple[int, str], list] = {}
        self.bo_stop_fids: dict[tuple[int, str], list] = {}
        self.bp_fid = -np.ones((K + 1, K + 1), dtype=np.int64)  # +START row/+STOP col
        for fid in range(model.n_features):
            kind = model.kinds[fid]
            if kind == "U":
                key = (model.rule_idxs[fid], model.obss[fid])
                cur = model.curs[fid]
                if cur == STOP_TAG:
                    self.u_stop_fids.setdefault(key, []).append(fid)
                elif cur in tag_idx:
                    self.u_fids.setdefault(key, []).append((fid, tag_idx[cur]))
            elif kind == "BO":
                key = (model.rule_idxs[fid], model.obss[fid])
                prev, cur = model.prevs[fid], model.curs[fid]
                if prev == START_TAG and cur in tag_idx:
                    self.bo_start_fids.setdefault(key, []).append((fid, tag_idx[cur]))
                elif cur == STOP_TAG and prev in tag_idx:
                    self.bo_stop_fids.setdefault(key, []).append((fid, tag_idx[prev]))
                elif prev in tag_idx and cur in tag_idx:
                    self.bo_fids.setdefault(key, []).append(
                        (fid, tag_idx[prev], tag_idx[cur])
                    )
            else:
                prev, cur = model.prevs[fid], model.curs[fid]
                pi = K if prev == START_TAG else tag_idx.get(prev, -1)
                ci = K if cur == STOP_TAG else tag_idx.get(cur, -1)
                if pi >= 0 and ci >= 0:
                    self.bp_fid[pi, ci] = fid


def _sentence_grad(words, gold_tags, tt: _TrainTables, w64, grad):
    """Accumulate d(logZ - goldScore)/dw for one sentence into ``grad``.
    Returns the sentence loss. Potentials/marginals in float64."""
    tags = tt.tags
    K = len(tags)
    T = len(words)
    if T == 0 or K == 0:
        return 0.0
    tag_idx = tt.tag_idx
    bp_f = tt.bp_fid

    # per-template obs strings for pos 0..T, computed ONCE and reused by
    # the potential, expectation, and gold passes
    n_u = len(tt.u_templates)
    obs_all = build_obs_lists(words, tt.u_templates + tt.b_templates)
    u_obs, b_obs = obs_all[:n_u], obs_all[n_u:]

    # potentials
    def u_vec(pos):
        v = np.zeros(K)
        fids = []
        for r in range(n_u):
            lst = tt.u_fids.get((r, u_obs[r][pos]))
            if lst:
                fids.append(lst)
                for fid, ci in lst:
                    v[ci] += w64[fid]
        return v, fids

    start_v, start_u_fids = u_vec(0)
    start_bo = []
    for r in range(len(tt.b_templates)):
        lst = tt.bo_start_fids.get((r, b_obs[r][0]))
        if lst:
            start_bo.append(lst)
            for fid, ci in lst:
                start_v[ci] += w64[fid]
    bp_start_ids = bp_f[K, :K]
    start_v = start_v + np.where(bp_start_ids >= 0, w64[np.maximum(bp_start_ids, 0)], 0.0)

    pots = []  # (K,K) for t=1..T-1
    u_fid_rows, bo_fid_rows = [start_u_fids], [None]
    for t in range(1, T):
        uv, ufids = u_vec(t)
        u_fid_rows.append(ufids)
        mat = np.zeros((K, K))
        bofids = []
        for r in range(len(tt.b_templates)):
            lst = tt.bo_fids.get((r, b_obs[r][t]))
            if lst:
                bofids.append(lst)
                for fid, pi, ci in lst:
                    mat[pi, ci] += w64[fid]
        bo_fid_rows.append(bofids)
        bp_ids = bp_f[:K, :K]
        mat = mat + np.where(bp_ids >= 0, w64[np.maximum(bp_ids, 0)], 0.0)
        pots.append(mat + uv[None, :])

    stop_v = np.zeros(K)
    stop_bo = []
    for r in range(len(tt.b_templates)):
        lst = tt.bo_stop_fids.get((r, b_obs[r][T]))
        if lst:
            stop_bo.append(lst)
            for fid, pi in lst:
                stop_v[pi] += w64[fid]
    bp_stop_ids = bp_f[:K, K]
    stop_v = stop_v + np.where(bp_stop_ids >= 0, w64[np.maximum(bp_stop_ids, 0)], 0.0)
    stop_u = 0.0
    stop_u_fids = []
    for r in range(n_u):
        lst = tt.u_stop_fids.get((r, u_obs[r][T]))
        if lst:
            stop_u_fids.append(lst)
            for fid in lst:
                stop_u += w64[fid]

    # forward / backward (log space)
    def lse(a, axis=None):
        m = np.max(a, axis=axis, keepdims=True)
        out = m + np.log(np.sum(np.exp(a - m), axis=axis, keepdims=True))
        return np.squeeze(out, axis=axis) if axis is not None else float(out)

    alphas = np.zeros((T, K))
    alphas[0] = start_v
    for t in range(1, T):
        alphas[t] = lse(alphas[t - 1][:, None] + pots[t - 1], axis=0)
    logZ = lse(alphas[T - 1] + stop_v + stop_u, axis=0)

    betas = np.zeros((T, K))
    betas[T - 1] = stop_v + stop_u
    for t in range(T - 2, -1, -1):
        betas[t] = lse(pots[t] + betas[t + 1][None, :], axis=1)

    # marginals
    node_m = np.exp(alphas + betas - logZ)  # (T, K)
    edge_ms = []
    for t in range(1, T):
        em = np.exp(
            alphas[t - 1][:, None] + pots[t - 1] + betas[t][None, :] - logZ
        )
        edge_ms.append(em)
    stop_m = np.exp(alphas[T - 1] + stop_v + stop_u - logZ)  # (K,)

    # --- expectations into grad ---
    for t in range(T):
        for lst in u_fid_rows[t]:
            for fid, ci in lst:
                grad[fid] += node_m[t, ci]
    for lst in start_bo:
        for fid, ci in lst:
            grad[fid] += node_m[0, ci]
    for ci in range(K):
        f = bp_start_ids[ci]
        if f >= 0:
            grad[f] += node_m[0, ci]
    for t in range(1, T):
        em = edge_ms[t - 1]
        for lst in bo_fid_rows[t]:
            for fid, pi, ci in lst:
                grad[fid] += em[pi, ci]
        bp_ids = bp_f[:K, :K]
        mask = bp_ids >= 0
        if mask.any():
            np.add.at(grad, bp_ids[mask], em[mask])
    for lst in stop_bo:
        for fid, pi in lst:
            grad[fid] += stop_m[pi]
    for pi in range(K):
        f = bp_stop_ids[pi]
        if f >= 0:
            grad[f] += stop_m[pi]
    for lst in stop_u_fids:
        for fid in lst:
            grad[fid] += 1.0  # STOP unigram fires with prob 1

    # --- gold counts (subtract) and gold score ---
    gold = 0.0
    for t in range(T):
        cur = gold_tags[t]
        prev = gold_tags[t - 1] if t > 0 else START_TAG
        for r in range(n_u):
            lst = tt.u_fids.get((r, u_obs[r][t]))
            if lst:
                ci_want = tag_idx[cur]
                for fid, ci in lst:
                    if ci == ci_want:
                        grad[fid] -= 1.0
                        gold += w64[fid]
        for r in range(len(tt.b_templates)):
            if t == 0:
                lst = tt.bo_start_fids.get((r, b_obs[r][0]))
                if lst:
                    ci_want = tag_idx[cur]
                    for fid, ci in lst:
                        if ci == ci_want:
                            grad[fid] -= 1.0
                            gold += w64[fid]
            else:
                lst = tt.bo_fids.get((r, b_obs[r][t]))
                if lst:
                    piw, ciw = tag_idx[prev], tag_idx[cur]
                    for fid, pi, ci in lst:
                        if pi == piw and ci == ciw:
                            grad[fid] -= 1.0
                            gold += w64[fid]
    # pure-B gold transitions (incl START->first and last->STOP)
    prev_ids = [K] + [tag_idx[t_] for t_ in gold_tags]
    cur_ids = [tag_idx[t_] for t_ in gold_tags] + [K]
    for pi, ci in zip(prev_ids, cur_ids):
        f = bp_f[pi, ci]
        if f >= 0:
            grad[f] -= 1.0
            gold += w64[f]
    # STOP B_obs and U gold features
    for r in range(len(tt.b_templates)):
        lst = tt.bo_stop_fids.get((r, b_obs[r][T]))
        if lst:
            piw = tag_idx[gold_tags[-1]]
            for fid, pi in lst:
                if pi == piw:
                    grad[fid] -= 1.0
                    gold += w64[fid]
    for lst in stop_u_fids:
        for fid in lst:
            grad[fid] -= 1.0
            gold += w64[fid]

    return float(logZ - gold)


def _batch_grad(tok_lists, tag_lists, tt: _TrainTables, w64, grad):
    """Vectorized batch twin of :func:`_sentence_grad`: same exact
    gradient (E_model[f] - f_gold summed over the batch, float64
    forward-backward) accumulated into ``grad``, with the per-position
    python/dict work replaced by the BatchObs code machinery --
    feature ids resolve per UNIQUE obs code, potentials/marginals run
    batched over length-sorted sentence chunks, and all scatter-adds go
    through one ``np.bincount`` over expanded (fid, value) arrays.
    Returns (loss_total, n_finite) like the per-sentence loop did
    (non-finite sentences are excluded from the loss sum only; their
    gradient contributions remain, matching the scalar path).

    Float64 summation ORDER differs from the scalar kernel (vectorized
    reductions), so gradients agree to ~1e-9 relative, not bitwise --
    the training contract is exact-gradient math (finite-difference
    tested), not weight-trajectory equality (module docstring)."""
    from ..functions.crf import BatchObs

    K = len(tt.tags)
    pairs = [
        (list(w), list(g)) for w, g in zip(tok_lists, tag_lists) if len(w) > 0
    ]
    if K == 0 or not pairs:
        return 0.0, 0
    sents = [p[0] for p in pairs]
    golds = [p[1] for p in pairs]
    tag_idx = tt.tag_idx

    obs = BatchObs(sents, tt.u_templates + tt.b_templates)
    S, P = obs.S, obs.P
    lengths, pos_start = obs.lengths, obs.pos_start
    is_word, mid_idx = obs.is_word, obs.mid_idx
    first_rows, stop_rows = obs.first_rows, obs.stop_rows
    sent_of = obs.sent_of

    # gold tag ids per flat position (word rows; -1 on STOP slots)
    flat_gold = np.empty(int(lengths.sum()), dtype=object)
    k = 0
    for g in golds:
        flat_gold[k : k + len(g)] = g
        k += len(g)
    gcodes, guniq = pd.factorize(flat_gold)
    glut = np.array([tag_idx[t] for t in guniq], dtype=np.int64)
    gold_flat = np.full(P, -1, dtype=np.int64)
    gold_flat[np.nonzero(is_word)[0]] = glut[gcodes]
    gold_first = gold_flat[first_rows]
    gold_last = gold_flat[stop_rows - 1]

    # dense pure-B weight grid (missing fid -> 0, as in the scalar path)
    bp_f = tt.bp_fid
    bp_w = np.where(bp_f >= 0, w64[np.maximum(bp_f, 0)], 0.0)

    def csr(uniq_strs, table, r, width):
        """Per-unique-obs feature segments: (ids, fid_flat, cols_flat[,..],
        seg_start, seg_len). ``width`` = tuple length in the fid lists."""
        ids = np.full(len(uniq_strs), -1, dtype=np.int64)
        chunks = []
        n_seg = 0
        for j in range(len(uniq_strs)):
            lst = table.get((r, uniq_strs[j]))
            if lst:
                ids[j] = n_seg
                chunks.append(lst)
                n_seg += 1
        if not chunks:
            return None
        seg_len = np.array([len(c) for c in chunks], dtype=np.int64)
        seg_start = np.zeros(n_seg, dtype=np.int64)
        np.cumsum(seg_len[:-1], out=seg_start[1:])
        flat = np.array(
            [x for c in chunks for x in c], dtype=np.int64
        ).reshape(-1, width)
        return ids, flat, seg_start, seg_len

    def expand(pos_ids, seg_ids, seg_start, seg_len):
        cnt = seg_len[seg_ids]
        tot = int(cnt.sum())
        pos_exp = np.repeat(pos_ids, cnt)
        base = np.repeat(seg_start[seg_ids], cnt)
        cum = np.cumsum(cnt)
        within = np.arange(tot, dtype=np.int64) - np.repeat(cum - cnt, cnt)
        return pos_exp, base + within

    fid_acc: list[np.ndarray] = []
    val_acc: list[np.ndarray] = []
    gold_sum = np.zeros(S)  # per-sentence gold score (loss needs it)

    # ---- unigram features: potentials now, expectations after marginals
    U64 = np.zeros((P, K))
    u_phase2 = []  # (pos_exp, fid_exp, ci_exp)
    for r, (_, offs, xf) in enumerate(tt.u_templates):
        codes, uniq_strs = obs.template_codes(offs, xf)
        got = csr(uniq_strs, tt.u_fids, r, 2)
        if got is not None:
            ids, flat, seg_start, seg_len = got
            pid = ids[codes]
            pos_ids = np.nonzero((pid >= 0) & is_word)[0]
            if len(pos_ids):
                pos_exp, fi = expand(pos_ids, pid[pos_ids], seg_start, seg_len)
                fid_exp, ci_exp = flat[fi, 0], flat[fi, 1]
                # np.add.at, not fancy-index +=: the registry invariant
                # gives at most one fid per (rule, obs, tag) so the two
                # agree TODAY, but += silently drops duplicate (pos, ci)
                # contributions if that invariant ever changes; every
                # other scatter site here already uses the buffered form
                np.add.at(U64, (pos_exp, ci_exp), w64[fid_exp])
                u_phase2.append((pos_exp, fid_exp, ci_exp))
    # STOP-tag unigrams: expectation (+1, fires with prob 1) and gold (-1)
    # cancel exactly in the gradient; only the weight enters logZ and the
    # gold score, as the per-sentence scalar ``stop_u``
    stop_u_vec = np.zeros(S)
    if tt.u_stop_fids:
        for r, (_, offs, xf) in enumerate(tt.u_templates):
            codes, uniq_strs = obs.template_codes(offs, xf)
            sgot = csr(uniq_strs, tt.u_stop_fids, r, 1)
            if sgot is not None:
                ids, flat, seg_start, seg_len = sgot
                pid = ids[codes[stop_rows]]
                rows = np.nonzero(pid >= 0)[0]
                if len(rows):
                    s_exp, fi = expand(rows, pid[rows], seg_start, seg_len)
                    stop_u_vec += np.bincount(
                        s_exp, weights=w64[flat[fi, 0]], minlength=S
                    )

    # ---- observation-bigram features
    start_v = U64[first_rows].copy()
    start_phase2 = []  # (s_exp, fid_exp, ci_exp)
    for r, (_, offs, xf) in enumerate(tt.b_templates):
        codes, uniq_strs = obs.template_codes(offs, xf)
        got = csr(uniq_strs, tt.bo_start_fids, r, 2)
        if got is not None:
            ids, flat, seg_start, seg_len = got
            pid = ids[codes[first_rows]]
            rows = np.nonzero(pid >= 0)[0]
            if len(rows):
                s_exp, fi = expand(rows, pid[rows], seg_start, seg_len)
                fid_exp, ci_exp = flat[fi, 0], flat[fi, 1]
                np.add.at(start_v, (s_exp, ci_exp), w64[fid_exp])
                start_phase2.append((s_exp, fid_exp, ci_exp))
    start_v += bp_w[K, :K][None, :]

    stop_v = np.zeros((S, K))
    stop_phase2 = []  # (s_exp, fid_exp, pi_exp)
    for r, (_, offs, xf) in enumerate(tt.b_templates):
        codes, uniq_strs = obs.template_codes(offs, xf)
        got = csr(uniq_strs, tt.bo_stop_fids, r, 2)
        if got is not None:
            ids, flat, seg_start, seg_len = got
            pid = ids[codes[stop_rows]]
            rows = np.nonzero(pid >= 0)[0]
            if len(rows):
                s_exp, fi = expand(rows, pid[rows], seg_start, seg_len)
                fid_exp, pi_exp = flat[fi, 0], flat[fi, 1]
                np.add.at(stop_v, (s_exp, pi_exp), w64[fid_exp])
                stop_phase2.append((s_exp, fid_exp, pi_exp))
    stop_v += bp_w[:K, K][None, :]

    # mid-position bigram entries (pos, fid, pi, ci), concatenated over
    # rules then sorted by flat position for per-(chunk, step) slicing
    e_pos, e_fid, e_pi, e_ci = [], [], [], []
    for r, (_, offs, xf) in enumerate(tt.b_templates):
        codes, uniq_strs = obs.template_codes(offs, xf)
        got = csr(uniq_strs, tt.bo_fids, r, 3)
        if got is not None:
            ids, flat, seg_start, seg_len = got
            pid = ids[codes[mid_idx]]
            rows = np.nonzero(pid >= 0)[0]
            if len(rows):
                m_exp, fi = expand(rows, pid[rows], seg_start, seg_len)
                e_pos.append(mid_idx[m_exp])
                e_fid.append(flat[fi, 0])
                e_pi.append(flat[fi, 1])
                e_ci.append(flat[fi, 2])
    if e_pos:
        e_pos = np.concatenate(e_pos)
        e_fid = np.concatenate(e_fid)
        e_pi = np.concatenate(e_pi)
        e_ci = np.concatenate(e_ci)
        order_e = np.argsort(e_pos, kind="stable")
        e_pos, e_fid, e_pi, e_ci = (
            e_pos[order_e], e_fid[order_e], e_pi[order_e], e_ci[order_e],
        )
        e_w = w64[e_fid]
        em_vals = np.empty(len(e_pos))
    else:
        e_pos = np.empty(0, dtype=np.int64)
        em_vals = np.empty(0)

    # ---- batched forward-backward over length-sorted chunks
    order = np.argsort(-lengths, kind="stable")
    node_m = np.zeros((P, K))  # word rows get filled; STOP rows unused
    stop_m = np.zeros((S, K))
    em_total = np.zeros((K, K))
    logZ = np.zeros(S)

    def lse(a, axis):
        m = np.max(a, axis=axis, keepdims=True)
        return np.squeeze(
            m + np.log(np.sum(np.exp(a - m), axis=axis, keepdims=True)),
            axis=axis,
        )

    # adaptive chunk: bound the (nc, maxT, K) alpha tensor
    max_cells = 8_000_000
    c0 = 0
    while c0 < S:
        maxT0 = int(lengths[order[c0]])
        cap = max(1, max_cells // max(maxT0 * K, 1))
        chunk = order[c0 : c0 + min(1024, cap)]
        c0 += len(chunk)
        nc = len(chunk)
        cl = lengths[chunk]  # descending
        maxT = int(cl[0])
        first = pos_start[chunk]
        row_of_sent = np.full(S, -1, dtype=np.int64)
        row_of_sent[chunk] = np.arange(nc)

        # per-(step) entry slices for this chunk: entries at positions
        # belonging to chunk sentences, keyed by local t
        if len(e_pos):
            in_chunk = row_of_sent[sent_of[e_pos]] >= 0
            eidx = np.nonzero(in_chunk)[0]
            et = obs.t_local[e_pos[eidx]]
            erow = row_of_sent[sent_of[e_pos[eidx]]]
            eord = np.argsort(et, kind="stable")
            eidx, et, erow = eidx[eord], et[eord], erow[eord]
            t_bounds = np.searchsorted(et, np.arange(maxT + 1))
        else:
            eidx = np.empty(0, dtype=np.int64)

        def pots_at(t, na):
            """(na, K, K) potentials for transition (t-1 -> t): obs at
            position t; rows are the first ``na`` chunk sentences."""
            pots = bp_w[None, :K, :K] + U64[first[:na] + t][:, None, :]
            if len(eidx):
                lo, hi = t_bounds[t], t_bounds[t + 1]
                sl = slice(lo, hi)
                rows_l = erow[sl]
                keep = rows_l < na
                if keep.any():
                    np.add.at(
                        pots,
                        (rows_l[keep], e_pi[eidx[sl]][keep], e_ci[eidx[sl]][keep]),
                        e_w[eidx[sl]][keep],
                    )
            return pots

        alpha = np.zeros((nc, maxT, K))
        alpha[:, 0] = start_v[chunk]
        for t in range(1, maxT):
            na = int(np.searchsorted(-cl, -(t + 1), side="right"))
            pots = pots_at(t, na)
            alpha[:na, t] = lse(
                alpha[:na, t - 1][:, :, None] + pots, axis=1
            )
        sv = stop_v[chunk] + stop_u_vec[chunk][:, None]
        fin = alpha[np.arange(nc), cl - 1] + sv
        logZ[chunk] = lse(fin, axis=1)
        stop_m[chunk] = np.exp(fin - logZ[chunk][:, None])

        beta = np.empty((nc, K))
        for t in range(maxT - 1, -1, -1):
            n_t = int(np.searchsorted(-cl, -(t + 1), side="right"))
            n_t1 = int(np.searchsorted(-cl, -(t + 2), side="right"))
            if n_t1 < n_t:  # sentences whose last position is t
                beta[n_t1:n_t] = sv[n_t1:n_t]
            if n_t1 > 0:  # recurse over transition (t -> t+1)
                pots = pots_at(t + 1, n_t1)
                em = np.exp(
                    alpha[:n_t1, t][:, :, None]
                    + pots
                    + beta[:n_t1, None, :]
                    - logZ[chunk[:n_t1]][:, None, None]
                )
                em_total += em.sum(axis=0)
                if len(eidx):
                    lo, hi = t_bounds[t + 1], t_bounds[t + 2]
                    sl = slice(lo, hi)
                    rows_l = erow[sl]
                    keep = rows_l < n_t1
                    if keep.any():
                        tgt = eidx[sl][keep]
                        em_vals[tgt] = em[
                            rows_l[keep], e_pi[tgt], e_ci[tgt]
                        ]
                beta[:n_t1] = lse(pots + beta[:n_t1, None, :], axis=2)
            node_m[first[:n_t] + t] = np.exp(
                alpha[:n_t, t] + beta[:n_t] - logZ[chunk[:n_t]][:, None]
            )

    # ---- phase 2: expectations minus gold counts -> grad, gold score
    for pos_exp, fid_exp, ci_exp in u_phase2:
        sel = ci_exp == gold_flat[pos_exp]
        fid_acc.append(fid_exp)
        val_acc.append(node_m[pos_exp, ci_exp] - sel)
        gold_sum += np.bincount(
            sent_of[pos_exp[sel]], weights=w64[fid_exp[sel]], minlength=S
        )
    for s_exp, fid_exp, ci_exp in start_phase2:
        sel = ci_exp == gold_first[s_exp]
        fid_acc.append(fid_exp)
        val_acc.append(node_m[first_rows[s_exp], ci_exp] - sel)
        gold_sum += np.bincount(
            s_exp[sel], weights=w64[fid_exp[sel]], minlength=S
        )
    for s_exp, fid_exp, pi_exp in stop_phase2:
        sel = pi_exp == gold_last[s_exp]
        fid_acc.append(fid_exp)
        val_acc.append(stop_m[s_exp, pi_exp] - sel)
        gold_sum += np.bincount(
            s_exp[sel], weights=w64[fid_exp[sel]], minlength=S
        )
    if len(e_pos):
        sel = (e_pi == gold_flat[e_pos - 1]) & (e_ci == gold_flat[e_pos])
        fid_acc.append(e_fid)
        val_acc.append(em_vals - sel)
        gold_sum += np.bincount(
            sent_of[e_pos[sel]], weights=e_w[sel], minlength=S
        )

    # pure-B: START row / mid grid / STOP column
    start_counts = np.bincount(gold_first, minlength=K).astype(float)
    stop_counts = np.bincount(gold_last, minlength=K).astype(float)
    gp = gold_flat[mid_idx - 1]
    gc = gold_flat[mid_idx]
    mid_counts = np.bincount(gp * K + gc, minlength=K * K).astype(float).reshape(
        K, K
    )
    grid_vals = np.zeros((K + 1, K + 1))
    grid_vals[:K, :K] = em_total - mid_counts
    grid_vals[K, :K] = node_m[first_rows].sum(axis=0) - start_counts
    grid_vals[:K, K] = stop_m.sum(axis=0) - stop_counts
    mask = bp_f >= 0
    if mask.any():
        fid_acc.append(bp_f[mask])
        val_acc.append(grid_vals[mask])
    # gold pure-B score per sentence (missing fids contribute 0)
    gold_sum += bp_w[K, :K][gold_first]
    gold_sum += bp_w[:K, K][gold_last]
    gold_sum += np.bincount(
        sent_of[mid_idx], weights=bp_w[:K, :K][gp, gc], minlength=S
    )
    # STOP-tag unigram gold score (grad contributions cancelled above)
    gold_sum += stop_u_vec

    if fid_acc:
        grad += np.bincount(
            np.concatenate(fid_acc),
            weights=np.concatenate(val_acc),
            minlength=len(grad),
        )

    loss = logZ - gold_sum
    finite = np.isfinite(loss)
    return float(loss[finite].sum()), int(finite.sum())


def train_crf(
    sentences: DataFrame,
    model: CRFModel | None = None,
    epochs: int = 5,
    lr: float = 0.05,
    l2: float = 0.0,
    optimizer: str = "sgd",
    epoch_callback=None,
    average_from: int = 0,
) -> tuple[CRFModel, list[float]]:
    """Full-batch distributed CRF training. Each epoch: broadcast weights,
    compute exact gradient via forward-backward in mapInPandas (emitted as
    sparse (fid, grad) rows, reduced by a hash aggregate), apply the
    update on the driver. ``optimizer``: 'sgd' or 'adagrad' (per-feature
    adaptive steps -- much faster convergence on sparse CRF features).
    ``average_from`` > 0 returns Polyak-style tail-averaged weights (mean
    of per-epoch weight snapshots from that epoch onward) instead of the
    final iterate -- on the full English corpus the averaged vector beats
    every individual checkpoint (val F1 0.874 vs 0.866, BENCH/BASELINE.md
    run 5): the late-epoch Adagrad+L2 oscillation is noise around a
    better mean. Driver-side cost: one weight-vector add per epoch.
    Returns (model, per-epoch mean losses)."""
    spark = sentences.sparkSession
    if model is None:
        model = build_registry(sentences)
    tt_bc = spark.sparkContext.broadcast(model)
    g2_acc = np.zeros(model.n_features) if optimizer == "adagrad" else None
    avg_sum, avg_n = None, 0

    data = sentences.select("tokens", "tags").where(F.size("tokens") > 0)
    data = data.persist()
    n_sent = data.count()
    losses: list[float] = []

    for _ in range(epochs):
        w_bc = spark.sparkContext.broadcast(model.weights.astype(np.float64))

        def epoch_grad(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            tt = _TrainTables(tt_bc.value)
            w64 = w_bc.value
            grad = np.zeros(len(w64))
            loss_total = 0.0
            n = 0
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                loss, cnt = _batch_grad(
                    list(pdf["tokens"]), list(pdf["tags"]), tt, w64, grad
                )
                loss_total += loss
                n += cnt
            nz = np.nonzero(grad)[0]
            out = pd.DataFrame({"fid": nz.astype(np.int64), "g": grad[nz]})
            out = pd.concat(
                [out, pd.DataFrame({"fid": [-1], "g": [loss_total]}),
                 pd.DataFrame({"fid": [-2], "g": [float(n)]})]
            )
            yield out

        agg = (
            data.mapInPandas(epoch_grad, schema="fid long, g double")
            .groupBy("fid")
            .agg(F.sum("g").alias("g"))
            .collect()
        )
        grad = np.zeros(model.n_features)
        loss_sum = 0.0
        for r in agg:
            if r.fid == -1:
                loss_sum = r.g
            elif r.fid >= 0:
                grad[r.fid] = r.g
        if l2 > 0:
            grad += l2 * model.weights.astype(np.float64)
        grad /= max(n_sent, 1)
        if optimizer == "adagrad":
            g2_acc += grad * grad
            step = lr * grad / (np.sqrt(g2_acc) + 1e-8)
        else:
            step = lr * grad
        model.weights = (model.weights.astype(np.float64) - step).astype(np.float32)
        losses.append(loss_sum / max(n_sent, 1))
        if average_from and len(losses) >= average_from:
            w = model.weights.astype(np.float64)
            avg_sum = w if avg_sum is None else avg_sum + w
            avg_n += 1
        w_bc.destroy()
        if epoch_callback is not None:
            epoch_callback(len(losses), model, losses[-1])
    data.unpersist()
    if avg_n:
        model.weights = (avg_sum / avg_n).astype(np.float32)
    return model, losses
