"""Deduplication operators for large-scale training-data pipelines.

All pure Spark SQL (no Python UDFs): the hash primitive shared with the
DuckDB oracles is MD5 (identical hex output in both engines), so every
operator here is exactly cross-checkable.

* exact_duplicates      -- hash-groupBy exact dedup
* minhash_near_duplicates -- shingle -> MinHash -> LSH banding ->
  candidate pairs -> exact shingle-set Jaccard confirm (the classic
  Broder pipeline; banding keeps the join linear in corpus size)
* jaccard_near_duplicates -- exhaustive shingle-set Jaccard over the
  pairs that share a rare shingle (one inverted list per shingle)
* simhash_fingerprints  -- bit-vote fingerprint over token hashes
  (Charikar); equal fingerprints = near-dup bucket
* winnowing_fingerprints -- MOSS-style winnowed k-gram fingerprints
  (Schleimer et al.): local-min sampling of rolling k-gram hashes,
  robust to insertions/reorderings for overlap detection
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import fan_out

N_SHINGLE = 5
N_MINHASH = 12
BAND_SIZE = 3
SIMHASH_BITS = 16
WINNOW_K = 4
WINNOW_W = 5


def _tokens(df: DataFrame, text_col: str) -> F.Column:
    return F.split(F.col(text_col), " ")


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_md5"))
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("keep_doc_id"))
    )


def shingle_sets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = N_SHINGLE) -> DataFrame:
    toks = _tokens(df, text_col)
    size = F.size(toks)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(size - (n - 1), F.lit(1))),
                lambda i: F.array_join(F.slice(toks, i, F.lit(n)), " "),
            )
        ).alias("shingles"),
    )


def minhash_signature_cols(n_hashes: int = N_MINHASH) -> list:
    """Numeric 60-bit MinHash signature columns over a ``shingles`` array
    column: per-row ``array_min`` of ``conv(md5-prefix)`` values. The ONE
    signature-expression builder shared by the library operator and the
    ``dedup_minhash`` entry query (round-6 verdict: the two had diverged
    -- the operator took string mins at ~4x the comparison cost and a
    different hash domain than the measured query plan).

    Per-row array_min instead of explode + groupBy(min): identical values
    (min over the same distinct set) with ZERO shuffles before the band
    join -- the explode form costs a whole exchange of one row per doc
    and, for string signatures, planned as a SortAggregate. Numeric
    (BIGINT) min is also what the DuckDB oracle mirrors exactly
    (hex prefix -> BIGINT).

    The transform lambda MUST be single-argument: pyspark binds a
    two-argument lambda as (element, index), so the round-6 operator's
    ``lambda s, j=j`` idiom silently rebound j to the index COLUMN and
    interpolated its repr into the hash prefix -- a hash family that
    changed with the expression-tree build counter (caught round 7 by
    the planted-near-dup gate going flaky)."""

    def sig(j: int):
        prefix = f"{j}:"
        return F.array_min(
            F.transform(
                "shingles",
                lambda s: F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(prefix), s).cast("binary")), 1, 15
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        ).alias(f"h{j}")

    return [sig(j) for j in range(n_hashes)]


def minhash_band_col(n_hashes: int = N_MINHASH, band_size: int = BAND_SIZE):
    """LSH band entries (band, bh) from the numeric signature columns:
    band hash = md5 of the concatenated decimal renderings -- the exact
    construction the DuckDB oracle replays
    (``md5(CAST(h0 AS VARCHAR) || ...)``)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat(
                            *[
                                F.col(f"h{b * band_size + k}").cast("string")
                                for k in range(band_size)
                            ]
                        ).cast("binary")
                    ).alias("bh"),
                )
                for b in range(n_hashes // band_size)
            ]
        )
    ).alias("bk")


def _exchanged(df: DataFrame) -> DataFrame:
    """``df`` behind a round-robin exchange ABOVE its computed columns.

    A frame several subtrees of one query consume is otherwise evaluated
    once per consumer: ``fan_out``'s exchange sits below the projection,
    so only the scan and shuffle are shared. With the exchange above it,
    the consumers' exchanges are identical and AQE's stage reuse feeds
    them all from one materialized shuffle -- the projection runs once,
    without persisting anything.

    Rows with a null ``doc_id`` are dropped below the exchange: they can
    be in no output pair, and a consumer that joins on the id would
    otherwise infer that filter, push it below its own copy of the
    exchange, and so stop that copy matching the others.

    Limit: AQE keys a cached input's table-cache stage by its stage id,
    so no exchange above a cached (``persist``-ed) input is ever reused
    and every consumer recomputes its copy, this one included."""
    return df.where(F.col("doc_id").isNotNull()).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )


def _confirm(cands: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact shingle-set Jaccard over candidate (doc_a, doc_b) pairs,
    kept at >= threshold. ``sh`` is an ``_exchanged`` shingle frame; both
    sides join it under aliases, not renaming projections, because the
    optimizer collapses a pure rename into the projection below the
    exchange, and the renamed exchange would no longer match the others."""
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = F.size(F.array_intersect("sa.shingles", "sb.shingles"))
    union = F.size(F.array_union("sa.shingles", "sb.shingles"))
    return (
        cands.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a", "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    n_hashes: int = N_MINHASH,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for LSH-candidate pairs clearing the exact
    Jaccard threshold.

    Each per-document array is computed once per query, with no caching
    (the shingle frame is larger than the input, so a persisted copy
    spills at corpus scale and leaks blocks in long-lived sessions).
    ``fan_out`` spreads the scan so shingling runs on every core; the
    shingle frame then sits behind its own exchange, read by both the
    signature projection and both confirm sides; the signature frame sits
    behind another, read by both sides of the (band, bh) self-join.
    Without them each side of the self-join computes its own signatures,
    and each consumer its own shingles. Signatures are per-row numeric
    mins (see minhash_signature_cols) -- no hash shuffle until the band
    join."""
    sh = _exchanged(shingle_sets(fan_out(df), text_col, id_col))
    minhashes = _exchanged(sh.select("doc_id", *minhash_signature_cols(n_hashes)))
    bands = minhashes.select(
        "doc_id", minhash_band_col(n_hashes, band_size)
    ).select("doc_id", "bk.band", "bk.bh")
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            [
                F.col("a.band") == F.col("b.band"),
                F.col("a.bh") == F.col("b.bh"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _confirm(cands, sh, threshold)


def jaccard_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    df_cap: int = 20,
) -> DataFrame:
    """Exhaustive n-gram Jaccard near-dup detection (no hashing
    approximation): candidate pairs share at least one RARE shingle,
    then exact shingle-set Jaccard confirms.

    The scale knob is ``df_cap``: shingles with document frequency above
    it are stop-shingles and generate no candidates, bounding each
    shingle's fan-out at df_cap^2 pairs regardless of corpus size
    (the standard inverted-index trick; boilerplate shingles would
    otherwise pair every document with every other). The tradeoff is
    recall on pairs that share ONLY stop-shingles -- by construction
    those pairs overlap on text every >df_cap documents repeat.
    Complement to minhash_near_duplicates: exact among rare-shingle
    pairs vs probabilistic-but-cheaper banding.

    Candidates come from one inverted list per shingle: a single
    ``groupBy(sh)`` collects each shingle's documents, and lists of 2 to
    ``df_cap`` ids emit their ordered pairs. The shingle frame sits
    behind one exchange read by that aggregate and by both confirm sides,
    so it is computed once, uncached (same rationale as
    minhash_near_duplicates). ``explode_outer`` plus an explicit null
    filter, not ``explode``: ``explode`` makes Catalyst infer
    ``size(shingles) > 0`` and push it through the exchanges into the
    scan, which would run the whole shingle expression inside the scan
    task. The null filter keeps null-text documents (shingles ``[null]``)
    out of every list.
    """
    sh = _exchanged(shingle_sets(fan_out(df), text_col, id_col))
    lists = (
        sh.select("doc_id", F.explode_outer("shingles").alias("sh"))
        .where(F.col("sh").isNotNull())
        .groupBy("sh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids").between(2, df_cap))
    )
    cands = (
        lists.select("ids", F.posexplode("ids").alias("i", "doc_a"))
        .select(
            "doc_a",
            F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("doc_b"),
        )
        # ids are sorted, so this drops only pairs of a repeated id
        .where(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    return _confirm(cands, sh, threshold)


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = SIMHASH_BITS
) -> DataFrame:
    """(doc_id, simhash) -- per-bit majority vote over token hashes.

    Token hash = first 15 hex digits of md5 (60 bits, positive bigint) so
    the construction is reproducible in any engine with md5.
    """
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tokens(df, text_col)).alias("tok"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    fp = None
    for i in range(bits):
        term = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.cast("long").alias("simhash"))


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """MOSS winnowing: hash every k-gram of tokens, keep the min hash of
    each w-window, dedupe -> (doc_id, fingerprint). Window min runs as a
    bounded sliding frame per document (rowsBetween), no global sort."""
    toks = _tokens(df, text_col)
    size = F.size(toks)
    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(size - (k - 1), F.lit(1))),
                lambda i: F.array_join(F.slice(toks, i, F.lit(k)), " "),
            )
        ).alias("pos", "gram"),
    ).select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("gh"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.select("doc_id", F.min("gh").over(win).alias("fingerprint"))
        .distinct()
    )
