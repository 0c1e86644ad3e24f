"""Driver-contract queries: every SURVEY.md SS2 operator exercised over the
shared /root/testdata tables, each with an ANSI-SQL DuckDB oracle where the
semantics are SQL-expressible (the driver hash-compares results at sf0.01).

The NER/KG pipeline's learned stage (Viterbi) is not SQL-expressible, so
the inventory is split:

* counting/aggregation operators (A1-A5), evaluation (A9), mention
  assembly (K3), relation templating (K4), edge aggregation (K8), dedup,
  similarity search, and text analysis run against the ``documents`` /
  ``embeddings`` / TPC-H-ish tables with exact SQL oracles. Mention
  assembly uses a *dictionary tagging* of the closed testdata vocabulary so
  that the Spark span kernel can be checked against a pure-SQL
  gaps-and-islands oracle.
* HMM train+decode (W1, A6-A7) is exposed as a rows-only query
  (``hmm_decode_dict``); its real correctness gate is the bit-match test
  suite against the reference implementation.

Determinism rules for oracle parity (driver hashes values): no
float-accumulation queries -- sums happen over integers (quantized cents /
fixed-point embeddings), divisions are single IEEE ops on identical
integers, so Spark and DuckDB produce bit-identical doubles.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# committed trained-CRF decode artifact (tools/make_crf_dict_artifact.py)
_CRF_ART_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "artifacts", "crf_dict_model",
)

# ---- dictionary tagging of the closed testdata vocabulary ----
OP_WORDS = ["agg", "filter", "group", "hash", "join", "merge", "query", "scan", "sort"]
OBJ_WORDS = [
    "batch", "column", "customer", "data", "key", "line", "order", "part",
    "row", "stream", "table", "value", "vector", "window",
]
# a deliberately weaker dictionary: the "model under evaluation" for A9
OP_COARSE = ["filter", "group", "hash", "join", "merge", "scan", "sort"]
OBJ_COARSE = ["batch", "column", "customer", "data", "key", "line", "order", "part", "row", "table", "value"]
STOPWORDS = ["the", "a", "big", "small", "fast", "slow"]

N_SHINGLE = 5
N_MINHASH = 12
BAND_SIZE = 3
JACCARD_THRESHOLD = 0.7


def _sql_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


from ..operators.partitioning import fan_out as _fan_out  # noqa: E402


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT fanned out here: a blanket repartition is re-executed once per
    # consumer of the subtree (train_hmm alone has 5 union branches) and
    # re-ran 2-4x slower on the multi-consumer kg plans; _fan_out is
    # applied per-pipeline where the map-side work dominates (dedup
    # shingle hashing, sim_topk dot products, fused decode inputs).
    return _docs(spark, sf_dir).withColumn("toks", F.split("text", " "))


def _dict_tags(prefix: str) -> Column:
    """Dictionary tagging of ``toks``: OP_WORDS -> ``{prefix}-OP``,
    OBJ_WORDS -> ``{prefix}-OBJ``, every other word ``O``."""
    return F.transform(
        "toks",
        lambda w: F.when(w.isin(OP_WORDS), f"{prefix}-OP")
        .when(w.isin(OBJ_WORDS), f"{prefix}-OBJ")
        .otherwise("O"),
    )


def _word_tag_rows(decoded: DataFrame) -> DataFrame:
    """(doc_id, pos, word, tag) rows of a decoded frame: the shape the
    decode oracles compare."""
    wt = F.arrays_zip(F.col("tokens").alias("word"), F.col("tags_pred").alias("tag"))
    return decoded.select("doc_id", F.posexplode(wt).alias("pos", "wt")).select(
        "doc_id", "pos", F.col("wt.word").alias("word"), F.col("wt.tag").alias("tag")
    )


def _dict_class(col, op=OP_WORDS, obj=OBJ_WORDS):
    return (
        F.when(col.isin(op), "OP").when(col.isin(obj), "OBJ").otherwise("O")
    )


# =====================================================================
# A1-A5: counting aggregations (model-estimation core)
# =====================================================================

def q_word_count(spark, sf_dir):
    return (
        _toks(spark, sf_dir)
        .select(F.explode("toks").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


SQL_WORD_COUNT = """
SELECT tok AS word, count(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY tok
"""


def q_initial_token_count(spark, sf_dir):
    return (
        _toks(spark, sf_dir)
        .select(F.element_at("toks", 1).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


SQL_INITIAL_TOKEN_COUNT = """
SELECT string_split(text, ' ')[1] AS word, count(*) AS cnt
FROM documents GROUP BY 1
"""


def q_transition_count(spark, sf_dir):
    t = _toks(spark, sf_dir)
    n = F.size("toks")
    return (
        t.where(n >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, n - 1).alias("prev"),
                    F.slice(F.col("toks"), F.lit(2), n - 1).alias("curr"),
                )
            ).alias("pc")
        )
        .select(F.col("pc.prev").alias("prev"), F.col("pc.curr").alias("curr"))
        .groupBy("prev", "curr")
        .agg(F.count("*").alias("cnt"))
    )


SQL_TRANSITION_COUNT = """
WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
p AS (SELECT unnest(generate_series(1, len(toks) - 1)) AS i, toks FROM t)
SELECT toks[i] AS prev, toks[i + 1] AS curr, count(*) AS cnt
FROM p GROUP BY 1, 2
"""


def q_emission_count(spark, sf_dir):
    return (
        _toks(spark, sf_dir)
        .select(F.explode("toks").alias("word"))
        .select(_dict_class(F.col("word")).alias("tag"), "word")
        .groupBy("tag", "word")
        .agg(F.count("*").alias("cnt"))
    )


SQL_EMISSION_COUNT = f"""
SELECT CASE WHEN tok IN ({_sql_list(OP_WORDS)}) THEN 'OP'
            WHEN tok IN ({_sql_list(OBJ_WORDS)}) THEN 'OBJ'
            ELSE 'O' END AS tag,
       tok AS word, count(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY 1, 2
"""


# =====================================================================
# K3: mention assembly (span runs) -- Spark span kernel vs SQL islands
# =====================================================================

def q_dict_mentions(spark, sf_dir):
    from ..operators.mentions import extract_mentions

    tagged = _toks(spark, sf_dir).select(
        "doc_id",
        F.col("toks").alias("tokens"),
        _dict_tags("I").alias("tags_pred"),
    )
    return extract_mentions(tagged, key_cols=("doc_id",)).select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "entity_type",
        "surface",
    )


SQL_DICT_MENTIONS = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
tok AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks FROM t),
cls AS (
  SELECT doc_id, i, toks[i] AS word,
    CASE WHEN toks[i] IN ({_sql_list(OP_WORDS)}) THEN 'OP'
         WHEN toks[i] IN ({_sql_list(OBJ_WORDS)}) THEN 'OBJ'
         ELSE 'O' END AS c
  FROM tok),
isl AS (
  SELECT *, i - row_number() OVER (PARTITION BY doc_id, c ORDER BY i) AS grp
  FROM cls WHERE c <> 'O')
SELECT doc_id, min(i) - 1 AS span_start, max(i) AS span_end,
       c AS entity_type, string_agg(word, ' ' ORDER BY i) AS surface
FROM isl GROUP BY doc_id, c, grp
"""

# =====================================================================
# K4/K8: relation templating on adjacent spans + edge aggregation
# =====================================================================

def q_dict_triples(spark, sf_dir):
    # Adjacency via lead() instead of a self-join: spans within a doc are
    # non-overlapping and sorted, so a span whose start equals this span's
    # end can only be the immediate successor. One window = one shuffle AND
    # the upstream python span-extraction stage runs once, not twice
    # (a self-join of a mapInPandas output recomputes it per side).
    m = q_dict_mentions(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("span_start")
    nxt = m.select(
        "doc_id",
        "span_start",
        "span_end",
        "entity_type",
        "surface",
        F.lead("span_start").over(w).alias("b_start"),
        F.lead("entity_type").over(w).alias("b_type"),
        F.lead("surface").over(w).alias("b_surface"),
    ).where(F.col("b_start") == F.col("span_end"))
    pred = (
        F.when((F.col("entity_type") == "OP") & (F.col("b_type") == "OBJ"), "operates_on")
        .when((F.col("entity_type") == "OBJ") & (F.col("b_type") == "OP"), "feeds")
    )
    return nxt.select(
        "doc_id",
        "span_start",
        F.col("surface").alias("subj"),
        pred.alias("pred"),
        F.col("b_surface").alias("obj"),
    )


_SQL_MENTIONS_INNER = f"""
  WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
  tok AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks FROM t),
  cls AS (
    SELECT doc_id, i, toks[i] AS word,
      CASE WHEN toks[i] IN ({_sql_list(OP_WORDS)}) THEN 'OP'
           WHEN toks[i] IN ({_sql_list(OBJ_WORDS)}) THEN 'OBJ'
           ELSE 'O' END AS c
    FROM tok),
  isl AS (
    SELECT *, i - row_number() OVER (PARTITION BY doc_id, c ORDER BY i) AS grp
    FROM cls WHERE c <> 'O'),
  men AS (
    SELECT doc_id, min(i) - 1 AS span_start, max(i) AS span_end,
           c AS entity_type, string_agg(word, ' ' ORDER BY i) AS surface
    FROM isl GROUP BY doc_id, c, grp)
"""

SQL_DICT_TRIPLES = (
    _SQL_MENTIONS_INNER
    + """
SELECT a.doc_id AS doc_id, a.span_start AS span_start, a.surface AS subj,
       CASE WHEN a.entity_type = 'OP' AND b.entity_type = 'OBJ' THEN 'operates_on'
            WHEN a.entity_type = 'OBJ' AND b.entity_type = 'OP' THEN 'feeds' END AS pred,
       b.surface AS obj
FROM men a JOIN men b
  ON a.doc_id = b.doc_id AND a.span_end = b.span_start
"""
)


def q_edge_weights(spark, sf_dir):
    return (
        q_dict_triples(spark, sf_dir)
        .groupBy("subj", "pred", "obj")
        .agg(F.count("*").cast("double").alias("weight"))
    )


SQL_EDGE_WEIGHTS = (
    _SQL_MENTIONS_INNER
    + """
, tri AS (
  SELECT a.surface AS subj,
         CASE WHEN a.entity_type = 'OP' AND b.entity_type = 'OBJ' THEN 'operates_on'
              WHEN a.entity_type = 'OBJ' AND b.entity_type = 'OP' THEN 'feeds' END AS pred,
         b.surface AS obj
  FROM men a JOIN men b ON a.doc_id = b.doc_id AND a.span_end = b.span_start)
SELECT subj, pred, obj, CAST(count(*) AS DOUBLE) AS weight
FROM tri GROUP BY 1, 2, 3
"""
)


# =====================================================================
# A9: token-level P/R/F1 evaluation (check.py semantics, labels != O)
# =====================================================================

def q_eval_prf(spark, sf_dir):
    toks = _toks(spark, sf_dir).select(F.explode("toks").alias("word"))
    scored = toks.select(
        _dict_class(F.col("word")).alias("gold"),
        _dict_class(F.col("word"), OP_COARSE, OBJ_COARSE).alias("pred"),
    )
    out = []
    for label in ("OP", "OBJ"):
        g, p = F.col("gold") == label, F.col("pred") == label
        out.append(
            scored.agg(
                F.lit(label).alias("label"),
                F.sum((g & p).cast("long")).alias("tp"),
                F.sum((~g & p).cast("long")).alias("fp"),
                F.sum((g & ~p).cast("long")).alias("fn"),
            )
        )
    res = out[0].unionByName(out[1])
    prec = F.col("tp") / (F.col("tp") + F.col("fp"))
    rec = F.col("tp") / (F.col("tp") + F.col("fn"))
    return res.select(
        "label", "tp", "fp", "fn",
        prec.alias("precision"),
        rec.alias("recall"),
        (2 * prec * rec / (prec + rec)).alias("f1"),
    )


SQL_EVAL_PRF = f"""
WITH scored AS (
  SELECT CASE WHEN tok IN ({_sql_list(OP_WORDS)}) THEN 'OP'
              WHEN tok IN ({_sql_list(OBJ_WORDS)}) THEN 'OBJ' ELSE 'O' END AS gold,
         CASE WHEN tok IN ({_sql_list(OP_COARSE)}) THEN 'OP'
              WHEN tok IN ({_sql_list(OBJ_COARSE)}) THEN 'OBJ' ELSE 'O' END AS pred
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
counts AS (
  SELECT l.label,
         sum(CASE WHEN gold = l.label AND pred = l.label THEN 1 ELSE 0 END) AS tp,
         sum(CASE WHEN gold <> l.label AND pred = l.label THEN 1 ELSE 0 END) AS fp,
         sum(CASE WHEN gold = l.label AND pred <> l.label THEN 1 ELSE 0 END) AS fn
  FROM scored, (SELECT unnest(['OP', 'OBJ']) AS label) l
  GROUP BY l.label)
SELECT label, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
       CAST(tp AS DOUBLE) / (tp + fp) AS precision,
       CAST(tp AS DOUBLE) / (tp + fn) AS recall,
       2 * (CAST(tp AS DOUBLE) / (tp + fp)) * (CAST(tp AS DOUBLE) / (tp + fn))
         / ((CAST(tp AS DOUBLE) / (tp + fp)) + (CAST(tp AS DOUBLE) / (tp + fn))) AS f1
FROM counts
"""


# labels list for the sklearn-shaped report; MISC never occurs -> pins
# the fixed-label-list semantics (zero-support labels still count in the
# macro average denominator, exactly like sklearn with labels=[...])
EVAL_LABELS = ["OP", "OBJ", "MISC"]


def q_eval_report(spark, sf_dir):
    """check.py classification_report parity: per-label rows plus
    micro/macro/weighted averages over an explicit ordered label list."""
    from ..operators.evaluation import classification_report_pairs

    toks = _toks(spark, sf_dir).select(F.explode("toks").alias("word"))
    pairs = toks.select(
        _dict_class(F.col("word")).alias("gold"),
        _dict_class(F.col("word"), OP_COARSE, OBJ_COARSE).alias("pred"),
    )
    return classification_report_pairs(pairs, EVAL_LABELS)


def _eval_report_sql(labels=None) -> str:
    """SQL mirror of evaluation.classification_report_pairs: identical
    expression trees (single-division ratios, left-associated sums in
    label-list order) so doubles match bit-for-bit."""
    labels = labels or EVAL_LABELS
    n = len(labels)
    count_defs = []
    for i, l in enumerate(labels):
        count_defs += [
            f"CAST(sum(CASE WHEN gold = '{l}' AND pred = '{l}' THEN 1 ELSE 0 END) AS BIGINT) AS tp{i}",
            f"CAST(sum(CASE WHEN pred = '{l}' AND gold <> '{l}' THEN 1 ELSE 0 END) AS BIGINT) AS fp{i}",
            f"CAST(sum(CASE WHEN gold = '{l}' AND pred <> '{l}' THEN 1 ELSE 0 END) AS BIGINT) AS fn{i}",
        ]

    def p(i):
        return f"(CAST(tp{i} AS DOUBLE) / greatest(tp{i} + fp{i}, 1))"

    def r(i):
        return f"(CAST(tp{i} AS DOUBLE) / greatest(tp{i} + fn{i}, 1))"

    def f(i):
        return (
            f"(CASE WHEN {p(i)} + {r(i)} > 0 "
            f"THEN 2 * {p(i)} * {r(i)} / ({p(i)} + {r(i)}) ELSE 0.0 END)"
        )

    def sup(i):
        return f"(tp{i} + fn{i})"

    tot_sup = " + ".join(sup(i) for i in range(n))
    mic_tp = " + ".join(f"tp{i}" for i in range(n))
    mic_fp = " + ".join(f"fp{i}" for i in range(n))
    mic_fn = " + ".join(f"fn{i}" for i in range(n))
    mic_p = f"(CAST({mic_tp} AS DOUBLE) / greatest({mic_tp} + {mic_fp}, 1))"
    mic_r = f"(CAST({mic_tp} AS DOUBLE) / greatest({mic_tp} + {mic_fn}, 1))"
    mic_f = (
        f"(CASE WHEN {mic_p} + {mic_r} > 0 "
        f"THEN 2 * {mic_p} * {mic_r} / ({mic_p} + {mic_r}) ELSE 0.0 END)"
    )
    rows = [
        f"SELECT {i} AS label_idx, '{l}' AS label, {sup(i)} AS support, "
        f"{p(i)} AS precision, {r(i)} AS recall, {f(i)} AS f1 FROM c"
        for i, l in enumerate(labels)
    ]
    rows.append(
        f"SELECT {n} AS label_idx, 'micro_avg' AS label, {tot_sup} AS support, "
        f"{mic_p} AS precision, {mic_r} AS recall, {mic_f} AS f1 FROM c"
    )
    rows.append(
        f"SELECT {n + 1} AS label_idx, 'macro_avg' AS label, {tot_sup} AS support, "
        f"({' + '.join(p(i) for i in range(n))}) / {n} AS precision, "
        f"({' + '.join(r(i) for i in range(n))}) / {n} AS recall, "
        f"({' + '.join(f(i) for i in range(n))}) / {n} AS f1 FROM c"
    )
    rows.append(
        f"SELECT {n + 2} AS label_idx, 'weighted_avg' AS label, {tot_sup} AS support, "
        f"({' + '.join(f'{sup(i)} * {p(i)}' for i in range(n))}) / greatest({tot_sup}, 1) AS precision, "
        f"({' + '.join(f'{sup(i)} * {r(i)}' for i in range(n))}) / greatest({tot_sup}, 1) AS recall, "
        f"({' + '.join(f'{sup(i)} * {f(i)}' for i in range(n))}) / greatest({tot_sup}, 1) AS f1 FROM c"
    )
    return f"""
WITH scored AS (
  SELECT CASE WHEN tok IN ({_sql_list(OP_WORDS)}) THEN 'OP'
              WHEN tok IN ({_sql_list(OBJ_WORDS)}) THEN 'OBJ' ELSE 'O' END AS gold,
         CASE WHEN tok IN ({_sql_list(OP_COARSE)}) THEN 'OP'
              WHEN tok IN ({_sql_list(OBJ_COARSE)}) THEN 'OBJ' ELSE 'O' END AS pred
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
c AS (
  SELECT {', '.join(count_defs)}
  FROM scored)
{' UNION ALL '.join(rows)}
"""


# =====================================================================
# Dedup: exact + minhash-LSH-blocked shingle Jaccard
# =====================================================================

def q_dedup_exact(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_doc_id"))
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_md5, count(*) AS n_copies, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


def _shingles(spark, sf_dir):
    t = _toks(spark, sf_dir)
    n = F.size("toks")
    return t.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - (N_SHINGLE - 1), F.lit(1))),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i, F.lit(N_SHINGLE)), " "
                ),
            )
        ).alias("shingles"),
    )


def q_dedup_minhash(spark, sf_dir):
    """Near-duplicate pairs: MinHash-LSH banding for candidate generation,
    exact shingle-set Jaccard (>= 0.7) for confirmation.

    Delegates to operators/dedup.minhash_near_duplicates -- ONE minhash
    implementation (round-6 verdict ask #2): numeric 60-bit signatures as
    per-row array_min (zero shuffles before the band join; the previous
    explode + groupBy form paid a whole doc_id exchange for the same
    values), no shingle-frame persist (the shingle and signature frames
    each sit behind one round-robin exchange that all their consumers
    reuse, so each is computed once). The DuckDB oracle mirrors the exact
    hex-prefix -> BIGINT conversion and decimal band concatenation."""
    from ..operators.dedup import minhash_near_duplicates

    return minhash_near_duplicates(
        _docs(spark, sf_dir),
        threshold=JACCARD_THRESHOLD,
        n_hashes=N_MINHASH,
        band_size=BAND_SIZE,
    )


JACCARD_DF_CAP = 20


def q_jaccard_ngram(spark, sf_dir):
    """Exhaustive n-gram Jaccard near-dup pairs: candidates share >= 1
    rare shingle (document frequency <= cap -- the stop-shingle bound
    that keeps per-shingle pair fan-out constant at any corpus size),
    exact shingle-set Jaccard confirm. The exact-recall complement to
    dedup_minhash's probabilistic banding."""
    from ..operators.dedup import jaccard_near_duplicates

    return jaccard_near_duplicates(
        _docs(spark, sf_dir),
        threshold=JACCARD_THRESHOLD,
        df_cap=JACCARD_DF_CAP,
    )


SQL_JACCARD_NGRAM = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
pos AS (SELECT doc_id, unnest(generate_series(1, greatest(len(toks) - {N_SHINGLE - 1}, 1))) AS i, toks FROM t),
sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i + {N_SHINGLE - 1}], ' ') AS sh FROM pos),
rare AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh) WHERE df <= {JACCARD_DF_CAP}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN rare r ON a.sh = r.sh
  JOIN sh b ON b.sh = a.sh AND b.doc_id > a.doc_id),
ssize AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS ni
  FROM cands c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
  GROUP BY c.doc_a, c.doc_b)
SELECT i.doc_a, i.doc_b,
       CAST(i.ni AS DOUBLE) / CAST(na.n + nb.n - i.ni AS DOUBLE) AS jaccard
FROM inter i
JOIN ssize na ON na.doc_id = i.doc_a
JOIN ssize nb ON nb.doc_id = i.doc_b
WHERE CAST(i.ni AS DOUBLE) / CAST(na.n + nb.n - i.ni AS DOUBLE) >= {JACCARD_THRESHOLD}
"""


# minhash CTE chain shared by the pair query and the grouping query
_SQL_MINHASH_CTES = f"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
pos AS (SELECT doc_id, unnest(generate_series(1, greatest(len(toks) - {N_SHINGLE - 1}, 1))) AS i, toks FROM t),
sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i + {N_SHINGLE - 1}], ' ') AS sh FROM pos),
mh AS (
  SELECT doc_id,
         {', '.join(
             f"min(CAST(('0x' || substr(md5('{j}:' || sh), 1, 15)) AS BIGINT)) AS h{j}"
             for j in range(N_MINHASH)
         )}
  FROM sh GROUP BY doc_id),
bands AS (
  {' UNION ALL '.join(
      "SELECT doc_id, %d AS band, "
      "md5(CAST(h%d AS VARCHAR) || CAST(h%d AS VARCHAR) || CAST(h%d AS VARCHAR)) AS bh FROM mh"
      % (b, b * BAND_SIZE, b * BAND_SIZE + 1, b * BAND_SIZE + 2)
      for b in range(N_MINHASH // BAND_SIZE)
  )}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
ssize AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS ni
  FROM cands c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
  GROUP BY c.doc_a, c.doc_b)"""

_SQL_MINHASH_PAIRS_SELECT = f"""SELECT i.doc_a, i.doc_b,
       CAST(i.ni AS DOUBLE) / CAST(na.n + nb.n - i.ni AS DOUBLE) AS jaccard
FROM inter i
JOIN ssize na ON na.doc_id = i.doc_a
JOIN ssize nb ON nb.doc_id = i.doc_b
WHERE CAST(i.ni AS DOUBLE) / CAST(na.n + nb.n - i.ni AS DOUBLE) >= {JACCARD_THRESHOLD}"""

SQL_DEDUP_MINHASH = f"""
WITH {_SQL_MINHASH_CTES}
{_SQL_MINHASH_PAIRS_SELECT}
"""

# near-dup GROUPS: the confirmed pair graph closed transitively (min-label
# propagation as a recursive CTE -- the SQL mirror of
# operators/components.py) plus singleton groups for unpaired docs
SQL_DEDUP_GROUPS = f"""
WITH RECURSIVE {_SQL_MINHASH_CTES},
pairs AS ({_SQL_MINHASH_PAIRS_SELECT}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs),
reach(doc, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, r.lbl FROM reach r JOIN edges e ON e.v = r.doc),
grp AS (SELECT doc, MIN(lbl) AS group_id FROM reach GROUP BY doc),
sizes AS (SELECT group_id, COUNT(*) AS group_size FROM grp GROUP BY group_id)
SELECT g.doc AS doc_id, g.group_id,
       g.doc = g.group_id AS is_canonical,
       s.group_size
FROM grp g JOIN sizes s ON s.group_id = g.group_id
"""


def q_dedup_groups(spark, sf_dir):
    """Near-duplicate CLUSTERS: the 'keep one per cluster' stage of a
    training-data dedup pipeline. Confirmed minhash pairs (same plan as
    dedup_minhash) close transitively via connected components; every doc
    gets a group_id (= min doc_id of its cluster; singletons group with
    themselves), an is_canonical flag, and the cluster size. Downstream
    dedup is `WHERE is_canonical`."""
    from ..operators.components import connected_components

    pairs = q_dedup_minhash(spark, sf_dir).localCheckpoint()
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    docs = _docs(spark, sf_dir).select("doc_id")
    grp = docs.join(
        comp.select(F.col("key").alias("doc_id"), "component"),
        "doc_id",
        "left",
    ).select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("group_id")
    )
    sizes = grp.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return grp.join(sizes, "group_id").select(
        "doc_id",
        "group_id",
        (F.col("doc_id") == F.col("group_id")).alias("is_canonical"),
        "group_size",
    )


# =====================================================================
# Similarity search: fixed-point quantized cosine top-k (deterministic)
# =====================================================================

N_QUERY_VECS = 8
TOP_K = 10


def q_sim_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
    )
    dot_self = F.aggregate(
        F.zip_with("q", "q", lambda u, v: u * v), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    base = emb.select("vec_id", qvec.alias("q")).withColumn("nrm", dot_self)
    queries = base.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nrm").alias("qn"),
    )
    # fan out ONLY the corpus side, directly on the scan, so the
    # quantization + self-norm projections and the per-pair dot products
    # all run above the exchange (32-way) instead of inside the 1-task
    # single-row-group scan; the tiny broadcast query side keeps reading
    # the scan directly (no exchange in the broadcast build)
    corpus = _fan_out(emb).select("vec_id", qvec.alias("q")).withColumn(
        "nrm", dot_self
    )
    pairs = F.broadcast(queries).crossJoin(
        corpus.select(F.col("vec_id").alias("neighbor_id"), "q", "nrm")
    ).where(F.col("query_id") != F.col("neighbor_id"))
    dot = F.aggregate(
        F.zip_with("qq", "q", lambda u, v: u * v), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (
            (dot * F.abs(dot)).cast("double") / (F.col("qn") * F.col("nrm")).cast("double")
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


SQL_SIM_TOPK = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings),
nrm AS (
  SELECT vec_id, qv,
         (SELECT sum(qv[i] * qv[i]) FROM unnest(generate_series(1, len(qv))) AS t(i)) AS n
  FROM q),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         (SELECT sum(a.qv[i] * b.qv[i]) FROM unnest(generate_series(1, len(a.qv))) AS t(i)) AS dot,
         a.n AS qn, b.n AS nn
  FROM nrm a JOIN nrm b ON a.vec_id < {N_QUERY_VECS} AND a.vec_id <> b.vec_id),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(dot * abs(dot) AS DOUBLE) / CAST(qn * nn AS DOUBLE) AS sim
  FROM pairs),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= {TOP_K}
"""


# =====================================================================
# Text analysis: per-document stats + corpus language distribution
# =====================================================================

def q_textstats(spark, sf_dir):
    t = _toks(spark, sf_dir)
    n_tok = F.size("toks")
    n_stop = F.size(F.filter("toks", lambda w: w.isin(STOPWORDS)))
    total_chars = F.aggregate(
        "toks", F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    return t.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
        n_stop.cast("long").alias("n_stopwords"),
        (n_stop.cast("double") / n_tok.cast("double")).alias("stop_ratio"),
        (total_chars.cast("double") / n_tok.cast("double")).alias("avg_token_len"),
    )


PACK_CAPACITY = 512
PACK_SHARDS = 4
SAMPLE_QUOTA = 20
CONTAM_NGRAM = 5
CONTAM_BENCH_MOD = 97  # doc_id % 97 == 0 -> the held-out "benchmark" slice
# benchmark n-gram rows above this skip the broadcast hint and take a
# shuffle join instead: a 5-gram row is ~50 bytes framed, so 5M rows is
# a ~250 MB broadcast -- near the comfortable ceiling for executor-side
# hash relations (guide SS3.1), far past the flip point measured in the
# round-7 1M-doc sweep (BENCH/curation_1m_r7.md)
CONTAM_BROADCAST_CAP = 5_000_000


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any
    ``CONTAM_NGRAM``-gram with the held-out benchmark slice (the
    standard pre-training hygiene pass). Benchmark n-grams broadcast
    (they are small by construction); candidates semi-join on exact
    n-gram equality; output one row per contaminated doc with its hit
    count and worst (lexicographically first) matching n-gram as
    evidence."""
    t = _toks(spark, sf_dir)
    n = F.size("toks")
    grams = t.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(n - (CONTAM_NGRAM - 1), F.lit(1))
                    ),
                    lambda i: F.array_join(
                        F.slice(F.col("toks"), i, F.lit(CONTAM_NGRAM)), " "
                    ),
                )
            )
        ).alias("g"),
    )
    is_bench = F.col("doc_id") % CONTAM_BENCH_MOD == 0
    bench = grams.where(is_bench).select("g").distinct()
    # bounded broadcast (round-6 verdict ask #1): the hint is only safe
    # while the benchmark side fits executor memory; counting it costs
    # one benchmark-sized pass (never corpus-sized) and flips to a
    # shuffle join past the cap instead of OOMing the driver at real
    # benchmark-suite scale. Results identical either way.
    if bench.count() <= CONTAM_BROADCAST_CAP:
        bench = F.broadcast(bench)
    return (
        grams.where(~is_bench)
        .join(bench, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.min("g").alias("first_hit"),
        )
    )


SQL_CONTAMINATION = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
pos AS (SELECT doc_id, unnest(generate_series(1, greatest(len(toks) - {CONTAM_NGRAM - 1}, 1))) AS i, toks FROM t),
g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i + {CONTAM_NGRAM - 1}], ' ') AS g FROM pos),
bench AS (SELECT DISTINCT g FROM g WHERE doc_id % {CONTAM_BENCH_MOD} = 0)
SELECT x.doc_id, COUNT(*) AS n_hits, MIN(x.g) AS first_hit
FROM g x JOIN bench b ON x.g = b.g
WHERE x.doc_id % {CONTAM_BENCH_MOD} <> 0
GROUP BY x.doc_id
"""


def q_repetition_stats(spark, sf_dir):
    """Gopher-style intra-document repetition: the fraction of duplicate
    {N_SHINGLE}-grams per document (a high ratio marks boilerplate /
    degenerate text). Exact integers + one division, so the oracle
    hash-matches bit-for-bit."""
    t = _toks(spark, sf_dir)
    n = F.size("toks")
    all_grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (N_SHINGLE - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(F.col("toks"), i, F.lit(N_SHINGLE)), " "),
    )
    return t.select(
        "doc_id",
        F.size(all_grams).cast("long").alias("n_ngrams"),
        F.size(F.array_distinct(all_grams)).cast("long").alias("n_distinct"),
    ).select(
        "doc_id",
        "n_ngrams",
        "n_distinct",
        (
            F.lit(1.0)
            - F.col("n_distinct").cast("double") / F.col("n_ngrams").cast("double")
        ).alias("dup_ratio"),
    )


SQL_REPETITION_STATS = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
pos AS (SELECT doc_id, unnest(generate_series(1, greatest(len(toks) - {N_SHINGLE - 1}, 1))) AS i, toks FROM t),
g AS (SELECT doc_id, array_to_string(toks[i:i + {N_SHINGLE - 1}], ' ') AS g FROM pos),
c AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
             CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct
      FROM g GROUP BY doc_id)
SELECT doc_id, n_ngrams, n_distinct,
       1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_ngrams AS DOUBLE) AS dup_ratio
FROM c
"""


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing over sharded token streams (the
    LLM pretraining layout); see operators/curation.py for the scale
    rationale (per-shard windows, no global sort)."""
    from ..operators.curation import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), capacity=PACK_CAPACITY, n_shards=PACK_SHARDS
    )


SQL_PACK_SEQUENCES = f"""
WITH t AS (SELECT doc_id, CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
c AS (SELECT doc_id, shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      FROM t)
SELECT doc_id, shard, n_tokens,
       CAST(FLOOR(cum_prev / {PACK_CAPACITY}.0) AS BIGINT) AS start_bin,
       CAST(cum_prev % {PACK_CAPACITY} AS BIGINT) AS start_offset,
       CAST(FLOOR((cum_prev + n_tokens - 1) / {PACK_CAPACITY}.0) AS BIGINT) AS end_bin
FROM c
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language quota sample (data-mixing stage):
    md5(doc_id) is the stable engine-portable shuffle."""
    from ..operators.curation import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), strata_col="lang", quota=SAMPLE_QUOTA
    )


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, CAST(rn AS INT) AS sample_rank FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
WHERE rn <= {SAMPLE_QUOTA}
"""


SQL_TEXTSTATS = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
x AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         len(list_filter(toks, w -> w IN ({_sql_list(STOPWORDS)}))) AS n_stopwords,
         (SELECT sum(strlen(toks[i])) FROM unnest(generate_series(1, len(toks))) AS u(i)) AS total_chars
  FROM t)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       CAST(n_stopwords AS BIGINT) AS n_stopwords,
       CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
       CAST(total_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len
FROM x
"""


def q_lang_distribution(spark, sf_dir):
    return _docs(spark, sf_dir).groupBy("lang").agg(F.count("*").alias("cnt"))


SQL_LANG_DISTRIBUTION = "SELECT lang, count(*) AS cnt FROM documents GROUP BY lang"


# =====================================================================
# Relational coverage: aggregation / join / window over TPC-H-ish tables
# =====================================================================

def q_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_price_cents"),
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
            ).alias("sum_disc_price_cents"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    totals = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"))
    )
    joined = totals.join(c, totals["o_custkey"] == c["c_custkey"]).join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    )
    # top-k via sort+limit (TakeOrderedAndProject: per-partition heaps, no
    # all-rows-to-one-partition shuffle); the rank window then runs over
    # only the 10 surviving rows.
    top = (
        joined.select("c_custkey", "c_name", F.col("n_name").alias("nation"), "total_cents")
        .orderBy(F.desc("total_cents"), F.col("c_custkey"))
        .limit(10)
    )
    w = Window.orderBy(F.desc("total_cents"), F.col("c_custkey"))
    return top.withColumn("rank", F.row_number().over(w))


SQL_TOP_CUSTOMERS = """
WITH totals AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
  FROM orders GROUP BY o_custkey),
j AS (
  SELECT c.c_custkey, c.c_name, n.n_name AS nation, t.total_cents
  FROM totals t JOIN customer c ON t.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey),
r AS (
  SELECT *, row_number() OVER (ORDER BY total_cents DESC, c_custkey) AS rank FROM j)
SELECT c_custkey, c_name, nation, total_cents, rank FROM r WHERE rank <= 10
"""


SESSION_GAP_MIN = 30


def q_sessionize(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session TZ is pinned to UTC so epoch seconds
    # agree with DuckDB's epoch() on the naive value.
    epoch = F.col("ts").cast("timestamp").cast("long")
    flagged = ev.withColumn(
        "new_session",
        (epoch - F.lag(epoch, 1).over(w) > SESSION_GAP_MIN * 60).cast("int"),
    ).withColumn("new_session", F.coalesce("new_session", F.lit(1)))
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


SQL_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_MIN * 60}
              THEN 1
              WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
              ELSE 0 END AS new_session
  FROM events)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM flagged GROUP BY user_id
"""


def q_hourly_event_counts(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(F.count("*").alias("cnt"))
    )


SQL_HOURLY_EVENT_COUNTS = """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt
FROM events GROUP BY 1, 2
"""


# =====================================================================
# Dedup II: SimHash fingerprints + winnowing fingerprints
# =====================================================================

def q_simhash(spark, sf_dir):
    from ..operators.dedup import simhash_fingerprints

    return simhash_fingerprints(_docs(spark, sf_dir))


def _simhash_sql(bits: int = 16) -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM tok),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
"""


SQL_SIMHASH = _simhash_sql()


def q_winnow_fingerprints(spark, sf_dir):
    from ..operators.dedup import winnowing_fingerprints

    return winnowing_fingerprints(_docs(spark, sf_dir))


SQL_WINNOW_FINGERPRINTS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (SELECT doc_id, unnest(generate_series(1, greatest(len(toks) - 3, 1))) AS i, toks FROM t),
gh AS (SELECT doc_id, i,
              ('0x' || substring(md5(array_to_string(toks[i:i + 3], ' ')), 1, 15))::BIGINT AS gh
       FROM g),
w AS (SELECT doc_id,
             min(gh) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fingerprint
      FROM gh)
SELECT DISTINCT doc_id, fingerprint FROM w
"""


# =====================================================================
# Text analysis II: BPE-ish counting + language-ID confusion
# =====================================================================

def q_bpe_token_counts(spark, sf_dir):
    from ..operators.textstats import bpe_token_counts

    return bpe_token_counts(_docs(spark, sf_dir))


SQL_BPE_TOKEN_COUNTS = r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_pieces,
       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""


def q_langid_confusion(spark, sf_dir):
    from ..operators.textstats import language_id

    pred = language_id(_docs(spark, sf_dir))
    return (
        _docs(spark, sf_dir)
        .join(pred, "doc_id")
        .groupBy(F.col("lang").alias("true_lang"), "predicted_lang")
        .agg(F.count("*").alias("cnt"))
    )


def _langid_sql() -> str:
    from ..operators.textstats import LANG_MARKERS

    langs = sorted(lang for lang, m in LANG_MARKERS.items() if m)
    score_defs = ",\n       ".join(
        f"len(list_filter(string_split(text, ' '), w -> w IN ({_sql_list(LANG_MARKERS[lang])}))) AS s_{lang}"
        for lang in langs
    )
    gmax = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    cases = "\n            ".join(
        f"WHEN s_{lang} >= {gmax} AND s_{lang} > 0 THEN '{lang}'" for lang in langs
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
       {score_defs}
  FROM documents),
pred AS (
  SELECT doc_id, lang AS true_lang,
         CASE {cases}
              ELSE 'und' END AS predicted_lang
  FROM scored)
SELECT true_lang, predicted_lang, count(*) AS cnt FROM pred GROUP BY 1, 2
"""


# =====================================================================
# Similarity II: exact embedding near-dup pairs (bounded subset)
# =====================================================================

NEARDUP_MAX_ID = 300
NEARDUP_THRESHOLD = 0.15


def q_cosine_neardup(spark, sf_dir):
    from ..operators.similarity import _sim, quantized

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") < NEARDUP_MAX_ID
    )
    base = quantized(emb)
    a = base.select(F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"), F.col("nrm").alias("na"))
    b = base.select(F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"), F.col("nrm").alias("nb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda u, v: u * v), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return pairs.select(
        "vec_a", "vec_b", _sim(dot, F.col("na"), F.col("nb")).alias("sim")
    ).where(F.col("sim") >= NEARDUP_THRESHOLD)


SQL_COSINE_NEARDUP = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < {NEARDUP_MAX_ID}),
n AS (
  SELECT vec_id, qv,
         (SELECT sum(qv[i] * qv[i]) FROM unnest(generate_series(1, len(qv))) AS t(i)) AS nn
  FROM q),
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         (SELECT sum(a.qv[i] * b.qv[i]) FROM unnest(generate_series(1, len(a.qv))) AS t(i)) AS dot,
         a.nn AS na, b.nn AS nb
  FROM n a JOIN n b ON a.vec_id < b.vec_id)
SELECT vec_a, vec_b, CAST(dot * abs(dot) AS DOUBLE) / CAST(na * nb AS DOUBLE) AS sim
FROM p
WHERE CAST(dot * abs(dot) AS DOUBLE) / CAST(na * nb AS DOUBLE) >= {NEARDUP_THRESHOLD}
"""


LSH_N_PLANES = 4
LSH_DIM = 64


def q_ann_lsh_topk(spark, sf_dir):
    """Approximate NN via sign-LSH bucketing. The hyperplanes are
    md5-derived integers, so the full pipeline (bucketing, multi-probe,
    scoring, ranking) is reproduced exactly by the DuckDB oracle; the
    recall-vs-brute-force contract is additionally asserted in
    tests/test_data_ops.py."""
    from ..operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_topk(
        emb, query_ids=list(range(N_QUERY_VECS)), k=TOP_K, n_planes=LSH_N_PLANES, dim=LSH_DIM
    )


def _lsh_sql(n_planes: int = LSH_N_PLANES, dim: int = LSH_DIM) -> str:
    """SQL mirror of similarity.lsh_topk: same md5 hyperplanes, same
    sign-bit bucket, same multi-probe set (own bucket + every 1-bit
    flip), same quantized integer scoring and (sim DESC, neighbor_id)
    ranking."""
    probe_flips = ", ".join(str(1 << p) for p in range(n_planes))
    return f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings),
n AS (
  SELECT vec_id, qv,
         (SELECT sum(qv[i] * qv[i]) FROM unnest(generate_series(1, len(qv))) AS t(i)) AS nrm
  FROM q),
hp AS (
  SELECT p.p, i.i,
         ('0x' || substring(md5('hp' || CAST(p.p AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)), 1, 15))::BIGINT
           % 1001 - 500 AS h
  FROM (SELECT unnest(generate_series(0, {n_planes - 1})) AS p) p,
       (SELECT unnest(generate_series(0, {dim - 1})) AS i) i),
dots AS (
  SELECT n.vec_id, hp.p, sum(n.qv[hp.i + 1] * hp.h) AS dot
  FROM n, hp GROUP BY 1, 2),
buck AS (
  SELECT vec_id, CAST(sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS INT) AS bucket
  FROM dots GROUP BY 1),
base AS (SELECT n.vec_id, n.qv, n.nrm, b.bucket FROM n JOIN buck b USING (vec_id)),
probes AS (
  SELECT vec_id AS query_id, qv AS qq, nrm AS qn, xor(bucket, f.fl) AS bucket
  FROM base, (SELECT unnest([0, {probe_flips}]) AS fl) f
  WHERE vec_id < {N_QUERY_VECS}),
pairs AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         (SELECT sum(p.qq[i] * c.qv[i]) FROM unnest(generate_series(1, {dim})) AS t(i)) AS dot,
         p.qn AS qn, c.nrm AS nrm
  FROM probes p JOIN base c ON p.bucket = c.bucket AND p.query_id <> c.vec_id),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(dot * abs(dot) AS DOUBLE) / CAST(qn * nrm AS DOUBLE) AS sim
  FROM pairs),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= {TOP_K}
"""


IVF_N_CLUSTERS = 8
IVF_N_PROBE = 3
IVF_N_ITER = 8
IVF_SAMPLE = 4096
IVF_SEED = 42


def q_ann_ivf_topk(spark, sf_dir):
    """IVF (k-means coarse quantizer) approximate NN. The quantizer is
    exact-integer Lloyd over an md5-selected sample, so the DuckDB oracle
    reproduces the entire pipeline -- codebook, corpus assignment, probes,
    scoring -- bit-for-bit; the recall contract on clustered vectors is
    additionally asserted in tests."""
    from ..operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(
        emb,
        query_ids=list(range(N_QUERY_VECS)),
        k=TOP_K,
        n_clusters=IVF_N_CLUSTERS,
        n_probe=IVF_N_PROBE,
    )


def _ivf_sql(
    n_clusters: int = IVF_N_CLUSTERS,
    n_probe: int = IVF_N_PROBE,
    n_iter: int = IVF_N_ITER,
    sample: int = IVF_SAMPLE,
    seed: int = IVF_SEED,
    dim: int = 64,
) -> str:
    """SQL mirror of similarity.ivf_topk: the integer Lloyd iterations are
    unrolled as CTE pairs (assignment by first-min squared L2, centroid
    update by floor-division integer mean, empty clusters keep their old
    centroid), then corpus assignment, query probes (n_probe first-min
    centroids), quantized scoring and ranking -- all exact int64/double
    arithmetic, no float accumulation anywhere."""
    head = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings),
n AS (
  SELECT vec_id, qv,
         (SELECT sum(qv[i] * qv[i]) FROM unnest(generate_series(1, len(qv))) AS t(i)) AS nrm
  FROM q),
dims AS (SELECT unnest(generate_series(0, {dim - 1})) AS d),
samp AS (
  SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) AS rn
  FROM q
  WHERE ('0x' || substring(md5('kmsample{seed}:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 97 < 32),
pts AS (
  SELECT s.vec_id AS pid, d.d, s.qv[d.d + 1] AS x
  FROM samp s, dims d WHERE s.rn <= {sample}),
c0 AS (
  SELECT s.rn - 1 AS cl, d.d, s.qv[d.d + 1] AS c
  FROM samp s, dims d WHERE s.rn <= {n_clusters})"""
    iters = []
    for t in range(1, n_iter + 1):
        iters.append(f""",
dist{t} AS (
  SELECT p.pid, c.cl, sum((p.x - c.c) * (p.x - c.c)) AS d2
  FROM pts p JOIN c{t - 1} c ON p.d = c.d GROUP BY 1, 2),
asgn{t} AS (
  SELECT pid, cl FROM (
    SELECT pid, cl, row_number() OVER (PARTITION BY pid ORDER BY d2, cl) AS r
    FROM dist{t}) WHERE r = 1),
cm{t} AS (
  SELECT a.cl, p.d, CAST(floor(CAST(sum(p.x) AS DOUBLE) / count(*)) AS BIGINT) AS c
  FROM asgn{t} a JOIN pts p ON a.pid = p.pid GROUP BY 1, 2),
c{t} AS (
  SELECT prev.cl, prev.d, coalesce(cm.c, prev.c) AS c
  FROM c{t - 1} prev LEFT JOIN cm{t} cm ON cm.cl = prev.cl AND cm.d = prev.d)""")
    tail = f""",
cdist AS (
  SELECT n.vec_id, c.cl, sum((n.qv[c.d + 1] - c.c) * (n.qv[c.d + 1] - c.c)) AS d2
  FROM n, c{n_iter} c GROUP BY 1, 2),
corp AS (
  SELECT vec_id, cl AS cluster FROM (
    SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS r
    FROM cdist) WHERE r = 1),
probes AS (
  SELECT vec_id AS query_id, cl AS cluster FROM (
    SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS r
    FROM cdist WHERE vec_id < {N_QUERY_VECS}) WHERE r <= {n_probe}),
pairs AS (
  SELECT p.query_id, co.vec_id AS neighbor_id,
         (SELECT sum(nq.qv[i] * nn.qv[i]) FROM unnest(generate_series(1, {dim})) AS t(i)) AS dot,
         nq.nrm AS qn, nn.nrm AS nrm
  FROM probes p
  JOIN corp co ON co.cluster = p.cluster AND co.vec_id <> p.query_id
  JOIN n nq ON nq.vec_id = p.query_id
  JOIN n nn ON nn.vec_id = co.vec_id),
scored AS (
  SELECT DISTINCT query_id, neighbor_id,
         CAST(dot * abs(dot) AS DOUBLE) / CAST(qn * nrm AS DOUBLE) AS sim
  FROM pairs),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= {TOP_K}
"""
    return head + "".join(iters) + tail


N_ASSETS = 500


def q_multimodal_features(spark, sf_dir):
    """Binary-payload byte-histogram features over synthetic assets, in
    long form (asset_id, modality, bin, value) so the result
    canonicalizes. The payloads/modalities are md5-derived, so the DuckDB
    oracle rebuilds the identical assets and histograms in pure SQL --
    the Arrow-batched np kernel is checked value-for-value (counts/64 are
    exact doubles)."""
    from ..operators.multimodal import byte_histogram_long, synth_assets

    return byte_histogram_long(synth_assets(spark, N_ASSETS, seed=42)).select(
        "asset_id", "modality", F.col("bin").cast("int").alias("bin"), "value"
    )


def q_image_channel_stats(spark, sf_dir):
    """REAL image decode (PPM/P6, pure-numpy byte parsing -- no codec
    library) over deterministic md5-raster images: per-asset geometry +
    exact per-channel means. The DuckDB oracle regenerates every raster
    byte from the same md5 chain and averages per channel -- the decode
    kernel is value-verified pixel-for-pixel."""
    from ..operators.multimodal import decode_image, synth_ppm_assets

    return decode_image(synth_ppm_assets(spark, N_ASSETS, seed=42))


def q_audio_energy_stats(spark, sf_dir):
    """REAL audio decode (RIFF/WAVE 16-bit PCM, pure-numpy struct
    parsing): per-asset sample geometry + exact mean-square energy. The
    DuckDB oracle regenerates every PCM byte from the md5 chain, decodes
    little-endian signed 16-bit samples in SQL, and matches to the bit
    (integer square sums, one double division)."""
    from ..operators.multimodal import decode_audio, synth_wav_assets

    return decode_audio(synth_wav_assets(spark, N_ASSETS, seed=42))


def _audio_stats_sql() -> str:
    from ..operators.multimodal import WAV_RATE, WAV_SAMPLES

    data_len = WAV_SAMPLES * 2
    n_blocks = (data_len + 15) // 16
    blocks = " || ".join(
        f"md5('42:{k}:' || CAST(asset_id AS VARCHAR))" for k in range(n_blocks)
    )
    return f"""
WITH a AS (SELECT unnest(generate_series(0, {N_ASSETS - 1})) AS asset_id),
hx AS (SELECT asset_id, {blocks} AS hexs FROM a),
smp AS (
  SELECT asset_id,
         (('0x' || substring(hexs, 4 * g.s + 1, 2))::BIGINT
          + 256 * ('0x' || substring(hexs, 4 * g.s + 3, 2))::BIGINT) AS u
  FROM hx, LATERAL unnest(generate_series(0, {WAV_SAMPLES - 1})) AS g(s)),
sv AS (SELECT asset_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v FROM smp)
SELECT asset_id, {WAV_RATE} AS sample_rate, {WAV_SAMPLES} AS n_samples,
       CAST({WAV_SAMPLES} AS DOUBLE) / {WAV_RATE} AS duration_sec,
       CAST(sum(v * v) AS DOUBLE) / {WAV_SAMPLES} AS energy
FROM sv GROUP BY asset_id
"""


def _image_stats_sql() -> str:
    from ..operators.multimodal import PPM_H, PPM_W

    raster = PPM_W * PPM_H * 3
    n_blocks = raster // 16
    per_ch = raster // 3
    blocks = " || ".join(
        f"md5('42:{k}:' || CAST(asset_id AS VARCHAR))" for k in range(n_blocks)
    )
    chans = ", ".join(
        f"CAST(sum(CASE WHEN p % 3 = {c} THEN v END) AS DOUBLE) / {per_ch} "
        f"AS mean_{n}"
        for c, n in ((0, "r"), (1, "g"), (2, "b"))
    )
    return f"""
WITH a AS (SELECT unnest(generate_series(0, {N_ASSETS - 1})) AS asset_id),
hx AS (SELECT asset_id, {blocks} AS hexs FROM a),
byte AS (
  SELECT asset_id, g.p, ('0x' || substring(hexs, 2 * g.p + 1, 2))::INT AS v
  FROM hx, LATERAL unnest(generate_series(0, {raster - 1})) AS g(p))
SELECT asset_id, {PPM_W} AS width, {PPM_H} AS height, {chans}
FROM byte GROUP BY asset_id
"""


SQL_MULTIMODAL_FEATURES = f"""
WITH a AS (SELECT unnest(generate_series(0, {N_ASSETS - 1})) AS asset_id),
hx AS (
  SELECT asset_id,
         md5('42:0:' || CAST(asset_id AS VARCHAR)) || md5('42:1:' || CAST(asset_id AS VARCHAR))
         || md5('42:2:' || CAST(asset_id AS VARCHAR)) || md5('42:3:' || CAST(asset_id AS VARCHAR)) AS h,
         ['image', 'audio', 'video'][
           CAST(('0x' || substring(md5('mod42:' || CAST(asset_id AS VARCHAR)), 1, 15))::BIGINT % 3 AS INT) + 1
         ] AS modality
  FROM a),
nib AS (
  SELECT asset_id, modality, unnest(generate_series(0, 63)) AS p, h FROM hx),
cnt AS (
  SELECT asset_id, modality,
         ('0x' || substring(h, 2 * p + 1, 1))::INT AS bin, count(*) AS c
  FROM nib GROUP BY 1, 2, 3),
dense AS (
  SELECT hx.asset_id, hx.modality, b.bin, coalesce(cnt.c, 0) AS c
  FROM hx CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bin) b
  LEFT JOIN cnt ON cnt.asset_id = hx.asset_id AND cnt.bin = b.bin)
SELECT asset_id, modality, bin, CAST(c AS DOUBLE) / 64 AS value FROM dense
"""


# =====================================================================
# Rows-only queries (not SQL-expressible: iterative / learned)
# =====================================================================

def q_hmm_decode_dict(spark, sf_dir):
    """Full HMM train+decode loop as a query: train on dictionary-tagged
    documents with doc_id % 5 != 0, decode the held-out 20%.

    Oracle-checked end to end: the DuckDB SQL (``_hmm_decode_sql``)
    re-derives the count tables, assembles the log-prob model with the
    reference's exact smoothing formulas and quirks Q1-Q3 (libm ``ln`` on
    identical doubles), and runs the Viterbi DP as a recursive CTE with
    the same left-associated float adds and first-index-wins argmaxes --
    so the decoded tag strings match exactly. The bit-match suite against
    the reference binary remains the deepest gate."""
    from ..operators.hmm import decode_hmm, train_hmm

    tagged = _toks(spark, sf_dir).select(
        "doc_id",
        F.col("doc_id").alias("sent_id"),
        F.col("toks").alias("tokens"),
        _dict_tags("B").alias("tags"),
    )
    model = train_hmm(tagged.where(F.col("doc_id") % 5 != 0).drop("doc_id"))
    test = tagged.where(F.col("doc_id") % 5 == 0).select("doc_id", "tokens")
    decoded = decode_hmm(test, model)
    return _word_tag_rows(decoded)


def _sql_argmax_case(scores, results):
    """First-index-wins argmax as a CASE chain (np.argmax semantics)."""
    whens = []
    for i in range(len(scores) - 1):
        cond = " AND ".join(
            f"{scores[i]} >= {scores[m]}" for m in range(i + 1, len(scores))
        )
        whens.append(f"WHEN {cond} THEN {results[i]}")
    return "CASE " + " ".join(whens) + f" ELSE {results[-1]} END"


def _viterbi_cte_parts(K: int) -> dict:
    """Shared SQL fragments for a K-state recursive-CTE Viterbi whose
    state row carries dp0..dp{K-1} and per-state best-path lists p0..;
    expects a per-(key, t) emissions row aliased ``e`` with e0.. and a
    model row aliased ``m`` with pi0.. / a{i}{j}. Float order matches
    functions/viterbi.py: (dp_i + a_ij) + e_j left-associated."""
    rng = range(K)

    def s(i, j):
        return f"((d.dp{i} + m.a{i}{j}) + e.e{j})"

    return {
        "em_pivot": ", ".join(
            f"max(CASE WHEN idx = {j} THEN e END) AS e{j}" for j in rng
        ),
        "pi_pivot": ", ".join(
            f"max(CASE WHEN idx = {j} THEN pi END) AS pi{j}" for j in rng
        ),
        "a_pivot": ", ".join(
            f"max(CASE WHEN i = {i} AND j = {j} THEN a END) AS a{i}{j}"
            for i in rng
            for j in rng
        ),
        "base_cols": ", ".join(
            [f"m.pi{j} + e.e{j} AS dp{j}" for j in rng]
            + [f"[{j}] AS p{j}" for j in rng]
        ),
        "step_dp": ", ".join(
            "greatest(" + ", ".join(s(i, j) for i in rng) + f") AS dp{j}"
            for j in rng
        ),
        "step_p": ", ".join(
            _sql_argmax_case(
                [s(i, j) for i in rng], [f"list_append(d.p{i}, {j})" for i in rng]
            )
            + f" AS p{j}"
            for j in rng
        ),
        "win_path": _sql_argmax_case(
            [f"dp{j}" for j in rng], [f"p{j}" for j in rng]
        ),
    }


def _hmm_decode_sql() -> str:
    """SQL mirror of q_hmm_decode_dict: HMM training (operators/hmm.py
    train_hmm, reference formulas hmm_ner.py:57-109 incl. quirks Q1-Q3)
    plus Viterbi decode (functions/viterbi.py) as a recursive CTE.

    Determinism contract with the Spark side:
      * identical count tables (exact integers);
      * identical model doubles -- every expression keeps the Python
        operand order ((cnt + 1e-10) / (N + K*1e-10) etc.) and DuckDB's
        ``ln`` and CPython's ``math.log`` are both libm;
      * identical DP -- scores are ((dp_i + a_ij) + e_j) left-associated,
        argmax is a first-index-wins CASE chain, per-state best paths are
        carried forward as lists (no backtracking pass needed).
    K = 3 tags (B-OP, B-OBJ, O); the state vector is unrolled into
    columns, so no aggregates appear in the recursive term."""
    K = 3
    tag_case = (
        f"CASE WHEN word IN ({_sql_list(OP_WORDS)}) THEN 'B-OP' "
        f"WHEN word IN ({_sql_list(OBJ_WORDS)}) THEN 'B-OBJ' ELSE 'O' END"
    )
    parts = _viterbi_cte_parts(K)
    em_pivot = parts["em_pivot"]
    pi_pivot = parts["pi_pivot"]
    a_pivot = parts["a_pivot"]
    base_cols = parts["base_cols"]
    step_dp = parts["step_dp"]
    step_p = parts["step_p"]
    win_path = parts["win_path"]

    return f"""
WITH RECURSIVE
train AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id % 5 <> 0),
ttok AS (
  SELECT doc_id, i - 1 AS pos, word, {tag_case} AS tag
  FROM (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks FROM train),
       LATERAL (SELECT toks[i] AS word)),
-- first-occurrence tag order over (doc_id, pos); pos < 1e6 so the
-- arithmetic encoding is an exact lexicographic key
tagidx AS (
  SELECT tag, CAST(row_number() OVER (ORDER BY min(doc_id * 1000000 + pos)) - 1 AS INT) AS idx
  FROM ttok GROUP BY tag),
tagcnt AS (SELECT tag, count(*) AS cnt FROM ttok GROUP BY tag),
vsize AS (SELECT count(DISTINCT word) AS v FROM ttok),
nsent AS (SELECT count(*) AS n FROM train WHERE len(toks) > 0),
icnt AS (
  SELECT {tag_case.replace("word", "toks[1]")} AS tag, count(*) AS cnt
  FROM train WHERE len(toks) > 0 GROUP BY 1),
tcnt AS (
  SELECT a.tag AS prev, b.tag AS curr, count(*) AS cnt
  FROM ttok a JOIN ttok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2),
rowtot AS (SELECT prev, sum(cnt) AS total FROM tcnt GROUP BY prev),
ecnt AS (SELECT tag, word, count(*) AS cnt FROM ttok GROUP BY 1, 2),
pil AS (
  SELECT ti.idx,
         CASE WHEN ic.cnt IS NOT NULL
              THEN ln((ic.cnt + 1e-10) / (ns.n + {K} * 1e-10))
              ELSE 0.0 END AS pi
  FROM tagidx ti LEFT JOIN icnt ic ON ic.tag = ti.tag CROSS JOIN nsent ns),
al AS (
  SELECT ti.idx AS i, tj.idx AS j,
         CASE WHEN rt.total IS NULL THEN 0.0
              WHEN tc.cnt IS NOT NULL
                   AND ln(CAST(tc.cnt + 1 AS DOUBLE) / (rt.total + {K})) <> 0.0
              THEN ln(CAST(tc.cnt + 1 AS DOUBLE) / (rt.total + {K}))
              ELSE ln(CAST(1 AS DOUBLE) / (rt.total + {K})) END AS a
  FROM tagidx ti CROSS JOIN tagidx tj
  LEFT JOIN rowtot rt ON rt.prev = ti.tag
  LEFT JOIN tcnt tc ON tc.prev = ti.tag AND tc.curr = tj.tag),
mpi AS (SELECT {pi_pivot} FROM pil),
ma AS (SELECT {a_pivot} FROM al),
model AS (SELECT * FROM mpi CROSS JOIN ma),
test AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id % 5 = 0),
doclen AS (SELECT doc_id, len(toks) AS n FROM test),
ttest AS (
  SELECT doc_id, i AS t, toks[i] AS word
  FROM (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks FROM test)),
-- emission: known-but-unseen (tag,word) and unknown words share the same
-- value ln(1/(count(t)+V)) = ln((0+1)/(count(t)+V)) (quirk Q3), so one
-- expression covers all cases
eml AS (
  SELECT tt.doc_id, tt.t, ti.idx,
         ln((coalesce(ec.cnt, 0) + CAST(1 AS DOUBLE)) / (tc.cnt + vs.v)) AS e
  FROM ttest tt CROSS JOIN tagidx ti
  JOIN tagcnt tc ON tc.tag = ti.tag
  CROSS JOIN vsize vs
  LEFT JOIN ecnt ec ON ec.word = tt.word AND ec.tag = ti.tag),
em AS (SELECT doc_id, t, {em_pivot} FROM eml GROUP BY doc_id, t),
dp AS (
  SELECT e.doc_id, 1 AS t, dl.n, {base_cols}
  FROM em e CROSS JOIN model m JOIN doclen dl ON dl.doc_id = e.doc_id
  WHERE e.t = 1
  UNION ALL
  SELECT d.doc_id, d.t + 1, d.n, {step_dp}, {step_p}
  FROM dp d
  JOIN em e ON e.doc_id = d.doc_id AND e.t = d.t + 1
  CROSS JOIN model m
  WHERE d.t < d.n),
win AS (
  SELECT doc_id, {win_path} AS path
  FROM dp WHERE t = n),
outp AS (
  SELECT w.doc_id, CAST(gs.i - 1 AS INT) AS pos, w.path[gs.i] AS tidx
  FROM win w, LATERAL unnest(generate_series(1, len(w.path))) AS gs(i))
SELECT o.doc_id, o.pos, tt.word, ti.tag
FROM outp o
JOIN ttest tt ON tt.doc_id = o.doc_id AND tt.t = o.pos + 1
JOIN tagidx ti ON ti.idx = o.tidx
"""


def q_crf_decode_dict(spark, sf_dir):
    """W2/W3/A8-result as one query: decode the held-out dictionary-tagged
    split with the COMMITTED Adagrad-trained CRF (S4 model load +
    vectorized float32 Viterbi). The artifact was trained by
    tools/make_crf_dict_artifact.py with the exact recipe this query ran
    inline through round 2 (build_registry + train_crf epochs=3 adagrad
    over the sf0.01 train split) and its weights quantized to integers,
    which makes the decode oracle-checkable: the DuckDB mirror replays
    the DP against the same committed weights in int64. The training
    trajectory itself stays pytest-gated (finite-difference gradient
    checks in tests/test_crf.py)."""
    from ..functions.crf import CRFModel
    from ..operators.crf import decode_crf

    model = CRFModel.load(_CRF_ART_DIR)
    tagged = _toks(spark, sf_dir).where(F.size("toks") <= 40)
    test = tagged.where(F.col("doc_id") % 37 == 0).select(
        "doc_id", F.col("toks").alias("tokens")
    )
    decoded = decode_crf(test, model)
    return _word_tag_rows(decoded)


def q_crf_decode_fixed(spark, sf_dir):
    """W2/W3/F1/F2 with driver-verifiable correctness: build the CRF
    feature registry from the train split (F1 first-encounter scan + F2
    pure-B cross product), set every weight to an md5-derived INTEGER in
    [-500, 500] keyed by the feature string (exact in float32 -> the
    whole decode is exact integer arithmetic), then run the vectorized
    float32 Viterbi over the held-out split. The DuckDB oracle rebuilds
    registry membership from the same gold paths, derives the same
    weights from the same md5 formula, and replays the DP in int64 --
    templates, BOS/EOS padding, START/STOP handling, and first-index
    tie-breaks all verified end to end. (crf_decode_dict keeps exercising
    the trained-weights path; training itself is not SQL-expressible.)"""
    import numpy as np

    from ..operators.crf import build_registry, decode_crf
    from ..operators.transformer import _md5_int

    tagged = _toks(spark, sf_dir).where(F.size("toks") <= 40).select(
        "doc_id",
        F.col("doc_id").alias("sent_id"),
        F.col("toks").alias("tokens"),
        _dict_tags("B").alias("tags"),
    )
    train = tagged.where(F.col("doc_id") % 37 == 1)
    registry = build_registry(train)
    w = np.zeros(registry.n_features, dtype=np.float32)
    for key, fid in registry.feature_index.items():
        w[fid] = _md5_int(f"crfw42:{key}")
    registry.weights = w
    test = tagged.where(F.col("doc_id") % 37 == 0).select("doc_id", "tokens")
    decoded = decode_crf(test, registry)
    return _word_tag_rows(decoded)


def _crf_decode_sql(mode: str = "fixed", emit: str = "decode") -> str:
    """SQL mirror of q_crf_decode_fixed / q_crf_decode_dict.

    ``mode='fixed'`` rebuilds: (1) the gold-path feature registry over
    the train split -- per-position BOS/EOS-padded observation strings
    for all 21 templates, prev=START at pos 0, a STOP row at pos=n
    (operators/crf.py _context_frame); (2) md5 integer weights keyed by
    feature string.

    ``mode='artifact'`` instead takes registry membership AND integer
    weights from the committed trained-CRF artifact
    (artifacts/crf_dict_model/weights.parquet, built by
    tools/make_crf_dict_artifact.py): ``read_parquet`` + key join, tag
    order as literals from the artifact's meta.json. This is what turns
    the Adagrad-trained decode into an oracle-checkable query -- the
    training trajectory isn't SQL-expressible, but the decode against
    committed quantized weights is exact integer arithmetic on both
    engines.

    Both modes share (3): the decode DP as a recursive CTE: dp0 = U(0)
    + B_obs(START->j) + B_pure(START->j), step score = dp_i +
    B_obs(t,i,j) + B_pure(i,j) + U(t,j), termination adds the STOP
    transition vector. Integer arithmetic end to end, so float
    association order cannot matter; argmaxes are first-index CASE
    chains over the first-occurrence tag order. The U->STOP scalar at
    termination shifts every state equally and is omitted (argmax
    invariant; dp values are never emitted)."""
    import json as _json

    from ..functions.crf import B_TEMPLATES, U_TEMPLATES

    if mode == "artifact":
        with open(os.path.join(_CRF_ART_DIR, "meta.json"), encoding="utf-8") as f:
            art_tags = _json.load(f)["tags"]
        K = len(art_tags)
    else:
        K = 3
    rng = range(K)
    OFFCOL = {-2: "wm2", -1: "wm1", 0: "w0", 1: "wp1", 2: "wp2"}
    tag_case = (
        f"CASE WHEN {{w}} IN ({_sql_list(OP_WORDS)}) THEN 'B-OP' "
        f"WHEN {{w}} IN ({_sql_list(OBJ_WORDS)}) THEN 'B-OBJ' ELSE 'O' END"
    )

    def obs_expr(offs):
        cols = [OFFCOL[o] for o in offs]
        return " || '/' || ".join(cols) if len(cols) > 1 else cols[0]

    def ctx_cols():
        parts = []
        for off, col in OFFCOL.items():
            parts.append(
                f"CASE WHEN pos + {off} < 0 THEN 'BOS' "
                f"WHEN pos + {off} >= n THEN 'EOS' "
                f"ELSE toks[pos + {off} + 1] END AS {col}"
            )
        return ", ".join(parts)

    def md5w(key_expr):
        return f"(('0x' || substring(md5('crfw42:' || {key_expr}), 1, 15))::BIGINT % 1001 - 500)"

    u_key_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, pos, n, '{p}:' || {obs_expr(offs)} AS kbase FROM tctx"
        for p, offs in U_TEMPLATES
    )
    b_key_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, pos, n, '{p}:' || {obs_expr(offs)} AS kbase FROM tctx"
        for p, offs in B_TEMPLATES
    )
    su_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, pos, n, '{p}:' || {obs_expr(offs)} AS kbase FROM sctx"
        for p, offs in U_TEMPLATES
    )
    sb_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, pos, n, '{p}:' || {obs_expr(offs)} AS kbase FROM sctx"
        for p, offs in B_TEMPLATES
    )
    u_pivot = ", ".join(f"max(CASE WHEN j = {j} THEN u END) AS u{j}" for j in rng)
    bo_pivot = ", ".join(
        f"coalesce(max(CASE WHEN i = {i} AND j = {j} THEN bo END), 0) AS bo{i}{j}"
        for i in rng
        for j in rng
    )
    bos_pivot = ", ".join(
        f"max(CASE WHEN j = {j} THEN b END) AS bs{j}" for j in rng
    )
    boe_pivot = ", ".join(
        f"max(CASE WHEN i = {i} THEN b END) AS be{i}" for i in rng
    )
    bp_pivot = ", ".join(
        f"max(CASE WHEN i = {i} AND j = {j} THEN wv END) AS bp{i}{j}"
        for i in rng
        for j in rng
    )
    bps_pivot = ", ".join(f"max(CASE WHEN j = {j} THEN wv END) AS bps{j}" for j in rng)
    bpe_pivot = ", ".join(f"max(CASE WHEN i = {i} THEN wv END) AS bpe{i}" for i in rng)

    def s(i, j):
        return f"(((d.dp{i} + st.bo{i}{j}) + m.bp{i}{j}) + st.u{j})"

    def argmax_case(scores, results):
        whens = []
        for i in range(len(scores) - 1):
            cond = " AND ".join(
                f"{scores[i]} >= {scores[m]}" for m in range(i + 1, len(scores))
            )
            whens.append(f"WHEN {cond} THEN {results[i]}")
        return "CASE " + " ".join(whens) + f" ELSE {results[-1]} END"

    base_cols = ", ".join(
        [f"(b0.u{j} + sv.bs{j}) + m.bps{j} AS dp{j}" for j in rng]
        + [f"[{j}] AS p{j}" for j in rng]
    )
    step_dp = ", ".join(
        "greatest(" + ", ".join(s(i, j) for i in rng) + f") AS dp{j}" for j in rng
    )
    step_p = ", ".join(
        argmax_case([s(i, j) for i in rng], [f"list_append(d.p{i}, {j})" for i in rng])
        + f" AS p{j}"
        for j in rng
    )
    win_path = argmax_case(
        [f"(dp{j} + ev.be{j}) + m.bpe{j}" for j in rng], [f"p{j}" for j in rng]
    )

    if mode == "artifact":
        wpq = os.path.join(_CRF_ART_DIR, "weights.parquet")
        tag_values = ", ".join(f"('{t}', {i})" for i, t in enumerate(art_tags))
        prelude = f"""tagidx AS (SELECT * FROM (VALUES {tag_values}) AS t(tag, idx)),
wreg AS (SELECT key, CAST(wq AS BIGINT) AS w FROM read_parquet('{wpq}')),
bpl AS (
  SELECT ti.idx AS i, tj.idx AS j, coalesce(w.w, 0) AS wv
  FROM tagidx ti CROSS JOIN tagidx tj
  LEFT JOIN wreg w ON w.key = 'B:' || ti.tag || '_' || tj.tag),
bpsl AS (
  SELECT tj.idx AS j, coalesce(w.w, 0) AS wv FROM tagidx tj
  LEFT JOIN wreg w ON w.key = 'B:<START>_' || tj.tag),
bpel AS (
  SELECT ti.idx AS i, coalesce(w.w, 0) AS wv FROM tagidx ti
  LEFT JOIN wreg w ON w.key = 'B:' || ti.tag || '_<STOP>')"""
    else:
        prelude = f"""trn AS (
  SELECT doc_id, toks, len(toks) AS n
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) <= 40 AND doc_id % 37 = 1),
tctx AS (
  SELECT doc_id, pos, n, {ctx_cols()},
         CASE WHEN pos = 0 THEN '<START>'
              ELSE {tag_case.format(w="toks[pos]")} END AS prev,
         CASE WHEN pos = n THEN '<STOP>'
              ELSE {tag_case.format(w="toks[pos + 1]")} END AS cur
  FROM (SELECT doc_id, toks, n, unnest(generate_series(0, n)) AS pos FROM trn)),
tagidx AS (
  SELECT tag, CAST(row_number() OVER (ORDER BY min(doc_id * 1000000 + pos)) - 1 AS INT) AS idx
  FROM (SELECT doc_id, pos, cur AS tag FROM tctx WHERE pos < n)
  GROUP BY tag),
regk AS (
  SELECT DISTINCT kbase || '_' || cur AS key
  FROM ({u_key_union}) u JOIN tctx USING (doc_id, pos, n)
  UNION
  SELECT DISTINCT kbase || '_' || prev || '_' || cur AS key
  FROM ({b_key_union}) b JOIN tctx USING (doc_id, pos, n)),
wreg AS (SELECT key, {md5w('key')} AS w FROM regk),
bpl AS (
  SELECT ti.idx AS i, tj.idx AS j, {md5w("'B:' || ti.tag || '_' || tj.tag")} AS wv
  FROM tagidx ti CROSS JOIN tagidx tj),
bpsl AS (
  SELECT tj.idx AS j, {md5w("'B:<START>_' || tj.tag")} AS wv FROM tagidx tj),
bpel AS (
  SELECT ti.idx AS i, {md5w("'B:' || ti.tag || '_<STOP>'")} AS wv FROM tagidx ti)"""

    body = f"""
WITH RECURSIVE
{prelude},
model AS (
  SELECT * FROM (SELECT {bp_pivot} FROM bpl)
  CROSS JOIN (SELECT {bps_pivot} FROM bpsl)
  CROSS JOIN (SELECT {bpe_pivot} FROM bpel)),
tst AS (
  SELECT doc_id, toks, len(toks) AS n
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) <= 40 AND doc_id % 37 = 0),
sctx AS (
  SELECT doc_id, pos, n, {ctx_cols()}
  FROM (SELECT doc_id, toks, n, unnest(generate_series(0, n)) AS pos FROM tst)),
uterm AS (
  SELECT u.doc_id, u.pos, tj.idx AS j, coalesce(sum(w.w), 0) AS u
  FROM ({su_union}) u
  CROSS JOIN tagidx tj
  LEFT JOIN wreg w ON w.key = u.kbase || '_' || tj.tag
  WHERE u.pos < u.n
  GROUP BY 1, 2, 3),
upiv AS (SELECT doc_id, pos, {u_pivot} FROM uterm GROUP BY doc_id, pos),
boterm AS (
  SELECT b.doc_id, b.pos, ti.idx AS i, tj.idx AS j, coalesce(sum(w.w), 0) AS bo
  FROM ({sb_union}) b
  CROSS JOIN tagidx ti CROSS JOIN tagidx tj
  LEFT JOIN wreg w ON w.key = b.kbase || '_' || ti.tag || '_' || tj.tag
  WHERE b.pos >= 1 AND b.pos < b.n
  GROUP BY 1, 2, 3, 4),
bopiv AS (SELECT doc_id, pos, {bo_pivot} FROM boterm GROUP BY doc_id, pos),
bostart AS (
  SELECT b.doc_id, tj.idx AS j, coalesce(sum(w.w), 0) AS b
  FROM ({sb_union}) b
  CROSS JOIN tagidx tj
  LEFT JOIN wreg w ON w.key = b.kbase || '_<START>_' || tj.tag
  WHERE b.pos = 0
  GROUP BY 1, 2),
bospiv AS (SELECT doc_id, {bos_pivot} FROM bostart GROUP BY doc_id),
bostop AS (
  SELECT b.doc_id, ti.idx AS i, coalesce(sum(w.w), 0) AS b
  FROM ({sb_union}) b
  CROSS JOIN tagidx ti
  LEFT JOIN wreg w ON w.key = b.kbase || '_' || ti.tag || '_<STOP>'
  WHERE b.pos = b.n
  GROUP BY 1, 2),
boepiv AS (SELECT doc_id, {boe_pivot} FROM bostop GROUP BY doc_id),
steps AS (
  SELECT u.doc_id, u.pos, u.u0, u.u1, u.u2,
         b.bo00, b.bo01, b.bo02, b.bo10, b.bo11, b.bo12, b.bo20, b.bo21, b.bo22
  FROM upiv u JOIN bopiv b USING (doc_id, pos)),
dp AS (
  SELECT t.doc_id, 0 AS t, t.n, {base_cols}
  FROM tst t
  JOIN upiv b0 ON b0.doc_id = t.doc_id AND b0.pos = 0
  JOIN bospiv sv ON sv.doc_id = t.doc_id
  CROSS JOIN model m
  UNION ALL
  SELECT d.doc_id, d.t + 1, d.n, {step_dp}, {step_p}
  FROM dp d
  JOIN steps st ON st.doc_id = d.doc_id AND st.pos = d.t + 1
  CROSS JOIN model m
  WHERE d.t < d.n - 1),
win AS (
  SELECT dp.doc_id, {win_path} AS path
  FROM dp
  JOIN boepiv ev ON ev.doc_id = dp.doc_id
  CROSS JOIN model m
  WHERE dp.t = dp.n - 1)"""

    decode_select = """
SELECT w.doc_id, CAST(gs.i - 1 AS INT) AS pos, t.toks[gs.i] AS word,
       ti.tag AS tag
FROM win w
JOIN tst t ON t.doc_id = w.doc_id,
LATERAL unnest(generate_series(1, len(w.path))) AS gs(i)
JOIN tagidx ti ON ti.idx = w.path[gs.i]
"""
    if emit == "decode":
        return body + decode_select

    # emit == "edges": the CRF decode becomes the mention-detection stage
    # of the KG tail (single-token BIO spans -> adjacency triples ->
    # md5-keyed edge aggregation), mirroring _kg_pipeline_sql's tail.
    # Canonicalization: singleton components on this corpus (see
    # _kg_pipeline_sql docstring) -- node ids resolve from surfaces.
    node_id = "('0x' || substring(md5({t} || '|' || {s}), 1, 15))::BIGINT"
    return body + f""",
outp AS ({decode_select}),
men AS (
  SELECT d.source AS conv_id, CAST(o.doc_id AS INT) AS turn_idx,
         o.pos AS span_start, o.pos + 1 AS span_end,
         substring(o.tag, 3) AS entity_type, o.word AS surface
  FROM outp o JOIN documents d ON d.doc_id = o.doc_id
  WHERE o.tag <> 'O'),
tri AS (
  SELECT a.entity_type AS subj_type, a.surface AS subj,
         CASE WHEN a.entity_type = 'OP' AND b.entity_type = 'OBJ' THEN 'operates_on'
              WHEN a.entity_type = 'OBJ' AND b.entity_type = 'OP' THEN 'feeds'
              ELSE 'adjacent_to' END AS pred,
         b.entity_type AS obj_type, b.surface AS obj
  FROM men a JOIN men b
    ON b.conv_id = a.conv_id AND b.turn_idx = a.turn_idx
   AND b.span_start = a.span_end)
SELECT {node_id.format(t="subj_type", s="subj")} AS src,
       pred,
       {node_id.format(t="obj_type", s="obj")} AS dst,
       CAST(count(*) AS DOUBLE) AS weight
FROM tri GROUP BY 1, 2, 3
"""


TRANSFORMER_K = 4
TRANSFORMER_N_SEQS = 500
TRANSFORMER_MIN_LEN = 3
TRANSFORMER_LEN_MOD = 18


def q_transformer_decode(spark, sf_dir):
    """W6 decode-given-weights as a query: batched float32 Viterbi with
    start/end transitions over deterministic synthetic emissions. The
    fixtures are integer-valued (md5-derived, exact in float32), so the
    DuckDB oracle replays the identical DP in int64 -- every add exact,
    every tie first-index -- and the decoded tags hash-match. The torch
    encoder upstream is out of scope (documented in
    operators/transformer.py); the property suite vs the scalar float32
    transcription is the deeper numeric gate."""
    from ..operators.transformer import (
        decode_transformer_crf,
        synth_emissions,
        synth_params,
    )

    p = synth_params(TRANSFORMER_K, seed=42)
    df = synth_emissions(
        spark,
        TRANSFORMER_N_SEQS,
        TRANSFORMER_K,
        seed=42,
        min_len=TRANSFORMER_MIN_LEN,
        len_mod=TRANSFORMER_LEN_MOD,
    )
    return decode_transformer_crf(df, p).select(
        "seq_id", F.posexplode("tags_pred").alias("pos", "tag")
    )


def _transformer_decode_sql(
    K: int = TRANSFORMER_K,
    n_seqs: int = TRANSFORMER_N_SEQS,
    seed: int = 42,
    min_len: int = TRANSFORMER_MIN_LEN,
    len_mod: int = TRANSFORMER_LEN_MOD,
) -> str:
    """SQL mirror of q_transformer_decode: same md5 constructions for
    lengths/emissions/parameters, Viterbi as a recursive CTE in exact
    int64 (the float32 Spark DP is exact on these integer values), CASE
    chains for first-index argmax, per-state paths as lists."""
    rng = range(K)

    def md5i(key: str) -> str:
        return f"(('0x' || substring(md5({key}), 1, 15))::BIGINT % 1001 - 500)"

    def s(i, j):
        return f"((d.dp{i} + m.tr{i}{j}) + e.e{j})"

    def argmax_case(scores, results):
        whens = []
        for i in range(len(scores) - 1):
            cond = " AND ".join(
                f"{scores[i]} >= {scores[m]}" for m in range(i + 1, len(scores))
            )
            whens.append(f"WHEN {cond} THEN {results[i]}")
        return "CASE " + " ".join(whens) + f" ELSE {results[-1]} END"

    model_cols = ", ".join(
        [md5i(f"'tr{seed}:{i}:{j}'") + f" AS tr{i}{j}" for i in rng for j in rng]
        + [md5i(f"'st{seed}:{j}'") + f" AS st{j}" for j in rng]
        + [md5i(f"'en{seed}:{j}'") + f" AS en{j}" for j in rng]
    )
    em_cols = ", ".join(
        md5i(
            f"'em{seed}:' || CAST(l.seq_id AS VARCHAR) || ':' || CAST(t.t AS VARCHAR) || ':{j}'"
        )
        + f" AS e{j}"
        for j in rng
    )
    base_cols = ", ".join(
        [f"m.st{j} + e.e{j} AS dp{j}" for j in rng] + [f"[{j}] AS p{j}" for j in rng]
    )
    step_dp = ", ".join(
        "greatest(" + ", ".join(s(i, j) for i in rng) + f") AS dp{j}" for j in rng
    )
    step_p = ", ".join(
        argmax_case([s(i, j) for i in rng], [f"list_append(d.p{i}, {j})" for i in rng])
        + f" AS p{j}"
        for j in rng
    )
    win_path = argmax_case(
        [f"dp{j} + en{j}" for j in rng], [f"p{j}" for j in rng]
    )
    return f"""
WITH RECURSIVE
seqs AS (SELECT unnest(generate_series(0, {n_seqs - 1})) AS seq_id),
lens AS (
  SELECT seq_id,
         CAST(('0x' || substring(md5('len{seed}:' || CAST(seq_id AS VARCHAR)), 1, 15))::BIGINT
              % {len_mod} + {min_len} AS INT) AS n
  FROM seqs),
em AS (
  SELECT l.seq_id, t.t, {em_cols}
  FROM lens l, LATERAL unnest(generate_series(0, l.n - 1)) AS t(t)),
model AS (SELECT {model_cols}),
dp AS (
  SELECT e.seq_id, 0 AS t, l.n, {base_cols}
  FROM em e CROSS JOIN model m JOIN lens l ON l.seq_id = e.seq_id
  WHERE e.t = 0
  UNION ALL
  SELECT d.seq_id, d.t + 1, d.n, {step_dp}, {step_p}
  FROM dp d
  JOIN em e ON e.seq_id = d.seq_id AND e.t = d.t + 1
  CROSS JOIN model m
  WHERE d.t < d.n - 1),
win AS (
  SELECT dp.seq_id, {win_path} AS path
  FROM dp CROSS JOIN model m WHERE dp.t = dp.n - 1)
SELECT w.seq_id, CAST(gs.i - 1 AS INT) AS pos, 'T' || CAST(w.path[gs.i] AS VARCHAR) AS tag
FROM win w, LATERAL unnest(generate_series(1, len(w.path))) AS gs(i)
"""


def _kg_model_and_test(spark, sf_dir):
    """Shared flagship setup: dictionary-tagged turns, HMM trained on the
    non-held-out split, held-out test turns. Used by both the one-shot
    kg_pipeline and the two-ingest kg_incremental (same model, so both
    converge to the same final state)."""
    from ..operators.hmm import train_hmm

    docs = _toks(spark, sf_dir)
    turns = docs.select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 3 == 0, "user")
        .when(F.col("doc_id") % 3 == 1, "assistant")
        .otherwise("tool")
        .alias("role"),
        F.when(F.col("doc_id") % 3 == 2, F.lit("search")).alias("tool"),
        F.col("toks").alias("tokens"),
        _dict_tags("B").alias("tags"),
    )
    model = train_hmm(
        turns.where(F.col("turn_idx") % 5 != 0).select(
            F.col("conv_id").alias("doc_id"),
            F.col("turn_idx").cast("long").alias("sent_id"),
            "tokens",
            "tags",
        )
    )
    test = turns.where(F.col("turn_idx") % 5 == 0).drop("tags")
    return model, test


def _kg_edges_from_mentions(mentions):
    """Flagship tail: adjacency triple templating + edge aggregation."""
    from ..operators.graph import build_graph

    # adjacency templating via lead(): one window, span extraction runs once
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("span_start")
    nxt = mentions.select(
        "conv_id",
        "turn_idx",
        "span_start",
        "span_end",
        "entity_type",
        "surface",
        F.lead("span_start").over(w).alias("b_start"),
        F.lead("entity_type").over(w).alias("b_type"),
        F.lead("surface").over(w).alias("b_surface"),
    ).where(F.col("b_start") == F.col("span_end"))
    triples = nxt.select(
        F.col("surface").alias("subj"),
        F.when((F.col("entity_type") == "OP") & (F.col("b_type") == "OBJ"), "operates_on")
        .when((F.col("entity_type") == "OBJ") & (F.col("b_type") == "OP"), "feeds")
        .otherwise("adjacent_to")
        .alias("pred"),
        F.col("b_surface").alias("obj"),
        F.col("entity_type").alias("subj_type"),
        F.col("b_type").alias("obj_type"),
        "conv_id",
        "turn_idx",
    )
    _, edges = build_graph(mentions, triples)
    return edges.select("src", "pred", "dst", "weight")


def q_kg_pipeline(spark, sf_dir):
    """Flagship: the full KG pipeline over documents-as-transcripts.
    Returns the aggregated edge table (SQL oracle: full recursive-CTE
    mirror incl. HMM training + Viterbi)."""
    from ..operators.fused import decode_and_extract

    model, test = _kg_model_and_test(spark, sf_dir)
    # fused decode+extract: ONE python stage (BENCH finding: chained
    # mapInPandas stages collapse at high parallelism). localCheckpoint:
    # the mentions feed BOTH the triples window and the graph build;
    # without it each consumer would re-run the python stage.
    mentions = decode_and_extract(
        test, model, key_cols=("conv_id", "turn_idx")
    ).localCheckpoint()
    return _kg_edges_from_mentions(mentions)


def q_kg_incremental(spark, sf_dir):
    """Incremental-ingest variant of the flagship: the SAME final state,
    built as TWO delta ingests through bucketed stage commits
    (plans/lineage.write_bucketed) instead of one shot -- ingest 1 decodes
    ~80%% of conversations, ingest 2 decodes ONLY the remaining
    conversations and commits them as a fresh generation partition, which
    the manifest rename publishes next to the untouched buckets. The oracle is the one-shot full-recompute SQL
    (SQL_KG_PIPELINE), so the driver independently verifies that the
    incremental commit chain converges to the exact one-shot result."""
    import tempfile

    from ..operators.fused import decode_and_extract
    from ..plans.lineage import ParquetManifestTableIO

    model, test = _kg_model_and_test(spark, sf_dir)
    n_buckets = 16
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    batch2 = F.pmod(F.xxhash64("conv_id", F.lit(11)), F.lit(5)) == 0

    io = ParquetManifestTableIO(spark, tempfile.mkdtemp(prefix="kg_incr_"))

    # ingest 1: full commit of the first conversation batch. Repartition
    # by the bucket column before the partitioned write: the fanned-out
    # decode otherwise leaves every task writing a file into every
    # bucket dir (32 x buckets small files), tripling the commit's
    # footer-ledger work; content XOR is layout-blind so the snapshot id
    # is unchanged (verified identical both ways).
    m1 = decode_and_extract(
        test.where(~batch2), model, key_cols=("conv_id", "turn_idx")
    ).withColumn("bucket", bucket).repartition(n_buckets, F.col("bucket"))
    io.write_bucketed("mentions", m1, ["ingest:1"], "r1", n_buckets=n_buckets)

    # ingest 2: decode ONLY the new conversations and append them as a
    # fresh GENERATION partition (id n_buckets) -- a pure append writes
    # exactly one new partition dir, touching nothing else; the ledger
    # still folds its content XOR into the same layout-blind snapshot
    gen = n_buckets
    delta = (
        decode_and_extract(
            test.where(batch2), model, key_cols=("conv_id", "turn_idx")
        )
        .withColumn("bucket", F.lit(gen).cast("int"))
        .localCheckpoint(eager=True)
    )
    # single-generation delta -> coalesce the (checkpointed, small) frame
    # so the generation dir gets one file instead of one per decode task
    io.write_bucketed(
        "mentions", delta.coalesce(1), ["ingest:2"], "r2", affected_buckets=[gen]
    )

    return _kg_edges_from_mentions(
        io.read("mentions").drop("bucket").localCheckpoint()
    )


def _kg_pipeline_sql() -> str:
    """SQL mirror of the FULL flagship pipeline: HMM training over the
    dictionary-tagged train turns (first-occurrence tag order keyed by
    (conv_id=source, turn_idx), exact reference smoothing incl. quirks),
    recursive-CTE Viterbi over the held-out turns, single-token mention
    assembly (the B-OP/B-OBJ dictionary tagging yields length-1 BIO
    spans), adjacency relation templating, and edge aggregation keyed by
    the engine-portable md5 node ids of operators/graph.stable_node_id.

    Canonicalization note: on this corpus no candidate pair clears the
    TF-IDF link threshold (asserted in tests/test_kg.py::
    test_kg_dictionary_components_are_singletons), so every connected
    component is a singleton and canonical == surface; the oracle
    therefore resolves node ids directly from surfaces. If the corpus or
    threshold changed such that links formed, the Spark side would merge
    nodes and this oracle would (correctly) flag the divergence."""
    K = 3
    parts = _viterbi_cte_parts(K)
    tag_case = (
        f"CASE WHEN word IN ({_sql_list(OP_WORDS)}) THEN 'B-OP' "
        f"WHEN word IN ({_sql_list(OBJ_WORDS)}) THEN 'B-OBJ' ELSE 'O' END"
    )
    node_id = (
        "('0x' || substring(md5({t} || '|' || {s}), 1, 15))::BIGINT"
    )
    return f"""
WITH RECURSIVE
turns AS (
  SELECT source AS conv_id, CAST(doc_id AS INT) AS turn_idx, doc_id,
         string_split(text, ' ') AS toks
  FROM documents),
train AS (SELECT * FROM turns WHERE turn_idx % 5 <> 0),
ttok AS (
  SELECT conv_id, turn_idx, i - 1 AS pos, word, {tag_case} AS tag
  FROM (SELECT conv_id, turn_idx, unnest(generate_series(1, len(toks))) AS i, toks FROM train),
       LATERAL (SELECT toks[i] AS word)),
-- first-occurrence tag order over ((conv_id, turn_idx), pos) -- the
-- train_hmm sent key here is struct(conv_id, turn_idx)
firsts AS (
  SELECT tag, conv_id, turn_idx, pos
  FROM (SELECT tag, conv_id, turn_idx, pos,
               row_number() OVER (PARTITION BY tag ORDER BY conv_id, turn_idx, pos) AS r
        FROM ttok) WHERE r = 1),
tagidx AS (
  SELECT tag, CAST(row_number() OVER (ORDER BY conv_id, turn_idx, pos) - 1 AS INT) AS idx
  FROM firsts),
tagcnt AS (SELECT tag, count(*) AS cnt FROM ttok GROUP BY tag),
vsize AS (SELECT count(DISTINCT word) AS v FROM ttok),
nsent AS (SELECT count(*) AS n FROM train WHERE len(toks) > 0),
icnt AS (
  SELECT {tag_case.replace("word", "toks[1]")} AS tag, count(*) AS cnt
  FROM train WHERE len(toks) > 0 GROUP BY 1),
tcnt AS (
  SELECT a.tag AS prev, b.tag AS curr, count(*) AS cnt
  FROM ttok a JOIN ttok b
    ON b.conv_id = a.conv_id AND b.turn_idx = a.turn_idx AND b.pos = a.pos + 1
  GROUP BY 1, 2),
rowtot AS (SELECT prev, sum(cnt) AS total FROM tcnt GROUP BY prev),
ecnt AS (SELECT tag, word, count(*) AS cnt FROM ttok GROUP BY 1, 2),
pil AS (
  SELECT ti.idx,
         CASE WHEN ic.cnt IS NOT NULL
              THEN ln((ic.cnt + 1e-10) / (ns.n + {K} * 1e-10))
              ELSE 0.0 END AS pi
  FROM tagidx ti LEFT JOIN icnt ic ON ic.tag = ti.tag CROSS JOIN nsent ns),
al AS (
  SELECT ti.idx AS i, tj.idx AS j,
         CASE WHEN rt.total IS NULL THEN 0.0
              WHEN tc.cnt IS NOT NULL
                   AND ln(CAST(tc.cnt + 1 AS DOUBLE) / (rt.total + {K})) <> 0.0
              THEN ln(CAST(tc.cnt + 1 AS DOUBLE) / (rt.total + {K}))
              ELSE ln(CAST(1 AS DOUBLE) / (rt.total + {K})) END AS a
  FROM tagidx ti CROSS JOIN tagidx tj
  LEFT JOIN rowtot rt ON rt.prev = ti.tag
  LEFT JOIN tcnt tc ON tc.prev = ti.tag AND tc.curr = tj.tag),
mpi AS (SELECT {parts['pi_pivot']} FROM pil),
ma AS (SELECT {parts['a_pivot']} FROM al),
model AS (SELECT * FROM mpi CROSS JOIN ma),
test AS (SELECT * FROM turns WHERE turn_idx % 5 = 0),
doclen AS (SELECT doc_id, len(toks) AS n FROM test),
ttest AS (
  SELECT doc_id, conv_id, turn_idx, i AS t, toks[i] AS word
  FROM (SELECT doc_id, conv_id, turn_idx, unnest(generate_series(1, len(toks))) AS i, toks FROM test)),
eml AS (
  SELECT tt.doc_id, tt.t, ti.idx,
         ln((coalesce(ec.cnt, 0) + CAST(1 AS DOUBLE)) / (tc.cnt + vs.v)) AS e
  FROM ttest tt CROSS JOIN tagidx ti
  JOIN tagcnt tc ON tc.tag = ti.tag
  CROSS JOIN vsize vs
  LEFT JOIN ecnt ec ON ec.word = tt.word AND ec.tag = ti.tag),
em AS (SELECT doc_id, t, {parts['em_pivot']} FROM eml GROUP BY doc_id, t),
dp AS (
  SELECT e.doc_id, 1 AS t, dl.n, {parts['base_cols']}
  FROM em e CROSS JOIN model m JOIN doclen dl ON dl.doc_id = e.doc_id
  WHERE e.t = 1
  UNION ALL
  SELECT d.doc_id, d.t + 1, d.n, {parts['step_dp']}, {parts['step_p']}
  FROM dp d
  JOIN em e ON e.doc_id = d.doc_id AND e.t = d.t + 1
  CROSS JOIN model m
  WHERE d.t < d.n),
win AS (SELECT doc_id, {parts['win_path']} AS path FROM dp WHERE t = n),
decoded AS (
  SELECT w.doc_id, gs.i - 1 AS pos, w.path[gs.i] AS tidx
  FROM win w, LATERAL unnest(generate_series(1, len(w.path))) AS gs(i)),
men AS (
  SELECT tt.conv_id, tt.turn_idx, d.pos AS span_start, d.pos + 1 AS span_end,
         substring(ti.tag, 3) AS entity_type, tt.word AS surface
  FROM decoded d
  JOIN ttest tt ON tt.doc_id = d.doc_id AND tt.t = d.pos + 1
  JOIN tagidx ti ON ti.idx = d.tidx
  WHERE ti.tag <> 'O'),
tri AS (
  SELECT a.entity_type AS subj_type, a.surface AS subj,
         CASE WHEN a.entity_type = 'OP' AND b.entity_type = 'OBJ' THEN 'operates_on'
              WHEN a.entity_type = 'OBJ' AND b.entity_type = 'OP' THEN 'feeds'
              ELSE 'adjacent_to' END AS pred,
         b.entity_type AS obj_type, b.surface AS obj
  FROM men a JOIN men b
    ON b.conv_id = a.conv_id AND b.turn_idx = a.turn_idx
   AND b.span_start = a.span_end)
SELECT {node_id.format(t="subj_type", s="subj")} AS src,
       pred,
       {node_id.format(t="obj_type", s="obj")} AS dst,
       CAST(count(*) AS DOUBLE) AS weight
FROM tri GROUP BY 1, 2, 3
"""


def q_kg_pipeline_crf(spark, sf_dir):
    """The north-star names BOTH sequence labelers as mention-detection
    stages; this is the CRF-stage variant of the flagship: committed
    trained-CRF decode (artifacts/crf_dict_model) -> fused span assembly
    -> adjacency triples -> md5-keyed edge aggregation, oracle-verified
    end to end (the DuckDB mirror replays the integer-weight DP then the
    same KG tail)."""
    from ..functions.crf import CRFModel
    from ..operators.fused import decode_and_extract_crf

    model = CRFModel.load(_CRF_ART_DIR)
    test = (
        _toks(spark, sf_dir)
        .where(F.size("toks") <= 40)
        .where(F.col("doc_id") % 37 == 0)
        .select(
            F.col("source").alias("conv_id"),
            F.col("doc_id").cast("int").alias("turn_idx"),
            F.col("toks").alias("tokens"),
        )
    )
    mentions = decode_and_extract_crf(
        test, model, key_cols=("conv_id", "turn_idx")
    ).localCheckpoint()
    return _kg_edges_from_mentions(mentions)


N_CLUSTER_CTX = 30


def q_cluster_context_counts(spark, sf_dir):
    """Distributed core of the Brown-style word clustering
    (operators/clusters.py::context_pair_counts): directional
    co-occurrence counts against the top-N_CLUSTER_CTX context words
    (ties broken lexicographically) plus BOS/EOS. The driver-side
    bisecting k-means that consumes these counts is pytest-gated
    (tests/test_clusters.py -- deterministic, class-separating); the
    corpus-scale arithmetic is what this oracle pins."""
    from ..operators.clusters import context_pair_counts

    toks = _toks(spark, sf_dir).select(F.col("toks").alias("t"))
    words = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    ctx_words = [
        r.w
        for r in words.orderBy(F.desc("cnt"), F.asc("w"))
        .limit(N_CLUSTER_CTX)
        .collect()
    ]
    return context_pair_counts(toks, ctx_words)


def _cluster_context_counts_sql() -> str:
    return f"""
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
wc AS (SELECT unnest(t) AS w FROM toks),
ctx AS (
  SELECT w FROM (SELECT w, count(*) AS cnt FROM wc GROUP BY w)
  ORDER BY cnt DESC, w ASC LIMIT {N_CLUSTER_CTX}),
ex AS (
  SELECT t[i] AS w, i, len(t) AS n, t
  FROM (SELECT t, unnest(generate_series(1, len(t))) AS i FROM toks)),
pairs AS (
  SELECT w, 'L' AS d, CASE WHEN i = 1 THEN 'BOS' ELSE t[i - 1] END AS c FROM ex
  UNION ALL
  SELECT w, 'R' AS d, CASE WHEN i = n THEN 'EOS' ELSE t[i + 1] END AS c FROM ex)
SELECT w, d, c, count(*) AS cnt
FROM pairs
WHERE c IN (SELECT w FROM ctx) OR c IN ('BOS', 'EOS')
GROUP BY w, d, c
"""


def q_gazetteer(spark, sf_dir):
    """Gazetteer mining aggregate (operators/crf.py::gazetteer_entries,
    the distributed core behind the CRF quality recipe's gaz features):
    two dictionary taggings of the documents corpus are unioned -- a
    fine BIO tagging (OP/OBJ) and a coarse one typing OP_COARSE words
    as VERB -- so words in both inventories exercise the sorted
    type-SET join ('OP|VERB') and the B-/I- chunk-prefix strip, not
    just single-type rows."""
    from ..operators.crf import gazetteer_entries

    toks = _toks(spark, sf_dir)
    fine = toks.select(
        F.col("toks").alias("tokens"),
        _dict_tags("I").alias("tags"),
    )
    coarse = toks.select(
        F.col("toks").alias("tokens"),
        F.transform(
            "toks",
            lambda w: F.when(w.isin(OP_COARSE), "B-VERB").otherwise("O"),
        ).alias("tags"),
    )
    return gazetteer_entries(fine.unionByName(coarse))


SQL_GAZETTEER = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
typed AS (
  SELECT w, 'OP' AS ty FROM tok WHERE w IN ({_sql_list(OP_WORDS)})
  UNION ALL
  SELECT w, 'OBJ' AS ty FROM tok WHERE w IN ({_sql_list(OBJ_WORDS)})
  UNION ALL
  SELECT w, 'VERB' AS ty FROM tok WHERE w IN ({_sql_list(OP_COARSE)}))
SELECT w,
       array_to_string(list_sort(list(DISTINCT ty)), '|') AS gaz_class,
       count(*) AS n
FROM typed GROUP BY w
"""


# =====================================================================
# Registry
# =====================================================================

QUERIES = {
    "gazetteer": q_gazetteer,
    "cluster_context_counts": q_cluster_context_counts,
    "kg_pipeline_crf": q_kg_pipeline_crf,
    "simhash": q_simhash,
    "winnow_fingerprints": q_winnow_fingerprints,
    "bpe_token_counts": q_bpe_token_counts,
    "langid_confusion": q_langid_confusion,
    "cosine_neardup": q_cosine_neardup,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "multimodal_features": q_multimodal_features,
    "image_channel_stats": q_image_channel_stats,
    "audio_energy_stats": q_audio_energy_stats,
    "word_count": q_word_count,
    "initial_token_count": q_initial_token_count,
    "transition_count": q_transition_count,
    "emission_count": q_emission_count,
    "dict_mentions": q_dict_mentions,
    "dict_triples": q_dict_triples,
    "edge_weights": q_edge_weights,
    "eval_prf": q_eval_prf,
    "eval_report": q_eval_report,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash": q_dedup_minhash,
    "dedup_groups": q_dedup_groups,
    "pack_sequences": q_pack_sequences,
    "contamination": q_contamination,
    "repetition_stats": q_repetition_stats,
    "stratified_sample": q_stratified_sample,
    "jaccard_ngram": q_jaccard_ngram,
    "sim_topk": q_sim_topk,
    "textstats": q_textstats,
    "lang_distribution": q_lang_distribution,
    "pricing_summary": q_pricing_summary,
    "top_customers": q_top_customers,
    "sessionize": q_sessionize,
    "hourly_event_counts": q_hourly_event_counts,
    "hmm_decode_dict": q_hmm_decode_dict,
    "crf_decode_dict": q_crf_decode_dict,
    "crf_decode_fixed": q_crf_decode_fixed,
    "transformer_decode": q_transformer_decode,
    "kg_pipeline": q_kg_pipeline,
    "kg_incremental": q_kg_incremental,
}

ORACLES = {
    "gazetteer": SQL_GAZETTEER,
    "cluster_context_counts": _cluster_context_counts_sql(),
    "simhash": SQL_SIMHASH,
    "winnow_fingerprints": SQL_WINNOW_FINGERPRINTS,
    "bpe_token_counts": SQL_BPE_TOKEN_COUNTS,
    "langid_confusion": _langid_sql(),
    "cosine_neardup": SQL_COSINE_NEARDUP,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "image_channel_stats": _image_stats_sql(),
    "audio_energy_stats": _audio_stats_sql(),
    "ann_lsh_topk": _lsh_sql(),
    "ann_ivf_topk": _ivf_sql(),
    "word_count": SQL_WORD_COUNT,
    "initial_token_count": SQL_INITIAL_TOKEN_COUNT,
    "transition_count": SQL_TRANSITION_COUNT,
    "emission_count": SQL_EMISSION_COUNT,
    "dict_mentions": SQL_DICT_MENTIONS,
    "dict_triples": SQL_DICT_TRIPLES,
    "edge_weights": SQL_EDGE_WEIGHTS,
    "eval_prf": SQL_EVAL_PRF,
    "eval_report": _eval_report_sql(),
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_minhash": SQL_DEDUP_MINHASH,
    "dedup_groups": SQL_DEDUP_GROUPS,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "contamination": SQL_CONTAMINATION,
    "repetition_stats": SQL_REPETITION_STATS,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "jaccard_ngram": SQL_JACCARD_NGRAM,
    "sim_topk": SQL_SIM_TOPK,
    "textstats": SQL_TEXTSTATS,
    "lang_distribution": SQL_LANG_DISTRIBUTION,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "top_customers": SQL_TOP_CUSTOMERS,
    "sessionize": SQL_SESSIONIZE,
    "hourly_event_counts": SQL_HOURLY_EVENT_COUNTS,
    "hmm_decode_dict": _hmm_decode_sql(),
    "crf_decode_fixed": _crf_decode_sql("fixed"),
    # crf_decode_dict decodes with the committed quantized trained
    # weights (artifacts/crf_dict_model), so its oracle joins the same
    # weight parquet and replays the DP in int64
    "crf_decode_dict": _crf_decode_sql("artifact"),
    "kg_pipeline_crf": _crf_decode_sql("artifact", emit="edges"),
    "transformer_decode": _transformer_decode_sql(),
    "kg_pipeline": _kg_pipeline_sql(),
    # the incremental ingest chain must converge to the one-shot result,
    # so its oracle IS the one-shot full-recompute SQL
    "kg_incremental": _kg_pipeline_sql(),
}
