"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed gives the
same tables, row for row.

* ``documents`` -- a table with the schema and closed vocabulary of the
  repository's ``documents.parquet`` test tables, optionally with planted
  near-duplicate clusters (copies of an original with one token replaced
  and a ``dup`` marker appended).
* ``transcripts`` -- ``synth_transcripts`` with Heaps-law entity tokens,
  plus case and punctuation variants of entity surfaces. Variants
  normalize equal, so they always link and the link graph is non-empty.
* ``dictionary_tags`` -- the dictionary tagging the HMM is fitted on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# closed vocabulary of the documents test tables
OP_WORDS = ["agg", "filter", "group", "hash", "join", "merge", "query", "scan", "sort"]
OBJ_WORDS = [
    "batch", "column", "customer", "data", "key", "line", "order", "part",
    "row", "stream", "table", "value", "vector", "window",
]
STOPWORDS = ["the", "a", "big", "small", "fast", "slow"]
DOC_VOCAB = OP_WORDS + OBJ_WORDS + STOPWORDS + ["spark"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DUP_MARK = "dup"
MIN_DUP_SOURCE_LEN = 50  # one replaced token keeps 5-shingle Jaccard >= 0.79

# dictionary for the transcript tagging (normalized forms)
ENTITY_DICT = {
    "LOC": ["germany", "russia", "england", "paris", "france", "iraq"],
    "PER": ["clinton", "michael"],
    "ORG": ["reuters", "un"],
}
_ENTITY_SURFACE_RE = (
    r"^(Ent[0-9]+|Germany|Russia|England|Paris|France|Iraq|Clinton|Michael"
    r"|Reuters|U\.N\.)$"
)
VARIANT_MOD = 12  # one entity token in 12 becomes a variant of 3 kinds
HEAPS_VOCAB = 0.5


def documents(
    n_docs: int,
    seed: int,
    n_sources: int = 20,
    dup_frac: float = 0.0,
) -> tuple[pd.DataFrame, list[list[int]]]:
    """(documents table, planted clusters as lists of doc ids).

    ``dup_frac`` is the share of documents that are planted copies."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, n_docs)
    texts = [list(rng.choice(DOC_VOCAB, n)) for n in lengths]
    clusters: dict[int, list[int]] = {}
    n_dup = int(round(n_docs * dup_frac))
    if n_dup:
        # copies take the last n_dup ids; each picks a long original
        # among the first ids (an original may collect several copies)
        originals = [i for i in range(n_docs - n_dup) if lengths[i] >= MIN_DUP_SOURCE_LEN]
        for c in range(n_docs - n_dup, n_docs):
            o = int(rng.choice(originals))
            toks = list(texts[o])
            pos = int(rng.integers(0, len(toks)))
            toks[pos] = DOC_VOCAB[(DOC_VOCAB.index(toks[pos]) + 1) % len(DOC_VOCAB)]
            texts[c] = toks + [DUP_MARK]
            clusters.setdefault(o, [o]).append(c)
    text = [" ".join(t) for t in texts]
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": text,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % n_sources}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    return pdf, list(clusters.values())


def planted_pairs(clusters: list[list[int]]) -> list[tuple[int, int]]:
    return [
        (a, b)
        for cl in clusters
        for i, a in enumerate(sorted(cl))
        for b in sorted(cl)[i + 1:]
    ]


def shingle_jaccard(a: str, b: str, n: int = 5) -> float:
    """Exact shingle-set Jaccard, same shingling as operators.dedup."""

    def sh(t):
        toks = t.split(" ")
        return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n + 1, 1))}

    x, y = sh(a), sh(b)
    return len(x & y) / len(x | y)


def with_variants(df, seed: int):
    """Replace some entity tokens by an upper-case, lower-case or
    comma-suffixed variant (hash-chosen per position, so seeded)."""
    from pyspark.sql import functions as F

    def var(t, i):
        h = F.pmod(F.xxhash64("conv_id", "turn_idx", i, F.lit(seed)), F.lit(VARIANT_MOD))
        ent = t.rlike(_ENTITY_SURFACE_RE)
        return (
            F.when(ent & (h == 0), F.upper(t))
            .when(ent & (h == 1), F.lower(t))
            .when(ent & (h == 2), F.concat(t, F.lit(",")))
            .otherwise(t)
        )

    return df.withColumn(
        "text", F.array_join(F.transform(F.split("text", " "), var), " ")
    )


def transcripts(spark, n_turns: int, seed: int):
    from hmm_crf_ner_fromscratch_spark.sources.transcripts import synth_transcripts

    return with_variants(
        synth_transcripts(spark, n_turns, seed=seed, heaps_vocab=HEAPS_VOCAB), seed
    )


def dictionary_tags(tx):
    """DataFrame[doc_id, sent_id, tokens, tags] for ``train_hmm``: each
    token tagged B-<type> when its normalized form is in the entity
    dictionary (or is an ``ent<id>`` token -> MISC), else O."""
    from pyspark.sql import functions as F

    from hmm_crf_ner_fromscratch_spark.operators.linking import normalize_surface

    def tag(w):
        n = normalize_surface(w)
        out = F.when(n.rlike("^ent[0-9]+$"), "B-MISC")
        for typ, words in ENTITY_DICT.items():
            out = out.when(n.isin(words), f"B-{typ}")
        return out.otherwise("O")

    return tx.select(
        F.col("conv_id").alias("doc_id"),
        F.col("turn_idx").cast("long").alias("sent_id"),
        F.split("text", " ").alias("tokens"),
    ).withColumn("tags", F.transform("tokens", tag))
