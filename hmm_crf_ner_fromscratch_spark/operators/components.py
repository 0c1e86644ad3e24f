"""K7: adaptive connected-components canonicalization.

Each candidate entity is a vertex (string key); link edges (K6) connect
variants of the same real-world entity. The component representative --
the lexicographically smallest key -- becomes the canonical entity.

Two paths, chosen from the input pair count (see
:func:`connected_components`):
  * small link graphs -> driver-side union-find over the collected pairs;
  * large ones -> iterative min-label propagation with DataFrame
    self-joins. Every round, each vertex adopts the minimum label among
    itself and its neighbors; converged when no label changes. Rounds =
    O(component diameter); name-similarity graphs have tiny diameters, so
    a handful of rounds suffice -- per SURVEY.md SS2.6 K7.

The same size rule, ``LOCAL_THRESHOLD``, decides one level up whether
the whole KG tail (components, canonicalization, nodes) runs on the
driver (operators/graph.py), which calls :func:`_local_components`
directly.

Scale guards for the distributed loop (the two failure modes of naive
iterative DataFrames):
  * lineage blowup -> ``localCheckpoint()`` every iteration truncates the
    plan, keeping each round's job constant-size;
  * convergence detection -> a single ``count`` of changed labels per
    round (cheap agg on the checkpointed frame), hard max_iter backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# up to this many rows, collecting to the driver beats the fixed cost of
# the distributed jobs: input pairs here, candidates in operators/graph.py
LOCAL_THRESHOLD = 500_000


def _local_components(pairs: list) -> list:
    """Driver-side union-find with min-key labels; same contract as the
    distributed loop."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # min key becomes the root -> label is the component minimum
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return [(k, find(k)) for k in parent]


def connected_components(
    edges: DataFrame,
    src: str = "src_key",
    dst: str = "dst_key",
    max_iter: int = 25,
    local_threshold: int = LOCAL_THRESHOLD,
) -> DataFrame:
    """Returns ``DataFrame[key, component]`` for every vertex appearing in
    ``edges``; ``component`` is the minimum key in the vertex's component.

    Vertices not present in ``edges`` are their own components -- callers
    union isolated vertices back in afterwards (left join + coalesce).

    Adaptive execution, same shape as Spark's broadcast-join selection:
    the (src, dst) pairs are checkpointed once and counted; at or below
    ``local_threshold`` input pairs (as given: duplicates and both
    directions count) the component structure is solved with driver-side
    union-find (one collect instead of ~4 jobs x O(diameter) rounds -- the
    iteration overhead dominates for small link graphs); above it the
    pairs are symmetrized and deduped and the distributed min-label loop
    runs. Both paths produce identical (key, min-key-of-component) rows --
    property-tested equivalent. No pairs give no rows.
    """
    pairs = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint()
    if pairs.count() <= local_threshold:
        import pandas as pd

        rows = _local_components([(r.u, r.v) for r in pairs.collect()])
        schema = pairs.select(
            F.col("u").alias("key"), F.col("v").alias("component")
        ).schema
        # pandas -> Arrow LocalTableScan: createDataFrame on a plain list
        # builds a pickled python RDD with defaultParallelism partitions,
        # which every downstream consumer pays python-worker roundtrips to
        # scan (and which coalesce(1) turns into ~4 s of sequential drains)
        return edges.sparkSession.createDataFrame(
            pd.DataFrame(rows, columns=["key", "component"]), schema
        )
    sym = (
        pairs.unionByName(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("u").alias("key"))
        .distinct()
        .withColumn("component", F.col("key"))
        .localCheckpoint()
    )

    for _ in range(max_iter):
        # neighbor labels: for vertex u, min label among neighbors v
        nbr = (
            sym.join(labels, sym["v"] == labels["key"])
            .select(F.col("u").alias("key"), "component")
            .groupBy("key")
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, "key", "left")
            .select(
                "key",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                F.col("component").alias("_old"),
            )
            .localCheckpoint()
        )
        changed = new_labels.where(F.col("component") != F.col("_old")).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    return labels
