"""K8: knowledge-graph materialization -- nodes + edges tables.

nodes: ``node_id long, canonical string, entity_type string,
        aliases array<string>, n_mentions long``
edges: ``src long, pred string, dst long, weight double,
        provenance array<struct<conv_id string, turn_idx int>>``

Canonicalization: each (entity_type, surface) candidate maps to its
connected component (K7); the canonical surface is the most-mentioned
variant in the component (ties broken lexicographically -- deterministic).
``node_id`` is an md5-derived 60-bit integer of (entity_type, canonical
surface): stable across runs and cluster sizes (no global ordering pass
at 10^9-node scale) AND engine-portable -- any system can recompute it as
``('0x' || substring(md5(type || '|' || canonical), 1, 15))::BIGINT``,
which is how the DuckDB oracle checks the edge table. Collision
probability is negligible below ~10^8 nodes and every build verifies
that the candidate nodes' ids are unique.

One size decision (:func:`materialize_graph_from_counts`): the tail's
state is bounded by distinct entities, not by the corpus. The candidates
are collected once, bounded by ``LOCAL_THRESHOLD`` + 1 rows (the same
rule ``connected_components`` applies to its pairs). At or below the
threshold, the link pairs are collected too, and components (the same
driver union-find), canonical surfaces, nodes, node ids and the collision
check are computed on the driver; Spark gets one small surface -> node_id
map, broadcast into the edge aggregate. Above it, CC, the canonical
aggregate and the nodes aggregate run as Spark jobs. Both paths feed the
same edge and tool-node aggregates and give identical rows
(property-tested). :func:`build_graph` collects its candidates before
linking, so linking and the tail read one local frame.

Provenance arrays are capped (``provenance_cap``) so a frequent triple
cannot blow up a single row -- the full evidence remains derivable from
the triples table. An edge's sample is the ``provenance_cap`` smallest
(conv_id, turn_idx) of its merged triple-count samples (sorted before
the slice), so edges depend on the triple-count content, not on its
partitioning or row order.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .components import LOCAL_THRESHOLD, _local_components, connected_components
from .linking import candidate_entities, link_edges


def stable_node_id(type_col, name_col):
    """Engine-portable stable node id: 60-bit integer from md5 of
    ``type|name`` (conv/substring keeps 15 hex digits -> always positive,
    fits BIGINT). The '|' separator is safe for ids because collisions --
    from separator ambiguity or from hashing -- are caught by the
    collision check every build runs."""
    return F.conv(
        F.substring(
            F.md5(F.concat(type_col, F.lit("|"), name_col).cast("binary")), 1, 15
        ),
        16,
        10,
    ).cast("long")


def _node_id(entity_type: str, canonical: str) -> int:
    """:func:`stable_node_id` computed on the driver."""
    digest = hashlib.md5(f"{entity_type}|{canonical}".encode()).hexdigest()
    return int(digest[:15], 16)


def _check_unique_ids(n_nodes: int, n_ids: int) -> None:
    if n_nodes != n_ids:
        raise RuntimeError(f"node_id hash collision: {n_nodes} nodes, {n_ids} ids")


def build_graph(
    mentions: DataFrame,
    triples: DataFrame,
    link_threshold: float = 0.72,
    provenance_cap: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """mentions + triples -> (nodes, edges).

    Raw triples are PROJECTED to unit-count rows (n=1, singleton
    provenance), NOT pre-aggregated -- sum(1)==count(*) and
    flatten([e])==collect(e), so semantics match the counts path while
    the batch plan keeps its single edge-aggregate shuffle (a counts
    pre-agg was measured ~35% slower on the one-shot flagship: it
    shuffles every provenance struct twice). The incremental pipeline
    feeds real aggregated counts to materialize_graph_from_counts.

    Candidates that fit the driver are collected here: linking and the
    tail then read a local frame, so the mentions are aggregated once
    (the tail's own collect of a local frame runs no job)."""
    cands = candidate_entities(mentions)
    rows = cands.limit(LOCAL_THRESHOLD + 1).collect()
    if len(rows) <= LOCAL_THRESHOLD:
        cands = mentions.sparkSession.createDataFrame(
            pd.DataFrame(rows, columns=cands.columns), cands.schema
        )
    unit = triples.select(
        "subj_type", "subj", "pred", "obj_type", "obj",
        F.lit(1).alias("n"),
        F.array(F.struct("conv_id", "turn_idx")).alias("prov"),
    )
    return materialize_graph_from_counts(
        cands,
        link_edges(cands, threshold=link_threshold),
        unit,
        provenance_cap=provenance_cap,
    )


def triple_counts_from_triples(
    triples: DataFrame, provenance_cap: int = 20
) -> DataFrame:
    """Aggregate raw triples to the surface-level count state the graph
    tail consumes: one row per (subj_type, subj, pred, obj_type, obj)
    with exact count ``n`` and a capped provenance sample. This is the
    table plans/incremental.py maintains by delta arithmetic so the
    edges stage never rescans the full triples table."""
    return triples.groupBy(
        "subj_type", "subj", "pred", "obj_type", "obj"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.slice(
            F.collect_list(F.struct("conv_id", "turn_idx")), 1, provenance_cap
        ).alias("prov"),
    )


def materialize_graph_from_counts(
    cands: DataFrame,
    edges_sim: DataFrame,
    triple_counts: DataFrame,
    provenance_cap: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """Graph tail over the aggregated triple-count state (see
    :func:`triple_counts_from_triples`). Split out of
    :func:`build_graph` so callers that maintain ``cands`` /
    ``edges_sim`` / ``triple_counts`` incrementally (block-scoped
    linking + count arithmetic, plans/incremental.py) share the exact
    same canonicalization and aggregation.

    ``cands`` needs (entity_type, surface, n_mentions) with one row per
    (entity_type, surface); ``edges_sim`` needs (src_key, dst_key). The
    candidates are collected once, at most ``LOCAL_THRESHOLD`` + 1 rows;
    whether that many came back picks the driver or the distributed
    path (module docstring)."""
    keyed = cands.select(
        "entity_type",
        "surface",
        "n_mentions",
        F.concat_ws("|", "entity_type", "surface").alias("key"),
    )
    rows = keyed.limit(LOCAL_THRESHOLD + 1).collect()
    if len(rows) <= LOCAL_THRESHOLD:
        nodes, resolve = _local_nodes(rows, edges_sim)
    else:
        nodes, resolve = _distributed_nodes(keyed, edges_sim)
    edges, tool_nodes = _edges(triple_counts, resolve, provenance_cap)
    return nodes.unionByName(tool_nodes), edges


def _local_nodes(rows: list, edges_sim: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Driver path: components, canonical surfaces and nodes from the
    collected candidate rows and link pairs; returns (nodes, resolve)
    as small local frames, resolve with a broadcast hint."""
    pairs = edges_sim.select("src_key", "dst_key").collect()
    component = dict(_local_components([(p.src_key, p.dst_key) for p in pairs]))
    members: dict = {}
    for r in rows:
        members.setdefault(component.get(r.key, r.key), []).append(r)
    nodes, resolve = [], []
    for group in members.values():
        # most mentions, ties -> lexicographic min (the distributed
        # path's min over (-n_mentions, surface))
        best = min(group, key=lambda r: (-r.n_mentions, r.surface))
        nodes.append((
            _node_id(best.entity_type, best.surface),
            best.surface,
            best.entity_type,
            sorted({r.surface for r in group}),
            sum(r.n_mentions for r in group),
        ))
        resolve += [
            (r.entity_type, r.surface, _node_id(r.entity_type, best.surface))
            for r in group
        ]
    _check_unique_ids(len(nodes), len({n[0] for n in nodes}))
    # pandas -> Arrow LocalTableScan (see connected_components)
    spark = edges_sim.sparkSession
    return (
        spark.createDataFrame(
            pd.DataFrame(
                nodes,
                columns=["node_id", "canonical", "entity_type", "aliases", "n_mentions"],
            ),
            "node_id long, canonical string, entity_type string, "
            "aliases array<string>, n_mentions long",
        ),
        F.broadcast(spark.createDataFrame(
            pd.DataFrame(resolve, columns=["entity_type", "surface", "node_id"]),
            "entity_type string, surface string, node_id long",
        )),
    )


def _distributed_nodes(
    keyed: DataFrame, edges_sim: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Spark path of :func:`_local_nodes`, for candidate sets above
    ``LOCAL_THRESHOLD``."""
    keyed = keyed.join(connected_components(edges_sim), "key", "left").withColumn(
        "component", F.coalesce("component", F.col("key"))
    )
    # canonical surface: most-mentioned variant, ties -> lexicographic min
    canon = (
        keyed.groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n_mentions")).alias("neg_n"),
                    F.col("surface").alias("surface"),
                )
            ).alias("best")
        )
        .select("component", F.col("best.surface").alias("canonical"))
    )
    # eager localCheckpoint: feeds the nodes aggregate, the collision
    # check AND both resolution joins of the edges path (without it every
    # consumer re-runs linking + CC). Unlike a bare persist(), its blocks
    # are released by the ContextCleaner once the returned frames are
    # garbage-collected, so repeated builds in a long-lived session don't
    # accumulate cached blocks.
    enriched = keyed.join(canon, "component").localCheckpoint(eager=True)
    nodes = (
        enriched.groupBy("component", "canonical")
        .agg(
            F.first("entity_type").alias("entity_type"),
            F.array_sort(F.collect_set("surface")).alias("aliases"),
            F.sum("n_mentions").alias("n_mentions"),
        )
        .withColumn("node_id", stable_node_id(F.col("entity_type"), F.col("canonical")))
        .select("node_id", "canonical", "entity_type", "aliases", "n_mentions")
    )
    n, nd = nodes.agg(
        F.count("*").alias("n"), F.countDistinct("node_id").alias("nd")
    ).first()
    _check_unique_ids(n, nd)
    resolve = enriched.select(
        "entity_type",
        "surface",
        stable_node_id(F.col("entity_type"), F.col("canonical")).alias("node_id"),
    )
    return nodes, resolve


def _edges(
    triple_counts: DataFrame, resolve: DataFrame, provenance_cap: int
) -> tuple[DataFrame, DataFrame]:
    """The edge aggregate and the TOOL-node aggregate over the triple
    counts, with endpoints resolved through the (entity_type, surface,
    node_id) map; returns (edges, tool_nodes)."""
    r_subj = resolve.select(
        F.col("entity_type").alias("subj_type"),
        F.col("surface").alias("subj"),
        F.col("node_id").alias("src"),
    )
    r_obj = resolve.select(
        F.col("entity_type").alias("obj_type"),
        F.col("surface").alias("obj"),
        F.col("node_id").alias("dst"),
    )
    # TOOL subjects (R2 triples) have no mention-candidate entry; they get
    # their own stable ids.
    resolved = (
        triple_counts.join(r_subj, ["subj_type", "subj"], "left")
        .join(r_obj, ["obj_type", "obj"], "left")
        .withColumn(
            "src",
            F.coalesce("src", stable_node_id(F.col("subj_type"), F.col("subj"))),
        )
        .withColumn(
            "dst",
            F.coalesce("dst", stable_node_id(F.col("obj_type"), F.col("obj"))),
        )
    )
    edges = (
        resolved.groupBy("src", "pred", "dst")
        .agg(
            F.sum("n").cast("double").alias("weight"),
            # sorted before the slice: collect_list keeps whatever order
            # the shuffle delivers
            F.slice(
                F.array_sort(F.flatten(F.collect_list("prov"))), 1, provenance_cap
            ).alias("provenance"),
        )
    )

    tool_nodes = (
        resolved.where(F.col("subj_type") == "TOOL")
        .select(
            F.col("src").alias("node_id"),
            F.col("subj").alias("canonical"),
            F.lit("TOOL").alias("entity_type"),
            F.array(F.col("subj")).alias("aliases"),
            F.col("n"),
        )
        .groupBy("node_id", "canonical", "entity_type")
        .agg(F.first("aliases").alias("aliases"), F.sum("n").alias("n_mentions"))
    )
    return edges, tool_nodes
