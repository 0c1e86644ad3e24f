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
probability is negligible below ~10^8 nodes and the builder verifies
uniqueness with a cheap count-distinct assertion.

Provenance arrays are capped (``provenance_cap``) so a frequent triple
cannot blow up a single row -- the full evidence remains derivable from
the triples table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .components import connected_components


def stable_node_id(type_col, name_col):
    """Engine-portable stable node id: 60-bit integer from md5 of
    ``type|name`` (conv/substring keeps 15 hex digits -> always positive,
    fits BIGINT). The '|' separator is safe for ids because collisions --
    from separator ambiguity or from hashing -- are caught by the
    ``check_id_collisions`` count-distinct assertion."""
    return F.conv(
        F.substring(
            F.md5(F.concat(type_col, F.lit("|"), name_col).cast("binary")), 1, 15
        ),
        16,
        10,
    ).cast("long")
from .linking import candidate_entities, link_edges


def build_graph(
    mentions: DataFrame,
    triples: DataFrame,
    link_threshold: float = 0.72,
    provenance_cap: int = 20,
    check_id_collisions: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """mentions + triples -> (nodes, edges).

    Raw triples are PROJECTED to unit-count rows (n=1, singleton
    provenance), NOT pre-aggregated -- sum(1)==count(*) and
    flatten([e])==collect(e), so semantics match the counts path while
    the batch plan keeps its single edge-aggregate shuffle (a counts
    pre-agg was measured ~35% slower on the one-shot flagship: it
    shuffles every provenance struct twice). The incremental pipeline
    feeds real aggregated counts to materialize_graph_from_counts."""
    cands = candidate_entities(mentions).persist()
    edges_sim = link_edges(cands, threshold=link_threshold)
    unit = triples.select(
        "subj_type", "subj", "pred", "obj_type", "obj",
        F.lit(1).alias("n"),
        F.array(F.struct("conv_id", "turn_idx")).alias("prov"),
    )
    out = materialize_graph_from_counts(
        cands,
        edges_sim,
        unit,
        provenance_cap=provenance_cap,
        check_id_collisions=check_id_collisions,
    )
    cands.unpersist()
    return out


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
    check_id_collisions: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Graph tail over the aggregated triple-count state (see
    :func:`triple_counts_from_triples`). Split out of
    :func:`build_graph` so callers that maintain ``cands`` /
    ``edges_sim`` / ``triple_counts`` incrementally (block-scoped
    linking + count arithmetic, plans/incremental.py) share the exact
    same canonicalization and aggregation."""
    comp = connected_components(edges_sim)

    # Adaptive shortcut (round 7): connected_components always returns a
    # materialized frame (checkpointed labels or a driver-built local
    # table), so emptiness is known for free. An EMPTY link graph -- the
    # common case for clean corpora; the flagship corpus produces zero
    # link edges (tests/test_kg.py singleton assertion) -- means every
    # candidate is its own component and its own canonical surface, so
    # the component join, the canonical-surface aggregate, and the eager
    # checkpoint all collapse to a projection of cands: two shuffles and
    # one action less in every graph build. Results are identical by
    # construction: coalesce(component, key) = key and the per-singleton
    # best surface = the candidate's own surface. The projection is lazy:
    # build_graph unpersists cands before it returns, so each consumer of
    # the result recomputes mentions -> candidates.
    if comp.isEmpty():
        enriched = cands.withColumn(
            "key", F.concat_ws("|", "entity_type", "surface")
        ).withColumn("component", F.col("key")).withColumn(
            "canonical", F.col("surface")
        )
    else:
        keyed = cands.withColumn(
            "key", F.concat_ws("|", "entity_type", "surface")
        ).join(comp, "key", "left").withColumn(
            "component", F.coalesce("component", F.col("key"))
        )

        # canonical surface: most-mentioned variant, ties -> lexicographic
        # min
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
        # eager localCheckpoint: feeds the nodes aggregate AND both
        # resolution joins of the edges path (without it every consumer
        # re-runs linking + CC). Unlike a bare persist(), its blocks are
        # released by the ContextCleaner once the returned frames are
        # garbage-collected, so repeated build_graph calls in a long-lived
        # session don't accumulate cached blocks; and cands can be dropped
        # as soon as it materializes (build_graph unpersists its cands
        # right after this returns).
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

    if check_id_collisions:
        n, nd = nodes.agg(
            F.count("*").alias("n"), F.countDistinct("node_id").alias("nd")
        ).first()
        if n != nd:
            raise RuntimeError(f"node_id hash collision: {n} nodes, {nd} ids")

    # surface -> node_id resolution map (per entity_type)
    resolve = enriched.select(
        "entity_type",
        "surface",
        stable_node_id(F.col("entity_type"), F.col("canonical")).alias("node_id"),
    )
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
            F.slice(
                F.flatten(F.collect_list("prov")), 1, provenance_cap
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
    return nodes.unionByName(tool_nodes), edges
