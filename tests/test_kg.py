"""K4-K8 gates: relation templating vs plain-Python oracle, linking,
connected components, graph build, and the e2e triple P/R >= 0.95 test
against the single-process reference extraction (BASELINE.json metric)."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from hmm_crf_ner_fromscratch_spark.operators.components import (
    connected_components,
)
from hmm_crf_ner_fromscratch_spark.operators.graph import build_graph
from hmm_crf_ner_fromscratch_spark.operators.hmm import decode_hmm, train_hmm
from hmm_crf_ner_fromscratch_spark.operators.linking import (
    candidate_entities,
    link_edges,
)
from hmm_crf_ner_fromscratch_spark.operators.mentions import extract_mentions
from hmm_crf_ner_fromscratch_spark.operators.relations import (
    RELATION_RULES,
    template_triples,
)
from hmm_crf_ner_fromscratch_spark.sources.conll import read_conll
from hmm_crf_ner_fromscratch_spark.sources.transcripts import (
    load_eval_sentences,
    synth_transcripts,
    tokenize_turns,
)
from tests.test_transcripts_mentions import spans_oracle
from conftest import needs_reference


def triples_oracle(mention_rows, window=0):
    """Independent single-process triple extractor (R1+R2+R3)."""
    out = []
    by_turn = {}
    for m in mention_rows:
        by_turn.setdefault((m["conv_id"], m["turn_idx"]), []).append(m)
    for (conv, turn), ms in by_turn.items():
        ms = sorted(ms, key=lambda m: (m["span_start"], m["span_end"]))
        for a, b in itertools.permutations(ms, 2):
            if a["span_end"] <= b["span_start"]:
                pred = RELATION_RULES.get((a["entity_type"], b["entity_type"]))
                if pred:
                    out.append(
                        (a["surface"], pred, b["surface"], a["entity_type"],
                         b["entity_type"], conv, turn)
                    )
        for m in ms:
            if m["role"] == "tool" and m["tool"]:
                out.append(
                    (m["tool"], "returned", m["surface"], "TOOL",
                     m["entity_type"], conv, turn)
                )
    if window > 0:
        by_conv = {}
        for m in mention_rows:
            if m["entity_type"] in ("PER", "NAME"):
                by_conv.setdefault(m["conv_id"], []).append(m)
        r3 = set()
        for conv, ms in by_conv.items():
            for a, b in itertools.permutations(ms, 2):
                d = b["turn_idx"] - a["turn_idx"]
                if 0 < d <= window:
                    r3.add(
                        (a["surface"], "co_mentioned_with", b["surface"],
                         a["entity_type"], b["entity_type"], conv, a["turn_idx"])
                    )
        out.extend(sorted(r3))
    return out


def _mention_rows(spark, model):
    df = synth_transcripts(spark, 300, seed=11, heaps_vocab=0.5)
    turns = tokenize_turns(df)
    decoded = decode_hmm(turns, model)
    return extract_mentions(decoded).persist()


def test_template_triples_vs_oracle(spark, english_model):
    mentions = _mention_rows(spark, english_model)
    rows = [r.asDict() for r in mentions.collect()]
    for window in (0, 3):
        got = sorted(
            tuple(r) for r in template_triples(mentions, cross_turn_window=window)
            .select("subj", "pred", "obj", "subj_type", "obj_type", "conv_id", "turn_idx")
            .collect()
        )
        want = sorted(triples_oracle(rows, window=window))
        assert got == want, f"window={window}: {len(got)} vs {len(want)}"
    assert len(got) > 100
    mentions.unpersist()


def test_linking_blocks_and_scores(spark):
    rows = [
        ("c", 0, "user", None, 0, 2, "ORG", "Barnett Banks Inc."),
        ("c", 1, "user", None, 0, 2, "ORG", "Barnett Banks"),
        ("c", 2, "user", None, 0, 1, "ORG", "barnett banks inc"),
        ("c", 3, "user", None, 0, 1, "ORG", "Deutsche Bank"),
        ("c", 4, "user", None, 0, 1, "PER", "Barnett Banks Inc."),  # type mismatch
        ("c", 5, "user", None, 0, 1, "LOC", "Berlin"),
        ("c", 6, "user", None, 0, 1, "LOC", "BERLIN"),
    ]
    m = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, tool string, "
        "span_start int, span_end int, entity_type string, surface string",
    )
    cands = candidate_entities(m)
    edges = link_edges(cands).collect()
    linked = {(e.src_key, e.dst_key) for e in edges}
    assert ("ORG|Barnett Banks Inc.", "ORG|barnett banks inc") in linked
    assert ("LOC|BERLIN", "LOC|Berlin") in linked
    assert ("ORG|Barnett Banks", "ORG|Barnett Banks Inc.") in linked
    for s, d in linked:
        assert s.split("|")[0] == d.split("|")[0], "cross-type link"
        assert "Deutsche" not in s and "Deutsche" not in d
        assert not (s.startswith("PER") or d.startswith("PER"))


def test_connected_components_chain_and_clique(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "z"), ("x", "z")],
        "src_key string, dst_key string",
    )
    want = {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "x": "x", "y": "x", "z": "x",
    }
    comp = {r.key: r.component for r in connected_components(edges).collect()}
    assert comp == want
    dist = {
        r.key: r.component
        for r in connected_components(edges, local_threshold=0).collect()
    }
    assert dist == want


def test_connected_components_local_matches_distributed(spark):
    """Property: driver union-find agrees with min-label propagation on
    random graphs, including a long path (the min-label worst case)."""
    import random

    rng = random.Random(99)
    cases = []
    for trial in range(4):
        n = rng.randint(8, 30)
        nodes = [f"n{trial}_{i:02d}" for i in range(n)]
        m = rng.randint(n // 2, 2 * n)
        cases.append(
            [(rng.choice(nodes), rng.choice(nodes)) for _ in range(m)]
        )
    # 40-node path: min-label needs ~40 rounds
    path = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(40)]
    cases.append(path)

    for edges_py in cases:
        edges_py = [(a, b) for a, b in edges_py if a != b]
        if not edges_py:
            continue
        e = spark.createDataFrame(edges_py, "src_key string, dst_key string")
        # both adaptive paths must agree: driver union-find (small-graph
        # path) and the distributed min-label loop (forced via
        # local_threshold=0)
        base = {r.key: r.component for r in connected_components(e, max_iter=60).collect()}
        dist = {
            r.key: r.component
            for r in connected_components(e, max_iter=60, local_threshold=0).collect()
        }
        assert dist == base, f"local/distributed mismatch on {edges_py[:5]}..."


def test_build_graph_e2e(spark, english_model):
    mentions = _mention_rows(spark, english_model)
    triples = template_triples(mentions, cross_turn_window=2)
    nodes, edges = build_graph(mentions, triples)
    nodes = nodes.persist()
    n_nodes = nodes.count()
    assert n_nodes > 50
    # node ids unique; canonical non-null
    assert nodes.select("node_id").distinct().count() == n_nodes
    assert nodes.where(F.col("canonical").isNull()).count() == 0
    # every edge endpoint resolves to a node
    node_ids = {r.node_id for r in nodes.select("node_id").collect()}
    for r in edges.select("src", "dst").collect():
        assert r.src in node_ids and r.dst in node_ids
    # aliases of a node share its entity type and include the canonical
    sample = nodes.where(F.size("aliases") > 1).limit(5).collect()
    for r in sample:
        assert r.canonical in r.aliases
    mentions.unpersist()
    nodes.unpersist()


def _tail_rows(nodes, edges):
    """Sorted plain tuples of the graph tail's rows, provenance included."""
    n = sorted(
        (r.node_id, r.canonical, r.entity_type, tuple(r.aliases), r.n_mentions)
        for r in nodes.collect()
    )
    e = sorted(
        (r.src, r.pred, r.dst, r.weight,
         tuple((p.conv_id, p.turn_idx) for p in r.provenance))
        for r in edges.collect()
    )
    return n, e


_CANDS_DDL = "entity_type string, surface string, n_mentions long"
_LINKS_DDL = "src_key string, dst_key string"
_COUNTS_DDL = (
    "subj_type string, subj string, pred string, obj_type string, obj string, "
    "n long, prov array<struct<conv_id:string,turn_idx:int>>"
)


def test_edge_provenance_independent_of_row_order(spark):
    """One triple-count content under three layouts gives the same edges,
    provenance included: the sample is the cap smallest (conv_id,
    turn_idx) of the merged samples of every key resolving to the edge."""
    from hmm_crf_ner_fromscratch_spark.operators.graph import (
        materialize_graph_from_counts,
    )

    cands = spark.createDataFrame(
        [("ORG", "Acme Corp", 3), ("ORG", "acme corp", 1),
         ("ORG", "ACME Corp.", 1), ("LOC", "Berlin", 2)],
        _CANDS_DDL,
    )
    links = spark.createDataFrame(
        [("ORG|Acme Corp", "ORG|acme corp"), ("ORG|ACME Corp.", "ORG|Acme Corp")],
        _LINKS_DDL,
    )
    rows = [
        ("ORG", "Acme Corp", "located_in", "LOC", "Berlin", 2, [("c9", 1), ("c9", 0)]),
        ("ORG", "acme corp", "located_in", "LOC", "Berlin", 1, [("c1", 4)]),
        ("ORG", "ACME Corp.", "located_in", "LOC", "Berlin", 2, [("c5", 2), ("c0", 7)]),
    ]
    layouts = [
        spark.createDataFrame(rows, _COUNTS_DDL).coalesce(1),
        spark.createDataFrame(rows[::-1], _COUNTS_DDL).coalesce(1),
        spark.createDataFrame(rows[1:] + rows[:1], _COUNTS_DDL).repartition(3),
    ]
    got = [
        _tail_rows(*materialize_graph_from_counts(cands, links, tc, provenance_cap=2))[1]
        for tc in layouts
    ]
    assert len(got[0]) == 1
    assert got[0][0][3:] == (5.0, (("c0", 7), ("c1", 4)))
    assert got[1] == got[0] and got[2] == got[0]


def test_graph_tail_driver_matches_distributed(spark, monkeypatch):
    """Property: the driver tail (union-find, canonical surfaces, nodes,
    ids and the resolve map computed on the driver) gives the same nodes
    (every column) and edges (sorted provenance included) as the
    distributed tail, forced by lowering graph.LOCAL_THRESHOLD. Random
    candidates with case/punctuation variants, random link pairs (none in
    one case), TOOL subjects and surfaces no candidate resolves, and an
    empty candidate set."""
    import random

    from hmm_crf_ner_fromscratch_spark.operators import graph

    rng = random.Random(23)
    bases = ["acme corp", "deutsche bank", "north wind", "blue river", "kern"]

    def variants(b):
        return [b, b.title(), b.upper(), b.title() + ".", b.replace(" ", "-")]

    cases = []
    for trial in range(3):
        cands = {}
        for t in ("ORG", "LOC"):
            for b in rng.sample(bases, 3):
                for s in rng.sample(variants(b), rng.randint(1, 4)):
                    cands[(t, s)] = rng.randint(1, 3)
        links = []
        if trial:
            for _ in range(rng.randint(2, 8)):
                t = rng.choice(("ORG", "LOC"))
                same = [s for ty, s in cands if ty == t]
                a, b = sorted(rng.sample(same, 2))
                links.append((f"{t}|{a}", f"{t}|{b}"))
        cases.append((cands, links))
    cases.append(({}, []))

    for cands, links in cases:
        surfaces = [(t, s) for t, s in cands] + [("ORG", "Nowhere Ltd")]
        subjects = surfaces + [("TOOL", "search_api"), ("TOOL", "db.lookup")]
        counts = {
            ("TOOL", "search_api", "returned", *surfaces[-1]): [("c3", 1)],
            (*surfaces[-1], "uses", *surfaces[0]): [("c2", 5), ("c1", 9)],
        }
        for _ in range(25):
            st, ss = rng.choice(subjects)
            ot, os_ = rng.choice(surfaces)
            counts[(st, ss, rng.choice(("uses", "located_in")), ot, os_)] = [
                (f"c{rng.randint(0, 9)}", rng.randint(0, 20))
                for _ in range(rng.randint(1, 4))
            ]
        cdf = spark.createDataFrame(
            [(t, s, n) for (t, s), n in cands.items()], _CANDS_DDL
        )
        ldf = spark.createDataFrame(links, _LINKS_DDL)
        tc = spark.createDataFrame(
            [(*k, len(p), p) for k, p in counts.items()], _COUNTS_DDL
        )

        def tail():
            return _tail_rows(*graph.materialize_graph_from_counts(
                cdf, ldf, tc, provenance_cap=3
            ))

        local_calls = []
        real_local = graph._local_nodes
        with monkeypatch.context() as m:
            m.setattr(graph, "_local_nodes",
                      lambda *a: local_calls.append(1) or real_local(*a))
            driver = tail()
            m.setattr(graph, "LOCAL_THRESHOLD", -1)
            dist = tail()
        assert local_calls == [1], "the driver path ran for both or neither"
        assert driver == dist, f"driver/distributed mismatch on {links[:3]}..."
        assert "TOOL" in {r[2] for r in driver[0]}


@needs_reference
def test_e2e_triple_pr_vs_reference(spark, english_golden):
    """BASELINE.json metric: triple P/R >= 0.95 vs the reference extraction.

    Reference side: golden tags from the actual reference HMM run, pushed
    through the *independent* plain-Python span + triple oracles.
    Spark side: the full distributed pipeline. Decode bit-matches, so P/R
    should be exactly 1.0.
    """
    sents = load_eval_sentences(english_golden["val"])
    n = len(sents)
    # reference mention extraction from golden predictions
    golden_tags = []
    cur = []
    with open(english_golden["pred"], encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                if cur:
                    golden_tags.append(cur)
                    cur = []
                continue
            cur.append(line.split()[-1])
    if cur:
        golden_tags.append(cur)
    assert len(golden_tags) == n

    ref_mentions = []
    for j, (sent, tags) in enumerate(zip(sents, golden_tags)):
        conv, turn = f"eval_{j // 250:06d}", j % 250
        for s, e, ty, surf in spans_oracle(sent.split(), tags):
            ref_mentions.append(
                dict(conv_id=conv, turn_idx=turn, role="user", tool=None,
                     span_start=s, span_end=e, entity_type=ty, surface=surf)
            )
    ref_triples = set(triples_oracle(ref_mentions, window=2))

    # Spark pipeline
    df = synth_transcripts(spark, 50, seed=5, eval_sentences=sents)
    turns = tokenize_turns(df.where(F.col("conv_id").startswith("eval_")))
    model = train_hmm(read_conll(spark, english_golden["train"], doc_id="t"))
    mentions = extract_mentions(decode_hmm(turns, model))
    got = set(
        tuple(r)
        for r in template_triples(mentions, cross_turn_window=2)
        .select("subj", "pred", "obj", "subj_type", "obj_type", "conv_id", "turn_idx")
        .distinct()
        .collect()
    )
    ref = set(ref_triples)
    tp = len(got & ref)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(ref) if ref else 0.0
    assert precision >= 0.95 and recall >= 0.95, (precision, recall, len(got), len(ref))
    assert len(ref) > 1000


def test_kg_dictionary_components_are_singletons(spark):
    """Guard for the kg_pipeline DuckDB oracle: it resolves node ids
    directly from surfaces, which is only valid while NO dictionary
    surface pair clears the TF-IDF link threshold (i.e. every connected
    component is a singleton and canonical == surface). If linking
    behavior or the dictionary ever changes, this fails before the
    driver-side hash mismatch would."""
    from hmm_crf_ner_fromscratch_spark.operators.linking import (
        candidate_entities,
        link_edges,
    )
    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import (
        OBJ_WORDS,
        OP_WORDS,
    )

    surf = spark.createDataFrame(
        [("OP", w) for w in OP_WORDS] + [("OBJ", w) for w in OBJ_WORDS],
        "entity_type string, surface string",
    )
    links = link_edges(candidate_entities(surf), threshold=0.72).collect()
    assert links == [], [
        (r.src_key, r.dst_key, r.score) for r in links
    ]


def test_stable_node_id_engine_portable(spark):
    """graph.stable_node_id must equal the documented SQL formula
    (('0x' || substring(md5(t || '|' || c), 1, 15))::BIGINT) -- checked
    against an independent hashlib computation AND duckdb itself."""
    import hashlib

    import duckdb

    from hmm_crf_ner_fromscratch_spark.operators.graph import stable_node_id

    rows = [("OP", "scan"), ("OBJ", "window pane"), ("TOOL", "search|x")]
    df = spark.createDataFrame(rows, "t string, c string").select(
        "t", "c", stable_node_id(F.col("t"), F.col("c")).alias("node_id")
    )
    got = {(r.t, r.c): r.node_id for r in df.collect()}
    con = duckdb.connect()
    for t, c in rows:
        want = int(hashlib.md5(f"{t}|{c}".encode()).hexdigest()[:15], 16)
        assert got[(t, c)] == want, (t, c)
        duck = con.execute(
            "SELECT ('0x' || substring(md5(? || '|' || ?), 1, 15))::BIGINT",
            [t, c],
        ).fetchone()[0]
        assert duck == want, (t, c)
