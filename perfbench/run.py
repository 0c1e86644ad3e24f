"""Repository benchmark: one closed-loop client on local[$(nproc)].

Usage (from the repository root):

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Inputs are generated in this process from ``--seed`` (perfbench/gen.py);
the program only sees the generated tables and is driven through its
public API: registered ``entry_queries.QUERIES`` entries,
``IncrementalKGPipeline.run`` and ``operators.*``.

Each run: session start (JVM, SparkSession, Python workers), input
set-up, one warm-up operation on a small input that pays cold codegen,
JIT and Python-worker imports (``setup_s`` is session start plus the
median input set-up plus the warm-up), the timed phase (the workload's
minimum number of operations, then more until ``--seconds`` have
passed), correctness checks, and a report. Human-readable lines go to
stdout first; the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end metrics; with ``--trace 1`` layer spans are recorded
around the timed operations (perfbench/spans.py), printed as ``# span``
lines at the end of the run, and the metrics are the per-layer ones. Every file goes under ``.perfbench_work/`` in the current
directory, which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(os.getcwd(), ".perfbench_work")
RSS_SAMPLE_S = 0.2


# ---------------------------------------------------------------- env
def _descendants(pid: int) -> list[int]:
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers count
    once, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", encoding="utf-8") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class PeakMemory:
    """Peak summed PSS of this process's descendants (the driver JVM and
    the Python workers), sampled from the first timed operation to the
    end of the timed phase; ``peak_jvm`` is the JVM's part of that peak."""

    def __init__(self):
        self.peak = self.peak_jvm = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            jvm = py = 0
            for p in _descendants(os.getpid()):
                if _is_jvm(p):
                    jvm += _pss_kb(p)
                else:
                    py += _pss_kb(p)
            if (jvm + py) / 1024.0 > self.peak:
                self.peak, self.peak_jvm = (jvm + py) / 1024.0, jvm / 1024.0
            self._stop.wait(RSS_SAMPLE_S)

    def start(self):
        if not self._t.is_alive() and not self._stop.is_set():
            self._t.start()

    def stop(self):
        self._stop.set()
        if self._t.is_alive():
            self._t.join()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat", encoding="utf-8") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def environment() -> dict:
    """The 1-minute load is recorded but does not flag a run: a run
    started right after another one sees that run's load decaying (about
    4 on 4 cores). Steal is what other tenants of the host take."""
    from bench import STEAL_WARN_PCT, _steal_probe

    env = {
        "nproc": os.cpu_count(),
        "load1_start": os.getloadavg()[0],
        "steal_pct": _steal_probe(0.5),
    }
    env["loaded_box"] = env["steal_pct"] > STEAL_WARN_PCT
    return env


def environment_end(env: dict, ticks0: tuple[int, int]) -> None:
    """Adds the load at the end and the steal share of the CPU time since
    ``ticks0`` (the timed phase's start); steal above bench.py's limit
    flags the run too."""
    from bench import STEAL_WARN_PCT

    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    env["load1_end"] = os.getloadavg()[0]
    env["steal_pct_timed"] = 100.0 * steal / max(total, 1)
    env["loaded_box"] |= env["steal_pct_timed"] > STEAL_WARN_PCT


def start_spark(trace: bool):
    """A session on local[$(nproc)] with its Python workers started."""
    from hmm_crf_ner_fromscratch_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{os.cpu_count()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    n = os.cpu_count()
    spark.sparkContext.parallelize(range(n), n).map(lambda x: x).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes), so no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


# ---------------------------------------------------------- harness
class Run:
    """One workload run: set-up timings, timed operations, checks, and
    the lines that end up in the human report."""

    def __init__(self, spark, tracer, seed: int, seconds: float, session_s: float):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.session_s = session_s
        self.setup_s: list[float] = []
        self.ticks0 = cpu_ticks()  # reset at the first timed operation
        self.warmup_s = 0.0
        self.mem = PeakMemory()
        self.ops: dict[str, list[float]] = {}
        self.items: dict[str, list[int]] = {}
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool, str]] = []
        self.notes: list[str] = []
        self.report: list[tuple[str, float, str, int]] = []
        self.props: dict = {}

    def setup(self, fn, reps: int):
        """Run ``fn(rep)`` ``reps`` times, timing each; returns the last
        result."""
        out = None
        for rep in range(reps):
            t = time.perf_counter()
            out = fn(rep)
            self.setup_s.append(time.perf_counter() - t)
        return out

    def warmup(self, fn):
        """Run ``fn()`` once, untimed by the workload but counted in
        set-up: the cold-vs-warm gap lands in ``setup_s``."""
        t = time.perf_counter()
        out = fn()
        self.warmup_s += time.perf_counter() - t
        return out

    def op(self, kind: str, fn, items: int = 0):
        """Time one operation (a span named ``op.<kind>`` when traced)."""
        if not self.attempted:
            self.ticks0 = cpu_ticks()
        self.mem.start()
        self.attempted += 1
        self.tracer.active = True
        t = time.perf_counter()
        try:
            with self.tracer.span("op." + kind):
                out = fn()
        except Exception:
            self.failed += 1
            raise
        finally:
            self.tracer.active = False
        dt = time.perf_counter() - t
        self.ops.setdefault(kind, []).append(dt)
        self.items.setdefault(kind, []).append(items)
        return out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def note(self, text: str) -> None:
        self.notes.append(text)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# -------------------------------------------------------- workloads
def _write_docs(pdf, name):
    path = os.path.join(WORK, name)
    os.makedirs(path, exist_ok=True)
    pdf.to_parquet(os.path.join(path, "documents.parquet"), index=False)
    return path


def _edges_hash(df):
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("src", "pred", "dst", "weight")).alias("h"),
    ).first()
    return (int(r.n), int(r.h or 0))


DOCS = 5000
WARM_DOCS = 50  # the warm-up round's table
DUP_FRAC = 0.1  # share of documents that are planted near-duplicate copies
PINNED = os.path.join(HERE, "edges_pinned.json")  # written by oracle_check.py --pin
MIN_ROUNDS = 1
DOCS_SETUP_REPS = 3  # the documents set-up is cheap (pandas), so it is repeated
MIN_PLANTED_RECALL = 0.8  # MinHash banding is probabilistic


def flagship(run: Run) -> None:
    """Rounds of three registered queries over one generated documents
    table: kg_pipeline (the headline build), dedup_groups (MinHash
    banding + CC) and jaccard_ngram (exact rare-shingle pairs)."""
    import gen
    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import (
        JACCARD_THRESHOLD, QUERIES,
    )

    def make(rep):
        pdf, clusters = gen.documents(DOCS, run.seed, dup_frac=DUP_FRAC)
        return _write_docs(pdf, f"docs_{rep}"), pdf, clusters

    docs, pdf, clusters = run.setup(make, DOCS_SETUP_REPS)
    pairs = gen.planted_pairs(clusters)
    text = dict(zip(pdf.doc_id, pdf.text))
    exact_truth = {
        p for p in pairs if gen.shingle_jaccard(text[p[0]], text[p[1]]) >= JACCARD_THRESHOLD
    }
    run.props.update(
        docs=DOCS,
        docs_in_planted_clusters_frac=sum(len(c) for c in clusters) / DOCS,
        planted_pairs=len(pairs),
    )

    def build(path):
        return _edges_hash(QUERIES["kg_pipeline"](run.spark, path))

    def groups(path):
        rows = QUERIES["dedup_groups"](run.spark, path).select("doc_id", "group_id").collect()
        return {r.doc_id: r.group_id for r in rows}

    def exact(path):
        return {(r.doc_a, r.doc_b): r.jaccard for r in QUERIES["jaccard_ngram"](run.spark, path).collect()}

    def round_():
        return (
            run.op("build", lambda: build(docs), items=DOCS),
            run.op("groups", lambda: groups(docs), items=DOCS),
            run.op("exact_pairs", lambda: exact(docs), items=DOCS),
        )

    warm = _write_docs(gen.documents(WARM_DOCS, run.seed, dup_frac=DUP_FRAC)[0], "docs_warm")
    run.warmup(lambda: (build(warm), groups(warm), exact(warm)))

    results = []
    t_end = time.perf_counter() + run.seconds
    while len(run.ops.get("build", [])) < MIN_ROUNDS or time.perf_counter() < t_end:
        results.append(round_())

    hashes = {h for h, _, _ in results}
    recalls = [sum(g[a] == g[b] for a, b in pairs) / len(pairs) for _, g, _ in results]
    run.props["edges"] = results[0][0][0]
    with open(PINNED, encoding="utf-8") as f:
        pinned = json.load(f)
    expected = pinned["edges"].get(str(run.seed))
    if (pinned["docs"], pinned["dup_frac"]) != (DOCS, DUP_FRAC):
        expected = None
    if expected is None:
        # a seed outside the pinned range still gets the weaker checks
        run.note(f"edges hash of seed {run.seed} is not pinned; builds {hashes}")
        run.check("edges_hash_stable", len(hashes) == 1, f"{hashes}")
    else:
        run.check("edges_match_pinned", hashes == {tuple(expected)},
                  f"builds {hashes}, pinned {tuple(expected)}")
    run.check("edges_nonempty", results[0][0][0] > 0, f"{results[0][0][0]} edges")
    run.check("planted_recall", min(recalls) >= MIN_PLANTED_RECALL, f"{recalls}")
    run.check(
        "exact_pairs_match_truth",
        all(
            exact_truth <= set(e)
            and all(abs(gen.shingle_jaccard(text[a], text[b]) - j) < 1e-12 for (a, b), j in e.items())
            for _, _, e in results
        ),
        f"{len(exact_truth)} planted pairs at or above the threshold",
    )
    run.report += [
        ("build_s", median(run.ops["build"]), "s", len(run.ops["build"])),
        ("groups_s", median(run.ops["groups"]), "s", len(run.ops["groups"])),
        ("exact_pairs_s", median(run.ops["exact_pairs"]), "s", len(run.ops["exact_pairs"])),
        ("planted_recall", median(recalls), "share", len(recalls)),
    ]


# Traced on a 4-core box, hmm.decode_hmm.self_s is 11% of a load at 4k
# turns, 14-16% at 40k and 16% at 100k; bucketed stage commits take
# about a third at every size; decode is about 8% of a warm load at 20k.
# A warm load is overhead-bound: 12 s at 500 turns, 17 s at 20k, 19 s at
# 40k. 20k turns keeps a run (session, set-up, warm-up, one timed load)
# near a minute.
KG_TURNS = 20000
KG_WARM_TURNS = 500  # the warm-up load's input
KG_N_BUCKETS = 4  # sized to the input, as the class docstring asks; 64 is for 100 TB
KG_MIN_LOADS = 1
KG_SETUP_REPS = 1  # input generation and the HMM fit take 12-15 s
KG_STAGES = ("decoded", "mentions", "triples", "triple_counts", "candidates",
             "link_pairs", "nodes", "edges")
KG_DETERMINISTIC_STAGES = ("decoded", "mentions", "triples", "candidates", "link_pairs")


def kg_full(run: Run) -> None:
    """One-shot full loads, ``IncrementalKGPipeline(...).run(tx)``, each
    into a fresh empty work dir, over a transcript table whose entity
    surface variants make the link graph non-empty."""
    import gen

    from hmm_crf_ner_fromscratch_spark.operators import hmm
    from hmm_crf_ner_fromscratch_spark.plans.incremental import IncrementalKGPipeline

    spark = run.spark

    def table(name, n):
        path = os.path.join(WORK, name)
        gen.transcripts(spark, n, run.seed).write.parquet(path)
        return spark.read.parquet(path)

    def make(rep):
        tx = table(f"kg_inputs_{rep}", KG_TURNS)
        return tx, hmm.train_hmm(gen.dictionary_tags(tx))

    tx, model = run.setup(make, KG_SETUP_REPS)
    n_turns = tx.count()

    def load(name, df):
        pipe = IncrementalKGPipeline(
            spark, os.path.join(WORK, name), model, n_buckets=KG_N_BUCKETS
        )
        return pipe.run(df), pipe.io

    warm = table("kg_warm_inputs", KG_WARM_TURNS)
    run.warmup(lambda: load("kg_warm_load", warm))

    results = []
    t_end = time.perf_counter() + run.seconds
    while len(results) < KG_MIN_LOADS or time.perf_counter() < t_end:
        results.append(run.op("full_load", lambda: load(f"kg_load_{len(results)}", tx),
                              items=n_turns))

    for k, (res, _) in enumerate(results):
        run.check(f"load_{k}_executes_every_stage",
                  res.executed == list(KG_STAGES) and not res.skipped,
                  f"executed={res.executed} skipped={res.skipped}")
    if len(results) > 1:
        # stages without provenance samples are content-identical across
        # loads; edges are compared without their provenance column
        snaps = {tuple(res.snapshots[s] for s in KG_DETERMINISTIC_STAGES) for res, _ in results}
        edges = {_edges_hash(io.read("edges")) for _, io in results}
        run.check("loads_agree", len(snaps) == 1 and len(edges) == 1, f"edges {edges}")
    io = results[0][1]
    rows = {s: io.manifest(s)["row_count"] for s in KG_STAGES}
    run.check("every_turn_decoded", rows["decoded"] == n_turns,
              f"{rows['decoded']} decoded rows, {n_turns} turns")
    run.check("link_graph_nonempty", rows["link_pairs"] > 0, f"{rows['link_pairs']} link pairs")
    run.props.update(turns=n_turns, link_pairs=rows["link_pairs"],
                     candidates=rows["candidates"], nodes=rows["nodes"],
                     nodes_per_candidate=rows["nodes"] / rows["candidates"])
    run.report.append(
        ("turns_per_s", n_turns / median(run.ops["full_load"]), "1/s", len(run.ops["full_load"]))
    )


WORKLOADS = {"flagship": flagship, "kg_full": kg_full}


# ----------------------------------------------------------- report
def end_to_end(run: Run) -> dict:
    op_s = median(_op_samples(run))
    items_per_op = sum(map(sum, run.items.values())) / len(_op_samples(run))
    return {
        "setup_s": (run.session_s + median(run.setup_s) + run.warmup_s, "s"),
        "op_s": (op_s, "s"),
        "items_per_s": (items_per_op / op_s, "1/s"),
        "peak_rss_mb": (run.mem.peak, "MB"),
    }


def _op_samples(run: Run) -> list[float]:
    """One sample per operation of the workload's main loop: a kg_full
    load, or a flagship round of its three queries."""
    if "full_load" in run.ops:
        return run.ops["full_load"]
    return [sum(r) for r in zip(run.ops["build"], run.ops["groups"], run.ops["exact_pairs"])]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import hmm_crf_ner_fromscratch_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not next to the benchmark ({e})", file=sys.stderr)
        return 2

    import layers
    import spans

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        env = environment()
        t = time.perf_counter()
        spark = start_spark(bool(args.trace))
        session_s = time.perf_counter() - t
        tracer = spans.Tracer(spark, enabled=bool(args.trace))
        layers.install(tracer)
        run = Run(spark, tracer, args.seed, args.seconds, session_s)
        try:
            WORKLOADS[args.workload](run)
        finally:
            run.mem.stop()
            tracer.unpatch()
            stop_spark(spark)
        environment_end(env, run.ticks0)
        agg = tracer.aggregate(os.path.join(WORK, "eventlog")) if args.trace else {}
        metrics = layers.per_layer(agg) if args.trace else {
            k: {"value": v, "unit": u} for k, (v, u) in end_to_end(run).items()
        }
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    correct = all(ok for _, ok, _ in run.checks)
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"# env {json.dumps(env)}")
    if env["loaded_box"]:
        print("# WARNING: loaded box (steal at start or over the timed phase above"
              " bench.py's limit); do not publish")
    print(f"# session_start_s {session_s:.3f}  input set-up samples {[round(x, 3) for x in run.setup_s]}"
          f"  warm-up_s {run.warmup_s:.3f}")
    print(f"# op samples {json.dumps({k: [round(x, 3) for x in v] for k, v in run.ops.items()})}")
    print(f"# inputs {json.dumps(run.props)}")
    print(f"# peak_rss jvm_mb {run.mem.peak_jvm:.1f} python_mb {run.mem.peak - run.mem.peak_jvm:.1f}")
    for sp in tracer.spans:
        print(f"# span {json.dumps(sp)}")
    for text in run.notes:
        print(f"# note {text}")
    for name, ok, detail in run.checks:
        print(f"# check {name}: {'PASS' if ok else 'FAIL'} {detail}")
    for name, value, unit, n in run.report:
        print(f"{name} {value:.6g} {unit} (n={n})")
    print(f"failed_frac {run.failed / max(run.attempted, 1):.6g} share (n={run.attempted})")
    samples = {"setup_s": len(run.setup_s), "op_s": len(_op_samples(run)),
               "items_per_s": len(_op_samples(run))} if not args.trace else {}
    for k, m in metrics.items():
        n = f" (n={samples[k]})" if k in samples else ""
        print(f"{k} {m['value']:.6g} {m['unit']}{n}")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
