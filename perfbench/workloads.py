"""The two workloads: timed operations and output checks.

Each workload writes a knowledge graph from seeded input, then reads it:

``provenance`` (events in: the paper's own write and read paths)
  write  ``build_graph`` over the base events and a write of all 7
         tables, then ``MERGES`` delta batches, each merged with
         ``merge_graph_tables`` into the tables read back from the
         previous write and written again;
  read   one round is 7 query kinds, each on a seeded unit, from one
         client in a closed loop.

``web_kg`` (pages in: the plans that cross the Python boundary)
  write  one ``run_pipeline`` pass (s1-s4 and adjacency) into a fresh
         workdir;
  read   one round is 3 graph algorithms (pagerank, shortest paths,
         k-core) over the edge list of the KG the pass wrote.

The write work is fixed. Read rounds repeat while another one fits in
``--seconds`` (counted from the start of the writes); there is always
one. Every operation counts as attempted, and as failed if it raises or
fails its output check.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.spans import Tracer
from sigraph_spark.operators import graphalgo, queries
from sigraph_spark.operators.graph import GraphTables, build_graph, iocs, merge_graph_tables
from sigraph_spark.operators.linking import entity_vocab
from sigraph_spark.operators.pagerank import pagerank
from sigraph_spark.plans.pipeline import run_pipeline, table_fingerprint

TABLES = (
    "nodes", "edges", "traces", "trace_contains", "trace_spans",
    "rule_matches", "errors",
)
# drift_sequences (related_traces plus a re-parse of the events) does not
# fit the run budget (see README.md)
EXPANSION = ("related_traces", "provenance_export")
# interleaved so the expansions do not run back to back
QUERY_KINDS = (
    "related_traces", "neighborhood", "provenance_export", "iocs",
    "traces_listing", "ordered_sequences", "paginate_keyset",
)
# the fixpoint-style algorithms; communities_lpa and hyperball do not fit
# the run budget (see README.md)
ALGOS = ("pagerank", "sssp", "kcore")
PIPELINE_STAGES = ("s1_extract", "s2_triples", "s3_mapping", "s4_edges", "s4_adjacency")
MERGES = 3
MAX_HOP = 3
KCORE_K = 2
PAGE_SIZE = 50
PAGE_WALK = 3


@dataclass(frozen=True)
class Shape:
    """Input sizes and shares; the seed changes rows, never these."""

    hot_permille: int = 320     # events on the one hot FILE artifact, per 1000
    base_events: int = 10_000
    delta_events: int = 1_000
    page_hot_frac: float = 0.3  # kg pages carrying gen_pages_zipf's hot entity
    kg_pages: int = 4_000       # 1200 hot pages: > 1024 entities, so linking runs LSH


SHAPE = Shape()


@dataclass
class Paths:
    root: str

    def __post_init__(self):
        self.events = os.path.join(self.root, "input", "events")
        self.docs = os.path.join(self.root, "input", "docs")
        self.kg_pages = os.path.join(self.root, "input", "kg_pages")
        self.kg = os.path.join(self.root, "kg")

    def graph(self, version: int) -> str:
        return os.path.join(self.root, "graph", f"v{version}")


@dataclass
class Run:
    """One workload run: samples and operation outcomes."""

    spark: SparkSession
    shape: Shape
    seed: int
    paths: Paths
    tracer: Tracer
    samples: dict[str, list[float]] = field(default_factory=dict)
    ops: list[dict] = field(default_factory=list)
    counts: dict = field(default_factory=dict)
    pending_checks: list[tuple[int, Callable[[], list[str]]]] = field(default_factory=list)

    def op(self, name: str, fn: Callable):
        """Run one timed operation in a span named ``name``; returns
        (result, seconds), or (None, None) if it raised."""
        rec = {"op": name, "ok": True, "problems": []}
        self.ops.append(rec)
        t0 = time.monotonic()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception:  # a failed operation is reported; the run goes on
            rec["ok"] = False
            rec["problems"].append(traceback.format_exc(limit=8))
            return None, None
        return out, time.monotonic() - t0

    def fail(self, first: int, last: int, problems: list[str]) -> None:
        """Mark operations ``first..last-1`` failed with ``problems``."""
        for rec in self.ops[first:last] if problems else ():
            rec["ok"] = False
            rec["problems"].extend(problems)

    def sample(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)


# ---------------------------------------------------------------------------
# provenance: inputs
# ---------------------------------------------------------------------------

def generate_events(spark: SparkSession, shape: Shape, seed: int, paths: Paths) -> None:
    """Events as parquet partitioned by batch (0 is the base, 1..MERGES
    the deltas) and the syslog documents of the base events."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n = shape.base_events + MERGES * shape.delta_events
    events = inputs.gen_events(seed, n, shape.hot_permille)
    ids = np.arange(n)
    batch = np.where(
        ids < shape.base_events, 0, (ids - shape.base_events) // shape.delta_events + 1
    )
    for d in (paths.events, paths.docs):
        shutil.rmtree(d, ignore_errors=True)
    pq.write_to_dataset(events.append_column("batch", pa.array(batch, pa.int32())),
                        paths.events, partition_cols=["batch"])
    base = events.filter(pc.less(pa.array(ids), shape.base_events))
    os.makedirs(paths.docs)
    pq.write_table(inputs.syslog_docs(base, seed), os.path.join(paths.docs, "part-0.parquet"))


def events_upto(spark: SparkSession, paths: Paths, batch: int, only: bool = False) -> DataFrame:
    """Events of batches 0..batch (or of ``batch`` alone)."""
    ev = spark.read.parquet(paths.events)
    keep = F.col("batch") == batch if only else F.col("batch") <= batch
    return ev.filter(keep).drop("batch")


def warm_up_graph(spark: SparkSession, seed: int, paths: Paths) -> None:
    """Small pass: the edge table of a graph build over 1000 base events."""
    build_graph(events_upto(spark, paths, 0).limit(1000)).edges.count()


# ---------------------------------------------------------------------------
# provenance: write (build + merges)
# ---------------------------------------------------------------------------

def write_tables(run: Run, g: GraphTables, out: str) -> None:
    for t in TABLES:
        with run.tracer.span(f"graph.write.{t}"):
            getattr(g, t).write.mode("overwrite").parquet(os.path.join(out, t))


def read_tables(spark: SparkSession, path: str) -> GraphTables:
    return GraphTables(**{t: spark.read.parquet(os.path.join(path, t)) for t in TABLES})


def write_provenance(run: Run) -> None:
    spark, shape, paths = run.spark, run.shape, run.paths
    first = len(run.ops)

    def build():
        write_tables(run, build_graph(events_upto(spark, paths, 0)), paths.graph(0))

    _, dt = run.op("graph.build_graph", build)
    if dt is None:
        return
    run.sample("write_s:build", dt)
    run.sample("ingest_events_per_s", shape.base_events / dt)
    for k in range(1, MERGES + 1):
        def merge(k=k):
            m = merge_graph_tables(
                read_tables(spark, paths.graph(k - 1)), events_upto(spark, paths, k, only=True)
            )
            write_tables(run, m, paths.graph(k))

        _, dt = run.op("graph.merge_graph_tables", merge)
        if dt is None:
            return
        shutil.rmtree(paths.graph(k - 1), ignore_errors=True)
        run.sample("write_s:merge", dt)
        run.sample("merge_s", dt)
    run.counts["write_ops"] = (first, len(run.ops))


def check_tables_match(got: GraphTables, want: GraphTables) -> list[str]:
    """MERGE-upsert identity: the merged chain equals one build over the
    union of its inputs, table by table. The 14 fingerprint jobs run
    concurrently: the check is not timed."""
    frames = [getattr(g, t) for g in (got, want) for t in TABLES]
    with ThreadPoolExecutor(4) as pool:
        fps = list(pool.map(table_fingerprint, frames))
    a, b = fps[:len(TABLES)], fps[len(TABLES):]
    return [f"{t}: merged fingerprint {x} != built {y}"
            for t, x, y in zip(TABLES, a, b) if x != y]


def check_error_rows(errors: DataFrame, expected_span_ids: set[str]) -> list[str]:
    got = [r["span_id"] for r in errors.select("span_id").collect()]
    if len(got) != len(expected_span_ids) or set(got) != expected_span_ids:
        return [f"errors: {len(got)} rows, expected the {len(expected_span_ids)} invalid events"]
    return []


def check_provenance(run: Run) -> None:
    """After the timed phase: the tables the chain wrote equal one build
    over base + deltas and the error rows are exactly the invalid events;
    then the deferred query checks."""
    if "write_ops" in run.counts:
        spark, shape = run.spark, run.shape
        final = read_tables(spark, run.paths.graph(MERGES))
        problems = check_tables_match(final, build_graph(events_upto(spark, run.paths, MERGES)))
        n = shape.base_events + MERGES * shape.delta_events
        problems += check_error_rows(final.errors, inputs.invalid_span_ids(run.seed, 0, n))
        run.fail(*run.counts["write_ops"], problems)
    run_pending_checks(run)


# ---------------------------------------------------------------------------
# provenance: read (the 8 query kinds)
# ---------------------------------------------------------------------------

def check_related(rows, max_hop: int) -> list[str]:
    bad = [r for r in rows if not (r["t1"] < r["t2"] and 0 <= r["hops"] <= max_hop)]
    return [f"related_traces: {len(bad)} pairs break t1<t2, hops<={max_hop}"] if bad else []


def check_sequences(rows) -> list[str]:
    bad = 0
    for r in rows:
        keys = [(e["payload_ts"], e["doc_id"]) for e in r["sequence"]]
        bad += keys != sorted(keys)
    return [f"ordered_sequences: {bad} unsorted sequences"] if bad else []


def check_envelope(env: dict) -> list[str]:
    ids = {n["elementId"] for n in env["nodes"]}
    dangling = [
        r for r in env["rels"] if not {r["startNodeElementId"], r["endNodeElementId"]} <= ids
    ]
    return [f"provenance_export: {len(dangling)} rels with unknown endpoints"] if dangling else []


def check_page_walk(pages: list[list], keys: list[str]) -> list[str]:
    seen = [tuple(r[k] for k in keys) for page in pages for r in page]
    if any(a >= b for a, b in zip(seen, seen[1:])):
        return ["paginate_keyset: keys not strictly increasing across pages"]
    return []


def query_reader(run: Run) -> Callable[[], None]:
    """Prepares the read side (untimed: table handles) and returns one
    read round; each query draws its unit from a stream seeded by the run."""
    spark, paths = run.spark, run.paths
    g = read_tables(spark, paths.graph(MERGES))
    docs = spark.read.parquet(paths.docs)
    units = inputs.unit_ids()
    rng = random.Random(run.seed)
    keys = ["timestamp", "doc_id"]

    def query(kind: str) -> tuple[Callable, Callable]:
        unit = rng.choice(units)
        prefix = inputs.artifact_name(rng.randrange(inputs.VOCAB))
        if kind == "related_traces":
            return (lambda: queries.related_traces(
                g.traces, g.trace_contains, g.edges, unit, MAX_HOP).collect(),
                lambda rows: check_related(rows, MAX_HOP))
        if kind == "provenance_export":
            return (lambda: queries.export_envelope(*queries.provenance_subgraph(
                g.trace_contains, g.edges, g.nodes, unit, MAX_HOP)), check_envelope)
        if kind == "neighborhood":
            return (lambda: queries.neighborhood(g.edges, prefix).collect(),
                    lambda rows: [] if len(rows) <= 50 else ["neighborhood: over 50 rows"])
        if kind == "iocs":
            return (lambda: iocs(g.nodes, g.trace_contains, unit).collect(),
                    lambda rows: ["iocs: PROCESS artifact"] if any(
                        r["artifact_type"] == "PROCESS" for r in rows) else [])
        if kind == "traces_listing":
            return (lambda: queries.traces_listing(g.traces, unit).collect(),
                    lambda rows: ["traces_listing: span_count < 2"] if any(
                        r["span_count"] < 2 for r in rows) else [])
        if kind == "ordered_sequences":
            return (lambda: queries.ordered_sequences(docs, unit).collect(), check_sequences)
        if kind == "paginate_keyset":
            unit_docs = docs.filter(F.col("unit_id") == unit).select("doc_id", "timestamp")

            def walk():
                out, after = [], None
                for _ in range(PAGE_WALK):
                    page = queries.paginate_keyset(unit_docs, keys, PAGE_SIZE, after)
                    out.append(page.collect())
                    after = queries.page_cursor(page, keys)
                return out
            return walk, lambda pages: check_page_walk(pages, keys)
        raise ValueError(kind)

    def read_round() -> None:
        for kind in QUERY_KINDS:
            fn, check = query(kind)
            rec = len(run.ops)
            out, dt = run.op(f"queries.{kind}", fn)
            if dt is None:
                continue
            run.sample("expand_s" if kind in EXPANSION else "lookup_s", dt)
            run.sample("read_s", dt)
            run.pending_checks.append((rec, lambda check=check, out=out: check(out)))

    return read_round


def run_pending_checks(run: Run) -> None:
    """Read results are checked after the timed phase, so read latencies
    and rounds time the program alone."""
    for rec, check in run.pending_checks:
        run.fail(rec, rec + 1, check())
    run.pending_checks.clear()


# ---------------------------------------------------------------------------
# web_kg: inputs and write (run_pipeline)
# ---------------------------------------------------------------------------

def generate_pages(spark: SparkSession, shape: Shape, seed: int, paths: Paths) -> None:
    import pyarrow.parquet as pq

    ids = inputs.kg_page_ids(shape.kg_pages, seed, shape.page_hot_frac)
    shutil.rmtree(paths.kg_pages, ignore_errors=True)
    os.makedirs(paths.kg_pages)
    # one file per core, so the first stage reads the pages in parallel
    for part, chunk in enumerate(np.array_split(ids, spark.sparkContext.defaultParallelism)):
        pq.write_table(inputs.zipf_pages(chunk, shape.page_hot_frac),
                       os.path.join(paths.kg_pages, f"part-{part}.parquet"))


def warm_up_pages(spark: SparkSession, seed: int, paths: Paths) -> None:
    """Small pass: html extraction of 64 pages (starts the Python workers)."""
    from sigraph_spark.operators.extract import extract_pages

    pages = spark.read.parquet(paths.kg_pages).limit(64)
    extract_pages(pages).agg(F.sum(F.length("text"))).collect()


def check_mapping(mapping: DataFrame, triples: DataFrame) -> list[str]:
    """``mapping`` has exactly one row per vocabulary entity."""
    rows = mapping.count()
    distinct = mapping.select("entity").distinct().count()
    vocab = entity_vocab(triples).count()
    if rows == distinct == vocab:
        return []
    return [f"mapping: {rows} rows, {distinct} entities, vocabulary {vocab}"]


def write_web(run: Run) -> None:
    spark, shape = run.spark, run.shape
    shutil.rmtree(run.paths.kg, ignore_errors=True)
    pages = spark.read.parquet(run.paths.kg_pages)
    rec = len(run.ops)
    out, dt = run.op("pipeline.run_pipeline", lambda: run_pipeline(spark, pages, run.paths.kg))
    if dt is None:
        return
    run.sample("write_s:run_pipeline", dt)
    run.sample("kg_pages_per_s", shape.kg_pages / dt)
    run.counts["write_ops"] = (rec, rec + 1)
    run.pending_checks.append((rec, lambda: check_mapping(out["mapping"], out["triples"])))


# ---------------------------------------------------------------------------
# web_kg: read (graph analytics over the KG edges)
# ---------------------------------------------------------------------------

def check_sssp(edges: DataFrame, dist: DataFrame, seed_node: str) -> list[str]:
    """The seed sits at 0 and no edge out of a reached node shortens a
    distance (BFS over directed edges, so dist(v) <= dist(u) + 1)."""
    problems = []
    zero = [r["node_id"] for r in dist.filter(F.col("distance") == 0).collect()]
    if zero != [seed_node]:
        problems.append(f"sssp: distance-0 nodes {zero[:3]} != [{seed_node}]")
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).distinct()
    du = dist.select(F.col("node_id").alias("u"), F.col("distance").alias("du"))
    dv = dist.select(F.col("node_id").alias("v"), F.col("distance").alias("dv"))
    bad = (
        e.join(du, "u").join(dv, "v", "left")
        .filter(F.col("dv").isNull() | (F.col("dv") > F.col("du") + 1))
        .count()
    )
    if bad:
        problems.append(f"sssp: {bad} edges shorten a distance")
    return problems


def kcore_nodes(pairs, k: int) -> set[str]:
    """The k-core of the undirected graph of ``pairs`` (self-loops
    dropped), peeled in Python."""
    adj: dict[str, set[str]] = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    todo = [n for n, ns in adj.items() if len(ns) < k]
    removed: set[str] = set()
    while todo:
        n = todo.pop()
        if n in removed:
            continue
        removed.add(n)
        for m in adj[n]:
            adj[m].discard(n)
            if m not in removed and len(adj[m]) < k:
                todo.append(m)
    return set(adj) - removed


def check_kcore(edges: DataFrame, core: DataFrame, k: int) -> list[str]:
    """The k-core's node set equals the one peeled in Python over the
    same edges."""
    want = kcore_nodes(((r["src"], r["dst"]) for r in edges.collect()), k)
    got = [r["node_id"] for r in core.select("node_id").collect()]
    if len(got) == len(want) and set(got) == want:
        return []
    return [f"kcore: {len(set(got) - want)} nodes outside the {k}-core, "
            f"{len(want - set(got))} of its {len(want)} nodes missing"]


def analytics_reader(run: Run) -> Callable[[], None]:
    """Prepares the read side (untimed: the KG edge list and the seeded
    shortest-paths source) and returns one read round."""
    spark = run.spark
    edges = spark.read.parquet(os.path.join(run.paths.kg, "s4_edges", "data")).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    srcs = sorted(r["src"] for r in edges.select("src").distinct().collect())
    seed_node = random.Random(run.seed).choice(srcs)
    seeds = spark.createDataFrame([(seed_node,)], "node_id string")
    calls = {
        "pagerank": lambda: pagerank(edges),
        "sssp": lambda: graphalgo.shortest_paths(edges, seeds),
        "kcore": lambda: graphalgo.kcore(edges, k=KCORE_K),
    }
    checks = {
        "sssp": lambda df: check_sssp(edges, df, seed_node),
        "kcore": lambda df: check_kcore(edges, df, KCORE_K),
    }

    def check(algo: str, df: DataFrame, n: int) -> list[str]:
        # the KG edge list is a star forest, so its 2-core is empty: the
        # k-core is checked against the one peeled in Python instead
        problems = [] if n > 0 or algo == "kcore" else [f"{algo}: empty result"]
        return problems + (checks[algo](df) if algo in checks else [])

    def read_round() -> None:
        for algo in ALGOS:
            rec = len(run.ops)

            def call(algo=algo):
                df = calls[algo]()
                return df, df.count()

            out, dt = run.op(f"graphalgo.{algo}", call)
            if dt is None:
                continue
            run.sample(f"{algo}_s", dt)
            run.sample("read_s", dt)
            run.pending_checks.append((rec, lambda algo=algo, out=out: check(algo, *out)))

    return read_round


# ---------------------------------------------------------------------------
# The two workloads and the timed phase
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Workload:
    """What one ``--workload`` sets up, writes, reads and checks. The
    metrics in BENCHMARK.json are defined on the ``write`` and ``read``
    roles, so every workload reports every one of them."""

    generate: Callable
    warm_up: Callable
    write: Callable
    reader: Callable
    check: Callable
    write_items: int          # input items one run's write operations consume
    write_spans: tuple[str, ...]
    read_prefix: str


WORKLOADS = {
    "provenance": Workload(
        generate=generate_events, warm_up=warm_up_graph,
        write=write_provenance, reader=query_reader, check=check_provenance,
        write_items=SHAPE.base_events + MERGES * SHAPE.delta_events,
        write_spans=("graph.build_graph", "graph.merge_graph_tables"),
        read_prefix="queries.",
    ),
    "web_kg": Workload(
        generate=generate_pages, warm_up=warm_up_pages,
        write=write_web, reader=analytics_reader, check=run_pending_checks,
        write_items=SHAPE.kg_pages,
        write_spans=("pipeline.run_pipeline",),
        read_prefix="graphalgo.",
    ),
}


def measure(run: Run, wl: Workload, seconds: float) -> dict[str, float]:
    """The timed phase: the fixed writes, then read rounds while the mean
    round still fits in ``seconds``. Returns the wall of each part."""
    t0 = time.monotonic()
    wl.write(run)
    t1 = time.monotonic()
    if "write_ops" not in run.counts:
        return {"write": t1 - t0}
    read_round = wl.reader(run)
    t2 = time.monotonic()
    rounds: list[float] = []
    while not rounds or time.monotonic() - t0 + sum(rounds) / len(rounds) <= seconds:
        t = time.monotonic()
        read_round()
        rounds.append(time.monotonic() - t)
        run.sample("read_round_s", rounds[-1])
    run.counts["read_rounds"] = len(rounds)
    return {"write": t1 - t0, "read_setup": t2 - t1, "read": time.monotonic() - t2}
