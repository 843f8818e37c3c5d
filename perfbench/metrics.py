"""Metric names, units and how each is computed from a run.

Two levels of names:

* ``END_TO_END`` and ``PER_LAYER`` are the metrics BENCHMARK.json
  declares. Every workload reports all of them, on its two roles
  (``workloads.Workload``): ``write`` is the fixed work that builds the
  graph, ``read`` one round of reads over it.
* ``layer_end_to_end`` and ``layer_metrics`` give the same runs under
  layer-specific names (``merge_p50_s``, ``graph.build_graph.jobs``,
  ``pipeline.s1_extract.python_s``, ...). Each exists only on the
  workload that runs the layer, so they go to the report lines and the
  trace file, not to the result line.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench.spans import Tracer
from perfbench.stats import median, tail
from perfbench.workloads import (
    ALGOS, EXPANSION, PIPELINE_STAGES, QUERY_KINDS, TABLES, Run, Workload,
)

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("write_items_per_s", "items/s", "higher"),
    ("read_p50_s", "s", "lower"),
    ("read_round_s", "s", "lower"),
]

UNITS = {
    "wall_s": "s", "p50_s": "s", "cpu_s": "s", "python_s": "s", "jobs": "count",
    "shuffle_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
    "scan_rows_per_event": "rows/event", "scan_rows_per_item": "rows/item",
}
_SETUP_LAYERS = ["session.build_session.wall_s", "corpus.generate.wall_s", "warmup.wall_s"]
PER_LAYER = [
    (n, UNITS[n.rsplit(".", 1)[1]], "lower")
    for n in _SETUP_LAYERS
    + [f"write.{f}" for f in
       ("wall_s", "jobs", "cpu_s", "shuffle_mb", "task_skew", "scan_rows_per_item")]
    + [f"read.{f}" for f in ("jobs", "cpu_s", "shuffle_mb", "task_skew")]
]


def unit_of(name: str) -> str:
    return UNITS[name.rsplit(".", 1)[1]]


def write_wall_s(run: Run) -> float | None:
    """Wall of the fixed write work, each operation kind counted as often
    as it ran at the median of its samples (the merges of ``provenance``),
    so one slow batch does not set the figure."""
    if "write_ops" not in run.counts:
        return None
    kinds = [v for k, v in run.samples.items() if k.startswith("write_s:")]
    return sum(len(v) * median(v) for v in kinds)


def end_to_end(run: Run, wl: Workload, setup_s: float, peak_rss_mb: float) -> dict:
    """A metric whose operations failed is None (the run is not correct)."""
    s = defaultdict(list, run.samples)
    write_s = write_wall_s(run)
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "write_items_per_s": wl.write_items / write_s if write_s else None,
        "read_p50_s": median(s["read_s"]),
        "read_round_s": median(s["read_round_s"]),
    }


def layer_end_to_end(run: Run, name: str) -> tuple[dict, dict, dict]:
    """(values, units, notes) under the layer-specific end-to-end names;
    notes give each tail's percentile and sample count."""
    s = defaultdict(list, run.samples)
    if name == "provenance":
        merge_tail, merge_pct, merge_n = tail(s["merge_s"])
        query_tail, query_pct, query_n = tail(s["read_s"])
        values = {
            "ingest_events_per_s": median(s["ingest_events_per_s"]),
            "merge_p50_s": median(s["merge_s"]),
            "merge_tail_s": merge_tail,
            "expand_query_p50_s": median(s["expand_s"]),
            "lookup_query_p50_s": median(s["lookup_s"]),
            "query_tail_s": query_tail,
        }
        units = {k: "s" for k in values} | {"ingest_events_per_s": "events/s"}
        notes = {"merge_tail": {"percentile": merge_pct, "n": merge_n},
                 "query_tail": {"percentile": query_pct, "n": query_n}}
    else:
        values = {"kg_pages_per_s": median(s["kg_pages_per_s"])}
        values |= {f"{a}_s": median(s[f"{a}_s"]) for a in ALGOS}
        units = {k: "s" for k in values} | {"kg_pages_per_s": "pages/s"}
        notes = {}
    notes["samples"] = {k: len(v) for k, v in run.samples.items()}
    return values, units, notes


def _occurrences(tracer: Tracer) -> dict[str, list[dict]]:
    inc = tracer.inclusive()
    occ: dict[str, list[dict]] = defaultdict(list)
    for sp in tracer.spans:
        occ[sp.name].append(inc[sp.sid])
    return occ


def _setup_layers(setup: dict[str, float]) -> dict:
    return {
        "session.build_session.wall_s": setup["session"],
        "corpus.generate.wall_s": setup["generate"],
        "warmup.wall_s": setup["warmup"],
    }


def per_layer(tracer: Tracer, setup: dict[str, float], wl: Workload) -> dict:
    """The contract's per-layer metrics: ``write.*`` over all write
    operations (fixed work, so counts repeat exactly for one seed),
    ``read.*`` over the first read round."""
    occ = _occurrences(tracer)
    out = _setup_layers(setup)
    writes = [x for span in wl.write_spans for x in occ[span]]
    reads = [occ[name][0] for name in occ if name.startswith(wl.read_prefix)]
    for role, xs in (("write", writes), ("read", reads)):
        for f in ("wall_s", "jobs", "cpu_s", "shuffle_mb"):
            out[f"{role}.{f}"] = sum(x[f] for x in xs)
        out[f"{role}.task_skew"] = max((x["task_skew"] for x in xs), default=None)
    out["write.scan_rows_per_item"] = sum(x["input_records"] for x in writes) / wl.write_items
    return {n: out[n] for n, _, _ in PER_LAYER}


def _layer_names() -> list[str]:
    names = list(_SETUP_LAYERS)
    for span in ("graph.build_graph", "graph.merge_graph_tables"):
        names += [f"{span}.{f}" for f in
                  ("wall_s", "jobs", "cpu_s", "shuffle_mb", "spill_mb", "task_skew",
                   "scan_rows_per_event")]
    names += [f"graph.write.{t}.wall_s" for t in TABLES]
    for kind in QUERY_KINDS:
        names += [f"queries.{kind}.p50_s", f"queries.{kind}.jobs"]
        if kind in EXPANSION:
            names.append(f"queries.{kind}.shuffle_mb")
    names += [f"pipeline.{st}.{f}" for st in PIPELINE_STAGES for f in ("wall_s", "cpu_s", "python_s")]
    names += [
        "pipeline.table_fingerprint.wall_s", "pipeline.partition_lineage.wall_s",
        "pipeline.s3_mapping.task_skew", "pipeline.s4_adjacency.task_skew",
    ]
    for a in ALGOS:
        names += [f"graphalgo.{a}.{f}" for f in ("jobs", "cpu_s", "shuffle_mb", "spill_mb")]
    return names


LAYER_NAMES = _layer_names()


def layer_metrics(run: Run, tracer: Tracer, setup: dict[str, float]) -> dict:
    """Layer-specific metrics of the spans this run has. A span that
    occurs several times reports the median of its occurrences for times
    and sizes and its first occurrence for counts (``jobs``,
    ``scan_rows_per_event``). ``pipeline.table_fingerprint`` and
    ``pipeline.partition_lineage`` run inside every plan stage: they
    report their total."""
    occ = _occurrences(tracer)
    events_in = {"graph.build_graph": run.shape.base_events,
                 "graph.merge_graph_tables": run.shape.delta_events}
    out = _setup_layers(setup)
    for name in LAYER_NAMES:
        span, f = name.rsplit(".", 1)
        if name in out or span not in occ:
            continue
        xs = occ[span]
        if span in ("pipeline.table_fingerprint", "pipeline.partition_lineage"):
            out[name] = sum(x["wall_s"] for x in xs)
        elif f == "scan_rows_per_event":
            out[name] = xs[0]["input_records"] / events_in[span]
        elif f == "jobs":
            out[name] = xs[0]["jobs"]
        elif f == "p50_s":
            out[name] = median([x["wall_s"] for x in xs])
        else:
            out[name] = median([x[f] for x in xs])
    return out
