"""Graph-construction invariants (SURVEY.md §1.3 / §5.3) on hand-pinned
events plus the synthetic corpus."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sigraph_spark.corpus import gen_events
from sigraph_spark.operators.graph import (
    adjacency_lists,
    build_graph,
    debris_candidates,
    iocs,
)

TS = dt.datetime(2024, 1, 1, 12, 0, 0)

EVENT_SCHEMA = T.StructType([
    T.StructField("trace_id", T.StringType()),
    T.StructField("span_id", T.StringType()),
    T.StructField("unit_id", T.StringType()),
    T.StructField("system_provenance", T.StringType()),
    T.StructField("timestamp", T.TimestampType()),
    T.StructField("weight", T.IntegerType()),
    T.StructField("process_name", T.StringType()),
    T.StructField("related_rule_ids", T.ArrayType(T.StringType())),
    T.StructField("parent_span_id", T.StringType()),
    T.StructField("parent_system_provenance", T.StringType()),
])


def ev(trace="t1", span="s1", unit="u1", sp="f1@FILE@CREATE@WRITE_SEND",
       ts=TS, weight=1, proc=None, rules=None, pspan=None, psp=None):
    return (trace, span, unit, sp, ts, weight, proc, rules, pspan, psp)


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        # parent p1 WRITE_SEND-creates f1 (edge p1->f1), twice with later ts
        ev(span="s1", sp="f1@FILE@CREATE@WRITE_SEND", ts=TS, weight=1,
           proc="p1.exe", pspan="ps1", psp="p1.exe@PROCESS@LAUNCH@NOT_ACTOR"),
        ev(span="s2", sp="f1@FILE@CREATE@WRITE_SEND",
           ts=TS + dt.timedelta(seconds=10), weight=7,
           proc="p1.exe", pspan="ps1", psp="p1.exe@PROCESS@LAUNCH@NOT_ACTOR"),
        # READ_RECV flips direction: f2 -> p1
        ev(span="s3", sp="f2@FILE@MODIFY@READ_RECV",
           ts=TS + dt.timedelta(seconds=20), weight=2,
           proc="p1.exe", pspan="ps1", psp="p1.exe@PROCESS@LAUNCH@NOT_ACTOR"),
        # no parent: node + containment only, no edge
        ev(span="s4", sp="n1@NETWORK@CONNECT@NOT_ACTOR",
           ts=TS + dt.timedelta(seconds=30), weight=3),
        # second trace shares node f1 (set-union accumulation)
        ev(trace="t2", span="s5", sp="f1@FILE@DELETE@NOT_ACTOR",
           ts=TS + dt.timedelta(seconds=40), weight=1,
           proc="p2.exe", pspan="ps2", psp="p2.exe@PROCESS@LAUNCH@NOT_ACTOR",
           rules=["r1", "r2"]),
        # invalid rows -> error channel
        ev(trace="t3", span="s6", sp="garbage_no_at"),
        ev(trace="t3", span="s7", sp="f3@FILE@BADACTION@WRITE_SEND"),
        # @-in-name binding
        ev(trace="t2", span="s8", sp="a@b@file@FILE@RENAME@WRITE_SEND",
           ts=TS + dt.timedelta(seconds=50), weight=4,
           proc="p2.exe", pspan="ps2", psp="p2.exe@PROCESS@LAUNCH@NOT_ACTOR"),
    ]
    g = build_graph(spark.createDataFrame(rows, EVENT_SCHEMA))
    # materialize once per module
    return {
        "nodes": g.nodes.collect(),
        "edges": g.edges.collect(),
        "traces": g.traces.collect(),
        "contains": g.trace_contains.collect(),
        "matches": g.rule_matches.collect(),
        "errors": g.errors.collect(),
        "g": g,
    }


def test_node_uniqueness_and_accumulation(tiny):
    nodes = {r.node_id: r for r in tiny["nodes"]}
    assert len(tiny["nodes"]) == len(nodes)  # §1.3-1 uniqueness
    f1 = nodes["f1@FILE"]
    assert f1.related_trace_ids == ["t1", "t2"]  # §1.3-2 set-union, sorted
    assert set(f1.related_span_ids) == {"s1", "s2", "s5"}
    assert nodes["a@b@file@FILE"].label == "FILE"  # @-in-name rightmost binding
    assert "p1.exe@PROCESS" in nodes  # parents materialize as nodes


def test_edge_triple_dedup_last_writer(tiny):
    edges = {(r.src, r.predicate, r.dst): r for r in tiny["edges"]}
    assert len(tiny["edges"]) == len(edges)  # §1.3-3 unique triple key
    e = edges[("p1.exe@PROCESS", "CREATE", "f1@FILE")]
    assert e.weight == 7  # last writer (s2) wins
    assert e.start_time == TS + dt.timedelta(seconds=10)


def test_direction_flip(tiny):
    keys = {(r.src, r.predicate, r.dst) for r in tiny["edges"]}
    assert ("f2@FILE", "MODIFY", "p1.exe@PROCESS") in keys  # READ_RECV reversed
    assert ("p2.exe@PROCESS", "DELETE", "f1@FILE") in keys  # NOT_ACTOR forward


def test_no_parent_no_edge(tiny):
    assert not any(
        r.src == "n1@NETWORK" or r.dst == "n1@NETWORK" for r in tiny["edges"]
    )  # §1.3-5
    assert any(r.node_id == "n1@NETWORK" for r in tiny["contains"])


def test_trace_aggregates(tiny):
    traces = {(r.unit_id, r.trace_id): r for r in tiny["traces"]}
    t1 = traces[("u1", "t1")]
    assert t1.span_count == 4
    assert t1.start_time == TS
    assert t1.representative_process_name == "p1.exe"  # min_by ts §1.3-6


def test_rule_matches(tiny):
    assert {(r.rule_id, r.node_id) for r in tiny["matches"]} == {
        ("r1", "f1@FILE"), ("r2", "f1@FILE"),
    }


def test_error_side_channel(tiny):
    errs = {r.span_id: r.error for r in tiny["errors"]}
    assert set(errs) == {"s6", "s7"}
    assert "must contain '@'" in errs["s6"]
    assert "invalid action type" in errs["s7"]


def test_ioc_projection(tiny):
    g = tiny["g"]
    rows = iocs(g.nodes, g.trace_contains, "u1").collect()
    arts = {r.artifact for r in rows}
    # PROCESS labels excluded; trace-set intersected with the unit's traces
    assert "p1.exe@PROCESS" not in arts
    assert "n1@NETWORK" in arts
    f1 = next(r for r in rows if r.artifact == "f1@FILE")
    assert f1.related_trace_ids == ["t1", "t2"]  # both traces are in u1


def test_corpus_graph_invariants(spark):
    events = gen_events(spark, sf=0.001)
    g = build_graph(events)
    # no duplicate node ids (MERGE-key invariant, SURVEY.md A9)
    assert g.nodes.groupBy("node_id").count().filter("count > 1").count() == 0
    assert (
        g.edges.groupBy("src", "predicate", "dst").count().filter("count > 1").count() == 0
    )
    # error channel caught the injected invalid rows
    assert g.errors.count() > 0
    # every edge endpoint exists in the node table
    nodes = g.nodes.select("node_id")
    missing = (
        g.edges.select(F.col("src").alias("node_id"))
        .union(g.edges.select(F.col("dst").alias("node_id")))
        .distinct()
        .join(nodes, "node_id", "left_anti")
        .count()
    )
    assert missing == 0


def test_determinism_across_parallelism(spark):
    """SURVEY.md §7.3-2: identical tables at different partitionings."""
    events = gen_events(spark, sf=0.001)
    a = build_graph(events.repartition(2))
    b = build_graph(events.repartition(16))
    for x, y in [(a.nodes, b.nodes), (a.edges, b.edges), (a.traces, b.traces)]:
        diff = x.exceptAll(y).count() + y.exceptAll(x).count()
        assert diff == 0


def test_adjacency_sorted(spark, tiny):
    adj = adjacency_lists(tiny["g"].edges).collect()
    for r in adj:
        preds = [(e.predicate, e.dst) for e in r.out_edges]
        assert preds == sorted(preds)
        assert r.out_degree == len(r.out_edges)


def _tables_equal(a, b) -> bool:
    for x, y in [
        (a.nodes, b.nodes), (a.edges, b.edges), (a.traces, b.traces),
        (a.trace_contains, b.trace_contains), (a.trace_spans, b.trace_spans),
        (a.rule_matches, b.rule_matches),
    ]:
        if x.exceptAll(y).count() + y.exceptAll(x).count() != 0:
            return False
    return True


def test_merge_twice_equals_once_equals_recompute(spark):
    """§1.3 incremental write path: apply delta twice == apply once ==
    recompute from union (the semilattice-combiner contract; mirrored by
    the graph_merge_* gate oracles)."""
    from sigraph_spark.operators.graph import merge_graph_tables

    events = gen_events(spark, sf=0.001).localCheckpoint()
    parity = F.pmod(F.xxhash64("span_id"), F.lit(2))
    half1, half2 = events.filter(parity == 0), events.filter(parity == 1)
    full = build_graph(events)
    once = merge_graph_tables(build_graph(half1), half2)
    twice = merge_graph_tables(once, half2)
    assert _tables_equal(once, full)
    assert _tables_equal(twice, full)


def test_merge_order_independent(spark):
    """Deltas merge in any order/grouping (commutative + associative)."""
    from sigraph_spark.operators.graph import merge_graph_tables

    events = gen_events(spark, sf=0.001).localCheckpoint()
    third = F.pmod(F.xxhash64("span_id"), F.lit(3))
    a, b, c = (events.filter(third == k) for k in range(3))
    abc = merge_graph_tables(merge_graph_tables(build_graph(a), b), c)
    cba = merge_graph_tables(merge_graph_tables(build_graph(c), b), a)
    assert _tables_equal(abc, cba)


def test_merge_reupsert_semantics(spark):
    """The reference's arrival rules on a concrete delta: list set-union
    accumulates, existing non-null image is kept when the delta's event
    carries none (element_behavior.py:316-347), edge props last-writer-win
    (client.py:221), trace aggregates recombine."""
    from sigraph_spark.operators.graph import build_graph, merge_graph_tables

    base_rows = [
        ev(span="s1", sp="f1@FILE@CREATE@WRITE_SEND", ts=TS, weight=1,
           proc="p1.exe", pspan="ps1", psp="p1.exe@PROCESS@LAUNCH@NOT_ACTOR"),
    ]
    delta_rows = [
        # same node f1 in a NEW trace, later ts, same edge key with higher
        # weight -> last writer; parent-only incidence leaves image alone
        ev(trace="t9", span="s2", sp="f1@FILE@CREATE@WRITE_SEND",
           ts=TS + dt.timedelta(seconds=5), weight=9,
           proc="p1.exe", pspan="ps1", psp="p1.exe@PROCESS@LAUNCH@NOT_ACTOR"),
    ]
    g0 = build_graph(spark.createDataFrame(base_rows, EVENT_SCHEMA))
    merged = merge_graph_tables(
        g0, spark.createDataFrame(delta_rows, EVENT_SCHEMA)
    )
    f1 = next(r for r in merged.nodes.collect() if r.node_id == "f1@FILE")
    assert f1.related_trace_ids == ["t1", "t9"]          # set-union
    assert f1.related_span_ids == ["s1", "s2"]
    assert f1.image == "p1.exe"                          # earliest non-null kept
    e = next(r for r in merged.edges.collect()
             if (r.src, r.predicate, r.dst) == ("p1.exe@PROCESS", "CREATE", "f1@FILE"))
    assert e.weight == 9                                 # last writer wins
    assert e.start_time == TS + dt.timedelta(seconds=5)
    t1 = {(r.unit_id, r.trace_id): r for r in merged.traces.collect()}
    assert t1[("u1", "t1")].span_count == 1
    assert t1[("u1", "t9")].span_count == 1


def test_trace_span_state_bounded_under_skew(spark):
    """One hot trace with 10^5 spans: span membership lives as narrow side-
    table rows (never one 10^5-element array cell on the trace row), the
    merged traces schema carries NO array column, the merge plan contains
    no collect_* aggregate, and span_count stays exact + replay-idempotent."""
    from pyspark.sql.types import ArrayType

    from sigraph_spark.operators.graph import (
        build_traces, build_trace_spans, merge_trace_spans, merge_traces,
    )

    n = 100_000
    parsed = spark.range(n).select(
        F.lit("u1").alias("unit_id"),
        F.when(F.col("id") % 100 != 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold-"), (F.col("id") / 100).cast("long").cast("string")))
        .alias("trace_id"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("span_id"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id")).alias("timestamp"),
        F.lit("p.exe").alias("process_name"),
    )
    existing_ev = parsed.filter(F.col("id") % 2 == 0).drop("id")
    delta_ev = parsed.filter(F.col("id") % 2 == 1).drop("id")

    spans = merge_trace_spans(
        build_trace_spans(existing_ev), build_trace_spans(delta_ev)
    )
    merged = merge_traces(
        build_traces(existing_ev), build_traces(delta_ev), spans
    )
    # bounded per-row state: no array-typed column anywhere on the trace row
    assert not any(isinstance(f.dataType, ArrayType) for f in merged.schema.fields)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "collect_list" not in plan
    got = {r.trace_id: r.span_count for r in merged.collect() if r.trace_id == "hot"}
    assert got["hot"] == n - n // 100
    # replay idempotence: re-applying the delta changes nothing
    spans2 = merge_trace_spans(spans, build_trace_spans(delta_ev))
    again = merge_traces(merged, build_traces(delta_ev), spans2)
    assert again.exceptAll(merged).count() + merged.exceptAll(again).count() == 0


def test_label_conflict_error_channel(spark):
    """One node key under two labels must surface on the error channel
    (the reference fails loudly when an artifact key resolves to multiple
    nodes, element_behavior.py:149-153). Parsed events can't produce this
    (node_id = name@TYPE embeds the label), so it is the data-quality
    invariant for EXTERNALLY merged node tables — tested directly."""
    from sigraph_spark.operators.graph import node_label_conflicts

    nodes = spark.createDataFrame(
        [("shared", "FILE"), ("shared", "REGISTRY"), ("clean", "FILE")],
        "node_id string, label string",
    )
    errs = [r.error for r in node_label_conflicts(nodes).collect()]
    assert len(errs) == 1
    assert "label conflict" in errs[0] and "shared" in errs[0]
    assert "FILE,REGISTRY" in errs[0]
    # the opt-in build_graph check stays silent on valid parsed input
    rows = [
        ev(span="k1", sp="shared@FILE@CREATE@NOT_ACTOR"),
        ev(span="k2", sp="shared@REGISTRY@REG_ADD@NOT_ACTOR",
           ts=TS + dt.timedelta(seconds=1)),
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    g = build_graph(df, check_label_conflicts=True)
    assert g.errors.count() == 0  # distinct node_ids: shared@FILE, shared@REGISTRY


def test_apply_debris_detach_deletes(spark):
    from sigraph_spark.operators.graph import apply_debris

    rows = [
        ev(trace="lone", span="d1", unit="u9", sp="ghost@FILE@CREATE@NOT_ACTOR"),
        ev(trace="busy", span="d2", unit="u9", sp="f@FILE@CREATE@WRITE_SEND",
           proc="p.exe", pspan="pp", psp="p.exe@PROCESS@LAUNCH@NOT_ACTOR",
           rules=["r1"]),
    ]
    g = build_graph(spark.createDataFrame(rows, EVENT_SCHEMA))
    debris = debris_candidates(g.traces, g.trace_contains, g.edges)
    new, counters = apply_debris(g, debris)
    assert counters == {
        "nodes": 1, "edges": 0, "traces": 1, "trace_contains": 1,
        "trace_spans": 1, "rule_matches": 0,
    }
    assert not any(r.node_id == "ghost@FILE" for r in new.nodes.collect())
    assert not any(r.trace_id == "lone" for r in new.traces.collect())
    # the busy trace and its rows survive untouched
    assert any(r.trace_id == "busy" for r in new.traces.collect())
    assert new.edges.count() == g.edges.count()


def test_apply_unit_flush_cross_table(spark):
    from sigraph_spark.operators.graph import apply_unit_flush

    rows = [
        ev(trace="t1", span="a1", unit="uA", sp="f@FILE@CREATE@WRITE_SEND",
           proc="p.exe", pspan="pp", psp="p.exe@PROCESS@LAUNCH@NOT_ACTOR"),
        ev(trace="t2", span="b1", unit="uB", sp="g@FILE@MODIFY@WRITE_SEND",
           proc="p.exe", pspan="pp", psp="p.exe@PROCESS@LAUNCH@NOT_ACTOR"),
    ]
    g = build_graph(spark.createDataFrame(rows, EVENT_SCHEMA))
    new, counters = apply_unit_flush(g, "uA")
    assert counters["traces"] == 1 and counters["trace_contains"] > 0
    # artifacts/edges persist (only Trace rows carry unit_id — reference
    # FLUSH_UNIT_DATA property-based delete)
    assert counters["nodes"] == 0 and counters["edges"] == 0
    assert {r.unit_id for r in new.traces.collect()} == {"uB"}
    assert {r.unit_id for r in new.trace_contains.collect()} == {"uB"}


def test_export_envelope_golden(spark):
    """{nodes, rels} export document: shape, dedup, ISO timestamps —
    reference graph_element/helper.py serializers."""
    from sigraph_spark.operators.queries import export_envelope, provenance_subgraph

    rows = [
        ev(span="e1", sp="f1@FILE@CREATE@WRITE_SEND", ts=TS, weight=2,
           proc="p1.exe", pspan="ps1", psp="p1.exe@PROCESS@LAUNCH@NOT_ACTOR"),
    ]
    g = build_graph(spark.createDataFrame(rows, EVENT_SCHEMA))
    sub_nodes, sub_edges = provenance_subgraph(
        g.trace_contains, g.edges, g.nodes, "u1", max_hop=2
    )
    env = export_envelope(sub_nodes, sub_edges)
    assert env == {
        "nodes": [
            {
                "elementId": "f1@FILE",
                "labels": ["FILE"],
                "properties": {
                    "name": "f1@FILE",
                    "image": "p1.exe",
                    "related_span_ids": ["e1"],
                    "related_trace_ids": ["t1"],
                },
            },
            {
                "elementId": "p1.exe@PROCESS",
                "labels": ["PROCESS"],
                "properties": {
                    "name": "p1.exe@PROCESS",
                    "image": None,
                    "related_span_ids": ["e1"],
                    "related_trace_ids": ["t1"],
                },
            },
        ],
        "rels": [
            {
                "elementId": "p1.exe@PROCESS|CREATE|f1@FILE",
                "startNodeElementId": "p1.exe@PROCESS",
                "endNodeElementId": "f1@FILE",
                "type": "CREATE",
                "properties": {
                    "start_time": "2024-01-01T12:00:00",
                    "weight": 2,
                },
            }
        ],
    }


def test_debris_gc(spark):
    # one trace containing exactly one node of total degree 1 -> debris
    rows = [
        ev(trace="lone", span="d1", unit="u9", sp="ghost@FILE@CREATE@NOT_ACTOR"),
        ev(trace="busy", span="d2", unit="u9", sp="f@FILE@CREATE@WRITE_SEND",
           proc="p.exe", pspan="pp", psp="p.exe@PROCESS@LAUNCH@NOT_ACTOR"),
        ev(trace="busy", span="d3", unit="u9", sp="g@FILE@MODIFY@WRITE_SEND",
           proc="p.exe", pspan="pp", psp="p.exe@PROCESS@LAUNCH@NOT_ACTOR"),
    ]
    import sigraph_spark.operators.graph as G
    from pyspark.sql import SparkSession
    spark_ = SparkSession.getActiveSession()
    g = build_graph(spark_.createDataFrame(rows, EVENT_SCHEMA))
    debris = debris_candidates(g.traces, g.trace_contains, g.edges).collect()
    assert {(r.trace_id, r.node_id) for r in debris} == {("lone", "ghost@FILE")}


def test_keyset_pagination_covers_listing_exactly(spark):
    """Pages chained by cursor tile the ordered listing with no gaps,
    overlaps, or reordering (reference F2: search_after paging)."""
    from sigraph_spark.operators.queries import page_cursor, paginate_keyset

    rows = [(i, f"t{i % 4}", i * 10) for i in range(11)]
    df = spark.createDataFrame(rows, "id long, tag string, v long")
    keys = ["v", "id"]
    seen, after = [], None
    for _ in range(10):
        page = paginate_keyset(df, keys, page_size=3, after=after)
        got = page.collect()
        if not got:
            break
        seen.extend((r["v"], r["id"]) for r in got)
        after = page_cursor(page, keys)
    assert seen == sorted((r[2], r[0]) for r in rows)


def test_ordered_sequences_sorted_by_payload_time_then_doc_id(spark):
    """One sequence per trace of the unit, ordered by (payload Timestamp,
    doc_id) whatever the storage order or partitioning; ``trace_id``
    keeps one trace."""
    from sigraph_spark.operators.queries import ordered_sequences

    sec = dt.timedelta(seconds=1)
    rows = [
        # doc_id, unit, trace, storage timestamp, payload Timestamp
        ("d3", "u1", "t1", TS, "2024-01-01 12:00:05"),
        ("d1", "u1", "t1", TS + sec, "2024-01-01 12:00:09"),
        ("d2", "u1", "t1", TS + 2 * sec, "2024-01-01 12:00:05"),  # tie with d3
        ("d4", "u1", "t2", TS, "2024-01-01 12:00:01"),
        ("d5", "u1", "t2", TS + sec, "2024-01-01 12:00:00"),
        ("d6", "u2", "t1", TS, "2024-01-01 11:00:00"),  # other unit
    ]
    docs = spark.createDataFrame(
        [(d, u, t, ts, (p, f"{d}.exe")) for d, u, t, ts, p in rows],
        "doc_id string, unit_id string, trace_id string, timestamp timestamp, "
        "raw_data struct<Timestamp:string,Image:string>",
    ).repartition(3, "doc_id")
    assert docs.rdd.getNumPartitions() >= 2

    def sequences(**kw):
        return {
            r["trace_id"]: [
                (x["payload_ts"], x["doc_id"], x["payload"]["Image"])
                for x in r["sequence"]
            ]
            for r in ordered_sequences(docs, "u1", **kw).collect()
        }

    t1 = [
        ("2024-01-01 12:00:05", "d2", "d2.exe"),
        ("2024-01-01 12:00:05", "d3", "d3.exe"),
        ("2024-01-01 12:00:09", "d1", "d1.exe"),
    ]
    t2 = [
        ("2024-01-01 12:00:00", "d5", "d5.exe"),
        ("2024-01-01 12:00:01", "d4", "d4.exe"),
    ]
    assert sequences() == {"t1": t1, "t2": t2}
    assert sequences(trace_id="t1") == {"t1": t1}
