"""Tests of the benchmark's own code.

    python3 -m pytest perfbench -q

The pure-Python tests cover the statistics, the span arithmetic and the
seeded generators; the Spark tests pin the generators to the package's
own and show that every output check fails on a corrupted result.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import inputs, metrics, run, stats, workloads
from perfbench.spans import Span, parse_duration_s, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- statistics and spans ----------------------------------------------------

def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert stats.tail(range(1, 101)) == (90.0, 90.0, 100)
    value, pct, n = stats.tail(range(30))
    assert (value, n) == (19.0, 30) and round(pct, 2) == 66.67
    # too few samples for a tail above the median: the median is reported
    assert stats.tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)
    assert stats.tail(range(20)) == (9.5, 50.0, 20)


def test_self_time_is_wall_minus_the_union_of_child_intervals():
    spans = [
        Span(0, "a", None, 0.0, 10.0),
        Span(1, "b", 0, 1.0, 3.0),
        Span(2, "c", 0, 2.0, 5.0),   # overlaps b: the union [1, 5] counts once
        Span(3, "d", 0, 6.0, 7.0),
        Span(4, "e", 1, 1.5, 2.0),
    ]
    assert self_times(spans) == {0: 5.0, 1: 1.5, 2: 3.0, 3: 1.0, 4: 0.5}


def test_spark_timing_strings_parse_to_seconds():
    assert parse_duration_s("12 ms") == 0.012
    assert parse_duration_s(
        "total (min, med, max (stageId: taskId))\n2.8 s (591 ms, 807 ms, 817 ms (stage 3.0: task 8))"
    ) == 2.8
    assert parse_duration_s("total (min, med, max)\n1.5 m (1 ms, 2 ms, 3 ms)") == 90.0


def test_write_wall_counts_each_operation_kind_at_its_median():
    run_ = workloads.Run(None, workloads.SHAPE, 0, None, None)
    assert metrics.write_wall_s(run_) is None           # the writes did not finish
    run_.counts["write_ops"] = (0, 4)
    for key, dt in (("write_s:build", 6.0), ("write_s:merge", 5.0),
                    ("write_s:merge", 9.0), ("write_s:merge", 4.0)):
        run_.sample(key, dt)
    assert metrics.write_wall_s(run_) == 6.0 + 3 * 5.0   # one slow merge does not count


# -- seeded inputs -----------------------------------------------------------

def _event_shape(t) -> dict:
    sp = t.column("system_provenance").to_pylist()
    valid = [s for s in sp if s.count("@") >= 3 and s.split("@")[-3] != "BADTYPE"
             and s.split("@")[-2] != "BADACTION"]
    return {
        "rows": t.num_rows,
        "hot": sum(s.startswith(inputs.HOT_NAME + "@") for s in sp),
        "invalid": len(sp) - len(valid),
        "parentless": t.column("parent_system_provenance").null_count,
        "vocabulary": len({s.rsplit("@", 3)[0] for s in valid
                           if not s.startswith(inputs.HOT_NAME)}),
    }


def test_rss_tree_leaves_out_young_descendants_but_not_their_children():
    gib = 2**30
    procs = {
        1: (0, 0.0, gib),           # not a descendant
        10: (1, 0.0, gib),          # the root
        11: (10, 5.0, 2 * gib),     # the JVM
        12: (11, 9.9, 2 * gib),     # a helper spawned 0.1 s ago
        13: (12, 8.0, gib),         # an older child of the helper
        14: (11, 9.5, gib),         # 0.5 s old
    }
    assert run.tree_rss_bytes(procs, 10, now_s=10.0, min_age_s=1.0) == 4 * gib
    assert run.tree_rss_bytes(procs, 10, now_s=10.0, min_age_s=0.0) == 7 * gib


def test_same_seed_gives_the_same_inputs():
    assert inputs.gen_events(3, 2000, 320).equals(inputs.gen_events(3, 2000, 320))
    ids = inputs.kg_page_ids(400, 3, 0.3)
    assert np.array_equal(ids, inputs.kg_page_ids(400, 3, 0.3))
    assert inputs.zipf_pages(ids, 0.3).equals(inputs.zipf_pages(ids, 0.3))


def test_another_seed_changes_rows_but_not_shape():
    a, b = inputs.gen_events(0, 10_000, 320), inputs.gen_events(1, 10_000, 320)
    assert a.column("system_provenance") != b.column("system_provenance")
    want = {"rows": 10_000, "hot": 3200, "invalid": 150, "parentless": 2000,
            "vocabulary": inputs.VOCAB}
    assert _event_shape(a) == _event_shape(b) == want
    for seed in (0, 1):
        invalid = inputs.invalid_span_ids(seed, 0, 10_000)
        t = inputs.gen_events(seed, 10_000, 320)
        marked = {s for s, p in zip(t.column("span_id").to_pylist(),
                                    t.column("system_provenance").to_pylist())
                  if p.count("@") < 3 or "@BAD" in p}
        assert invalid == marked
    ids0, ids1 = inputs.kg_page_ids(4000, 0, 0.3), inputs.kg_page_ids(4000, 1, 0.3)
    assert not np.array_equal(ids0, ids1)
    for ids in (ids0, ids1):
        html = inputs.zipf_pages(ids, 0.3).column("html").to_pylist()
        assert len(html) == 4000
        assert sum(b"HotBot executed" in h for h in html) == 1200


# -- BENCHMARK.json ----------------------------------------------------------

def test_benchmark_json_declares_what_the_code_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    assert names == list(workloads.WORKLOADS) == list(run.WORKLOAD_NAMES)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(m) for m in metrics.PER_LAYER]


# -- output checks -----------------------------------------------------------

def test_query_checks_fail_on_corrupted_results():
    assert workloads.check_related([{"t1": "a", "t2": "b", "hops": 2}], 3) == []
    assert workloads.check_related([{"t1": "b", "t2": "a", "hops": 2}], 3)
    assert workloads.check_related([{"t1": "a", "t2": "b", "hops": 4}], 3)

    def seq(*keys):
        return {"sequence": [{"payload_ts": t, "doc_id": d} for t, d in keys]}
    assert workloads.check_sequences([seq(("1", "a"), ("1", "b"), ("2", "a"))]) == []
    assert workloads.check_sequences([seq(("2", "a"), ("1", "b"))])

    keys = ["timestamp", "doc_id"]
    page = [{"timestamp": 1, "doc_id": "a"}, {"timestamp": 1, "doc_id": "b"}]
    assert workloads.check_page_walk([page, [{"timestamp": 2, "doc_id": "a"}]], keys) == []
    assert workloads.check_page_walk([page, page[1:]], keys)  # a page repeats a row

    env = {"nodes": [{"elementId": "x"}, {"elementId": "y"}],
           "rels": [{"startNodeElementId": "x", "endNodeElementId": "y"}]}
    assert workloads.check_envelope(env) == []
    env["rels"].append({"startNodeElementId": "x", "endNodeElementId": "z"})
    assert workloads.check_envelope(env)


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from sigraph_spark.session import build_session

    s = build_session(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s


def _events(tmp_path, seed: int, n: int) -> str:
    """Path of ``n`` events as parquet, in batches of 1000 (0 is the base)."""
    import pyarrow as pa

    t = inputs.gen_events(seed, n, 320)
    batch = pa.array(np.arange(n) // 1000, pa.int32())
    path = str(tmp_path / f"events-{seed}-{n}")
    pq.write_to_dataset(t.append_column("batch", batch), path, partition_cols=["batch"])
    return path


def test_pages_are_gen_pages_zipf_rows(spark):
    from pyspark.sql import functions as F

    from sigraph_spark.corpus import gen_pages_zipf

    ids = inputs.kg_page_ids(200, 5, 0.3)
    got = inputs.zipf_pages(ids, 0.3).to_pylist()
    want = (
        gen_pages_zipf(spark, sf=inputs.POOL * 200 / 1_000_000, hot_frac=0.3, obj_pool=None)
        .withColumn("i", F.substring_index("url", "/", -1).cast("long"))
        .filter(F.col("i").isin([int(i) for i in ids]))
        .select("url", F.unix_micros("warc_ts").alias("us"), "html", "text", "lang")
        .orderBy("i").collect()
    )
    assert [(r["url"], r["us"], bytes(r["html"]), r["text"], r["lang"]) for r in want] == [
        (g["url"], int(g["warc_ts"].timestamp() * 1_000_000), g["html"], g["text"], g["lang"])
        for g in got]


def test_ingest_checks_fail_when_a_delta_batch_is_dropped(spark, tmp_path):
    from pyspark.sql import functions as F

    path = _events(tmp_path, 4, 3000)
    ev = spark.read.parquet(path)

    def batch(k):
        return ev.filter(F.col("batch") == k).drop("batch")

    g1 = workloads.merge_graph_tables(workloads.build_graph(batch(0)), batch(1))
    g2 = workloads.merge_graph_tables(g1, batch(2))
    want = workloads.build_graph(ev.drop("batch"))
    assert workloads.check_tables_match(g2, want) == []
    assert workloads.check_tables_match(g1, want)        # batch 2 dropped
    invalid = inputs.invalid_span_ids(4, 0, 3000)
    assert workloads.check_error_rows(g2.errors, invalid) == []
    assert workloads.check_error_rows(g1.errors, invalid)


def test_analytics_checks_fail_on_corrupted_results(spark):
    from pyspark.sql import functions as F

    from sigraph_spark.operators import graphalgo

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")], "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node_id string")
    dist = graphalgo.shortest_paths(edges, seeds)
    assert workloads.check_sssp(edges, dist, "a") == []
    longer = dist.withColumn(
        "distance", F.when(F.col("node_id") == "e", F.col("distance") + 1)
        .otherwise(F.col("distance")))
    assert workloads.check_sssp(edges, longer, "a")
    assert workloads.check_sssp(edges, dist, "b")
    core = graphalgo.kcore(edges, k=2)
    assert sorted(r["node_id"] for r in core.collect()) == ["a", "b", "c"]
    assert workloads.check_kcore(edges, core, 2) == []
    extra = core.unionByName(spark.createDataFrame([("d", 1)], core.schema))
    assert workloads.check_kcore(edges, extra, 2)
    assert workloads.check_kcore(edges, core.filter(F.col("node_id") != "a"), 2)
    assert workloads.check_kcore(edges, core.limit(0), 2)   # every node dropped


def test_kcore_reference_peels_to_the_core():
    # a 4-clique with a pendant path: the path peels away in two rounds
    clique = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    pairs = clique + [("d", "e"), ("e", "f"), ("f", "f")]
    assert workloads.kcore_nodes(pairs, 3) == set("abcd")
    assert workloads.kcore_nodes(pairs, 1) == set("abcdef")
    assert workloads.kcore_nodes(pairs, 4) == set()


def test_mapping_check_fails_on_a_duplicate_entity(spark):
    from pyspark.sql import functions as F

    from sigraph_spark.operators.linking import entity_vocab

    triples = spark.createDataFrame(
        [("Emotet", "drops", "payload.exe"), ("TrickBot", "contacts", "c2.example")],
        "actor string, verb string, object string")
    mapping = entity_vocab(triples).select("entity", F.col("entity").alias("canonical_id"))
    assert workloads.check_mapping(mapping, triples) == []
    assert workloads.check_mapping(mapping.unionByName(mapping.limit(1)), triples)


def test_pipeline_stage_fingerprints_repeat_across_passes(spark, tmp_path):
    from sigraph_spark.plans.pipeline import read_manifest

    ids = inputs.kg_page_ids(120, 0, 0.3)
    pq.write_table(inputs.zipf_pages(ids, 0.3), str(tmp_path / "pages.parquet"))
    pages = spark.read.parquet(str(tmp_path / "pages.parquet"))
    passes = []
    for p in range(2):
        workdir = str(tmp_path / f"kg{p}")
        workloads.run_pipeline(spark, pages, workdir)
        passes.append({d: read_manifest(os.path.join(workdir, d))["output_fingerprint"]
                       for d in sorted(os.listdir(workdir))})
    assert len(passes[0]) == len(workloads.PIPELINE_STAGES)
    assert passes[0] == passes[1]
