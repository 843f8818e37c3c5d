"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload provenance --seed 0 --seconds 20 --trace 0

Run from the repository root. The run builds one SparkSession on
``local[<cpus>]``, sets up once, from cold (``setup_s``: session and JVM
start, seeded input generation and a small warm-up pass), measures
the workload (``perfbench/workloads.py``) with one client,
checks every output, and prints one line per metric followed by a last
line of JSON: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` tags every
layer call with a Spark job group, reports the per-layer metrics and
writes spans and metrics to ``.perfbench/traces/<workload>-seed<seed>.json``.

Everything the run writes stays under ``.perfbench/`` in the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
JVM_OPTS = "-XX:-UsePerfData"
WORKLOAD_NAMES = ("provenance", "web_kg")


def host_probe_s() -> float:
    """bench.py's fixed host probe (3x 2000^2 float64 matmul, seed 7),
    recorded as context only: it is never used to normalize a metric."""
    import numpy as np

    a = np.random.default_rng(7).random((2000, 2000))
    t0 = time.monotonic()
    for _ in range(3):
        a = a @ a / 1e3
    return time.monotonic() - t0


def tree_rss_bytes(procs: dict[int, tuple[int, float, int]], root: int,
                   now_s: float, min_age_s: float) -> int:
    """Resident bytes of ``root`` and its descendants. ``procs`` maps a
    pid to (ppid, start_s, rss_bytes). A descendant younger than
    ``min_age_s`` is not counted (its own descendants still are)."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in procs and (pid == root or now_s - procs[pid][1] >= min_age_s):
            total += procs[pid][2]
    return total


class RssSampler(threading.Thread):
    """Peak resident set of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc every 50 ms.

    Descendants younger than a second are left out: the ``chmod`` that
    Hadoop's local file system runs for each file it writes starts as a
    ``posix_spawn`` child sharing the JVM's memory, and /proc reports the
    JVM's whole resident set for it once more until it execs. Counting
    those children added one or two JVMs to a few runs' peaks."""

    MIN_AGE_S = 1.0

    def __init__(self, interval_s: float = 0.05):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    def _tree_rss(self) -> int:
        procs: dict[int, tuple[int, float, int]] = {}
        with open("/proc/uptime") as f:
            now_s = float(f.read().split()[0])
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # fields after the command: ppid is 4th, starttime 22nd, rss 24th
            rest = stat.rsplit(")", 1)[1].split()
            procs[int(entry)] = (
                int(rest[1]), int(rest[19]) / self._tick, int(rest[21]) * self._page,
            )
        return tree_rss_bytes(procs, os.getpid(), now_s, self.MIN_AGE_S)

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop_evt.wait(self.interval_s)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_bytes / 2**20


def prepare_env(work: str) -> None:
    """Before pyspark starts the JVM: keep every scratch file inside
    ``work`` and put the repository on the Python workers' path (pandas
    UDFs import sigraph_spark there)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the JVM's perf-data file goes to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(cpus: int, work: str, trace: bool):
    from sigraph_spark.session import build_session

    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {JVM_OPTS} -Xms2g -Xmn512m",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # keep every job, stage and SQL execution for the span join
        conf.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    spark = build_session(
        app_name="sigraph-perfbench", master=f"local[{cpus}]",
        shuffle_partitions=cpus, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


@contextmanager
def traced_plans(tracer):
    """Spans around the plan stages (``run_stage``) and the manifest
    passes (``table_fingerprint``, ``partition_lineage``) of
    ``plans/pipeline.py``, wrapped from outside the package for the
    traced run only."""
    import sigraph_spark.plans.pipeline as pipeline

    def wrap(fn, name_of):
        def traced(*args, **kwargs):
            with tracer.span(name_of(args)):
                return fn(*args, **kwargs)
        return traced

    saved = {a: getattr(pipeline, a) for a in
             ("run_stage", "table_fingerprint", "partition_lineage")}
    pipeline.run_stage = wrap(saved["run_stage"], lambda a: f"pipeline.{a[1]}")
    for attr in ("table_fingerprint", "partition_lineage"):
        setattr(pipeline, attr, wrap(saved[attr], lambda a, attr=attr: f"pipeline.{attr}"))
    try:
        yield
    finally:
        for attr, fn in saved.items():
            setattr(pipeline, attr, fn)


def manifest_cross_check(tracer, kg_dir: str) -> list[dict]:
    """Each plan stage's span against its ``_manifest.json``: the rows
    it wrote and its own wall_s, which the span must contain."""
    from sigraph_spark.plans.pipeline import read_manifest

    spans = {s.name: s for s in tracer.spans}
    out = []
    for d in sorted(os.listdir(kg_dir)) if os.path.isdir(kg_dir) else ():
        m = read_manifest(os.path.join(kg_dir, d))
        if not m:
            continue
        span = spans.get(f"pipeline.{m['stage']}")
        out.append({
            "stage": f"pipeline.{m['stage']}",
            "rows": m["rows"],
            "manifest_wall_s": m["wall_s"],
            "span_wall_s": span.wall_s if span else None,
            "consistent": span is not None and m["wall_s"] <= span.wall_s + 1e-3,
        })
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sigraph_spark", "__init__.py")):
        print(f"perfbench: no sigraph_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(STATE, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench import metrics, workloads
    from perfbench.spans import OFF, Tracer

    cpus = len(os.sched_getaffinity(0))
    wl = workloads.WORKLOADS[args.workload]
    shape = workloads.SHAPE
    paths = workloads.Paths(os.path.join(work, "data"))
    trace = bool(args.trace)

    t0 = time.monotonic()
    spark = start_session(cpus, work, trace)
    t1 = time.monotonic()
    try:
        wl.generate(spark, shape, args.seed, paths)
        t2 = time.monotonic()
        wl.warm_up(spark, args.seed, paths)
        t3 = time.monotonic()
        setup = {"session": t1 - t0, "generate": t2 - t1, "warmup": t3 - t2, "total": t3 - t0}
        probe = host_probe_s()
        tracer = Tracer(spark) if trace else OFF
        run = workloads.Run(spark, shape, args.seed, paths, tracer)
        rss = RssSampler()
        rss.start()
        with traced_plans(tracer) if trace else nullcontext():
            parts = workloads.measure(run, wl, args.seconds)
        peak_rss_mb = rss.stop()
        wl.check(run)
        layer_values, layer_units, notes = metrics.layer_end_to_end(run, args.workload)
        if trace:
            tracer.collect()
            values = metrics.per_layer(tracer, setup, wl)
            units = {n: u for n, u, _ in metrics.PER_LAYER}
            layer_values = metrics.layer_metrics(run, tracer, setup)
            layer_units = {n: metrics.unit_of(n) for n in layer_values}
        else:
            values = metrics.end_to_end(run, wl, setup["total"], peak_rss_mb)
            units = {n: u for n, u, _ in metrics.END_TO_END}
            layer_values |= {"setup_s": values["setup_s"], "peak_rss_mb": peak_rss_mb}
            layer_units |= {"setup_s": "s", "peak_rss_mb": "MB"}
    finally:
        stop_spark(spark)

    attempted = len(run.ops)
    failed = sum(not o["ok"] for o in run.ops)
    timed_s = parts.get("write", 0.0) + parts.get("read", 0.0)
    context = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "host_probe_s": round(probe, 3), "timed_s": round(timed_s, 3),
        "parts_s": {k: round(v, 3) for k, v in parts.items()},
        "setup_s": {k: round(v, 3) for k, v in setup.items()},
        "counts": {k: v for k, v in run.counts.items() if k != "write_ops"},
        "notes": notes,
    }
    if trace:
        inc = tracer.inclusive()
        top = sum(inc[s.sid]["wall_s"] for s in tracer.spans if s.parent is None)
        context["top_level_span_s"] = round(top, 3)
        context["span_coverage"] = round(top / timed_s, 4) if timed_s else None
        context["collector_s"] = round(tracer.collect_s, 3)
        context["manifests"] = manifest_cross_check(tracer, paths.kg)
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        out_path = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json")
        context["trace_file"] = os.path.relpath(out_path, ROOT)
        with open(out_path, "w") as f:
            json.dump({
                "context": context,
                "metrics": {n: {"value": values[n], "unit": units[n]} for n in values},
                "layers": {n: {"value": v, "unit": layer_units[n]}
                           for n, v in layer_values.items()},
                "spans": [
                    {"sid": s.sid, "name": s.name, "parent": s.parent,
                     "start_s": s.start, "end_s": s.end, **inc[s.sid]}
                    for s in tracer.spans
                ],
            }, f, indent=1)

    for o in run.ops:
        if not o["ok"]:
            print(f"FAILED {o['op']}: " + " | ".join(o["problems"]), file=sys.stderr)
    for name, v in layer_values.items():
        print(f"{name} = {'n/a' if v is None else f'{v:.6g}'} {layer_units[name]}")
    print(f"operations attempted = {attempted}, failed = {failed}")
    print("context " + json.dumps(context, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in values},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
