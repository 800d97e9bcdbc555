"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It pins the environment (``local[nproc]``,
a fixed driver heap, Spark scratch dirs inside the checkout, a PYTHONPATH
that lets pandas-UDF workers import the package), generates the workload's
inputs from ``--seed``, measures, checks every output, and prints a detail
line followed by one JSON result line. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` also replays the same inputs with every layer call
wrapped in a span and reports the per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("etl_daily", "catalog_mix")
DRIVER_MEMORY = "2g"
# the driver heap is pinned (initial = maximum) with a fixed young
# generation, so the JVM's resident size follows the data the run retains,
# not the collector's sizing decisions; pages are touched only when used
HEAP_OPTS = f"-Xms{DRIVER_MEMORY} -Xmn256m"
ETL_TICKERS, ETL_DAYS = 200, 2
GEN_REPEATS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_times() -> list[int]:
    """The aggregate CPU line of /proc/stat: user nice system idle iowait
    irq softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def pin_env(work: Path) -> dict:
    local = work / "spark-local"
    tmp = work / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(local),
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p),
        "TMPDIR": str(tmp),
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={tmp} -XX:-UsePerfData {HEAP_OPTS}' pyspark-shell"
        ),
    }
    os.environ.update(env)
    os.chdir(ROOT)
    sys.path.insert(0, str(ROOT))
    return env


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(spark) -> dict:
    """Driver JVM and Python high-water marks."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return {"jvm": jvm_kb / 1024.0, "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def jvm_io(spark) -> tuple[int, int]:
    """Bytes the driver JVM has read and written through system calls: its
    files, shuffle and spill, and the sockets to its Python workers and to
    this process (``rchar``/``wchar`` of /proc/<pid>/io)."""
    with open(f"/proc/{jvm_pid(spark)}/io") as fh:
        fields = dict(line.split(": ") for line in fh.read().splitlines())
    return int(fields["rchar"]), int(fields["wchar"])


def costed(spark, fn):
    """Run ``fn`` and return its result with the Spark jobs it started and
    the megabytes the JVM read and wrote meanwhile."""
    from perfbench.trace import SparkCounters

    counters, (r0, w0) = SparkCounters(spark), jvm_io(spark)
    out = fn()
    r1, w1 = jvm_io(spark)
    return out, {"spark_jobs": counters.take()["jobs"], "read_mb": (r1 - r0) / 1e6, "write_mb": (w1 - w0) / 1e6}


def median_costs(costs: list[dict]) -> dict:
    return {k: statistics.median(c[k] for c in costs) for k in costs[0]}


# ---------------------------------------------------------------------------
# etl_daily
# ---------------------------------------------------------------------------


def run_etl(spark, work: Path, seed: int, seconds: float, trace: bool, res: dict) -> None:
    from perfbench import etl
    from perfbench.trace import Tracer, self_times

    bench = etl.EtlDaily(spark, seed, ETL_TICKERS, ETL_DAYS)
    gen_s = []
    for _ in range(GEN_REPEATS):
        t, zone = timed(lambda: bench.generate(work / "landing"))
        gen_s.append(t)
    res["setup_parts"]["generate_s"] = statistics.median(gen_s)
    # no warmup: like the reference's cron job, the first run date runs in a
    # fresh session, so etl_first_day_s carries the one-time JIT and codegen

    tracer, layer = Tracer(), {}
    if trace:
        # an untraced cycle and a traced replay of its incremental dates
        first, traced = bench.run_traced_pair(zone, work / "wh", work / "wh_traced", tracer, layer)
        cycles = [first]
    else:
        cycles, costs = [], []
        t0 = time.perf_counter()
        while not cycles or time.perf_counter() - t0 < seconds:
            cyc, cost = costed(spark, lambda: bench.run_cycle(zone, work / "wh"))
            cycles.append(cyc)
            costs.append(cost)
        res["metrics"].update(median_costs(costs))
    for cyc in cycles + ([traced] if trace else []):
        res["attempted"] += cyc.ops
        res["failed"] += cyc.failed
        res["problems"] += cyc.problems
    problems = bench.check_final(zone, work / "wh")
    res["attempted"] += len(etl.landing.TABLES)
    res["failed"] += len(problems)
    res["problems"] += problems
    first = cycles[0]
    incr = [d for c in cycles for d in c.day_s[1:]]
    day_wall = sum(sum(c.day_s) for c in cycles)
    res["detail"].update(
        landed_rows_per_cycle=zone.landed_rows,
        landed_files_per_cycle=sum(d.landed_files for d in zone.days),
        files_live_per_run_date=first.files_live,
        tickers=ETL_TICKERS,
        run_dates=[d.isoformat() for d in zone.dates],
        cycles=len(cycles),
        etl_first_day_s=first.day_s[0],  # the create path, in a fresh session
        etl_day_s=statistics.median(incr),
        etl_day_samples=len(incr),
        etl_pass_s=statistics.median(c.wall_s for c in cycles),
        etl_rows_per_s=zone.landed_rows * len(cycles) / day_wall,
        etl_read_s=statistics.median(r for c in cycles for r in c.read_s),
        orchestrator_stage_s={k: statistics.fmean(v) for k, v in first.stage_s.items()},
        spark_write=first.spark_write,
        spark_read=first.spark_read,
        storage=first.storage,
    )
    if not trace:
        return

    res["attempted"] += 3  # the three checks below
    differ = bench.same_warehouse(work / "wh", work / "wh_traced")
    if differ:
        res["failed"] += 1
        res["problems"].append(f"traced warehouse differs from untraced: {differ}")
    replayed = zone.days[1:]
    landed_files = sum(d.landed_files for d in replayed)
    if layer.get("sources.files_read") != landed_files:
        res["failed"] += 1
        res["problems"].append(f"sources read {layer.get('sources.files_read')} files, {landed_files} landed")
    want_promoted = sum(d.promoted for d in replayed)
    want_inactive = sum(d.marked_inactive for d in replayed)
    if (layer.get("lifecycle.promoted"), layer.get("lifecycle.marked_inactive")) != (want_promoted, want_inactive):
        res["failed"] += 1
        res["problems"].append(f"lifecycle counts {layer} want promoted {want_promoted} inactive {want_inactive}")

    spans = tracer.spans
    selfs = self_times(spans)
    by_name: dict[str, float] = {}
    for s in spans:
        by_name[s.name] = by_name.get(s.name, 0.0) + s.duration
    rows_live = sum(len(v) for v in zone.final.values())  # after the last date
    storage = traced.storage
    m = res["layers"]
    m.update({
        "sources.read_s": by_name.get("sources.read", 0.0),
        "sources.rows_read": layer.get("sources.rows_read", 0),
        "sources.files_read": layer.get("sources.files_read", 0),
        "sources.bytes_read": layer.get("sources.bytes_read", 0),
        "clean.rows_in": layer.get("clean.rows_in", 0),
        "clean.rows_out": layer.get("clean.rows_out", 0),
        "dedup.rows_dropped": layer.get("dedup.rows_in", 0) - layer.get("dedup.rows_out", 0),
        "validate.rows_quarantined": layer.get("validate.rows_quarantined", 0),
        "validate.quarantine_ratio": layer.get("validate.rows_quarantined", 0) / max(1, layer.get("validate.rows_checked", 0)),
        "hashing.prepare_s": by_name.get("hashing.prepare", 0.0),
        "merge.rows_inserted": layer.get("merge.rows_inserted", 0),
        "merge.rows_updated": layer.get("merge.rows_updated", 0),
        "merge.rows_unchanged": layer.get("merge.rows_unchanged", 0),
        "merge.rows_rewritten": layer.get("merge.rows_rewritten", 0),
        "merge.rewrite_ratio": layer.get("merge.rows_rewritten", 0)
        / max(1, layer.get("merge.rows_inserted", 0) + layer.get("merge.rows_updated", 0)),
        "merge.bytes_written": layer.get("merge.bytes_written", 0),
        "merge.files_live": sum(s["files"] for s in storage.values()),
        "merge.bytes_per_live_row": sum(s["bytes"] for s in storage.values()) / max(1, rows_live),
        "lifecycle.transition_s": by_name.get("lifecycle.transition", 0.0),
        "lifecycle.marked_inactive": layer.get("lifecycle.marked_inactive", 0),
        "lifecycle.promoted": layer.get("lifecycle.promoted", 0),
        "maintenance.snapshot_s": by_name.get("maintenance.snapshot", 0.0),
        "maintenance.purge_s": by_name.get("maintenance.purge", 0.0),
        "maintenance.partitions_dropped": layer.get("maintenance.partitions_dropped", 0),
        "orchestrator.attempts": first.attempts,
        "spark.write.jobs": first.spark_write.get("jobs", 0),
        "spark.write.stages": first.spark_write.get("stages", 0),
        "spark.write.tasks": first.spark_write.get("tasks", 0),
        "spark.read.jobs": first.spark_read.get("jobs", 0),
        "spark.read.stages": first.spark_read.get("stages", 0),
        "spark.read.tasks": first.spark_read.get("tasks", 0),
        "spark.failed_tasks": first.spark_write.get("failed_tasks", 0) + first.spark_read.get("failed_tasks", 0),
        "etl.first_day_s": first.day_s[0],
        "etl.day_s": res["detail"]["etl_day_s"],
        "etl.pass_s": res["detail"]["etl_pass_s"],
        "etl.read_s": statistics.fmean(first.read_s),
        "etl.rows_per_s": res["detail"]["etl_rows_per_s"],
        # the replayed dates, traced minus untraced
        "trace.overhead_s": sum(traced.day_s) + sum(traced.read_s) - sum(first.day_s[1:]) - sum(first.read_s[1:]),
        "trace.spans": len(spans),
    })
    for flow in ("master_sync", "daily_nav", "price_history", "static_details", "holdings"):
        m[f"clean.{flow}_s"] = by_name.get(f"clean.{flow}", 0.0)
    for flow in ("master_sync", "daily_nav"):
        m[f"validate.{flow}_s"] = by_name.get(f"validate.{flow}", 0.0)
    for table in etl.landing.TABLES:
        m[f"merge.{table}_s"] = by_name.get(f"merge.{table}", 0.0)
    stage = res["detail"]["orchestrator_stage_s"]
    for name in etl.STAGE_TABLES:
        m[f"orchestrator.{name}_s"] = stage.get(name, 0.0)
    m["orchestrator.critical_path_s"] = (
        stage["master_sync"] + stage["daily_nav"] + stage["nav_repair"]
        + max(stage["static_details"], stage["holdings"]) + stage["price_history"]
    )
    add_self_times(m, spans, selfs)
    res["spans"] = spans


# ---------------------------------------------------------------------------
# catalog_mix
# ---------------------------------------------------------------------------


def run_catalog(spark, work: Path, seed: int, seconds: float, trace: bool, res: dict) -> None:
    from perfbench import catalog
    from perfbench.trace import Tracer, self_times

    bench = catalog.CatalogMix(spark, work / "data", seed)
    gen_s = []
    for _ in range(GEN_REPEATS):
        t, _ = timed(bench.generate)
        gen_s.append(t)
    res["setup_parts"]["generate_s"] = statistics.median(gen_s)

    passes, pass_costs = [], []
    t0 = time.perf_counter()
    for order in bench.orders():
        if passes and time.perf_counter() - t0 >= seconds:
            break
        p, cost = costed(spark, lambda: bench.run_pass(order))
        passes.append(p)
        pass_costs.append(cost)
        res["attempted"] += len(order)
    # the pipeline, timed from input to a complete result
    (corpus_s, corpus_pdf), corpus_cost = costed(spark, lambda: timed(bench.run_corpus))
    if not trace:
        # the first, cold pass's results and the pipeline's against DuckDB,
        # untimed. A traced run leaves them to the untraced run of its seed
        # and checks its traced results against its untraced ones instead:
        # the checks' 10 s would take it near the 180 s limit on a busy host
        problems = bench.check_headliners(passes[0].results) + bench.check_corpus(corpus_pdf)
        res["attempted"] += len(bench.headline) + 1
        res["failed"] += len(problems)
        res["problems"] += problems
    for p in passes:
        p.results.clear()

    # one pass of the headliners plus one pipeline run
    per_pass = median_costs(pass_costs)
    res["metrics"].update({k: per_pass[k] + corpus_cost[k] for k in per_pass})
    query_s = [v for p in passes for v in p.query_s.values()]
    from perfbench.trace import summary

    res["detail"].update(
        passes=len(passes),
        catalog_query=summary(query_s),
        catalog_query_p50_s=statistics.median(query_s),
        catalog_pass_s=statistics.median(p.wall_s for p in passes),
        corpus_run_s=corpus_s,
        costs={"pass": per_pass, "corpus": corpus_cost},
        corpus_docs=catalog.COPIES * catalog.BASE_DOCS,
        corpus_drops=corpus_pdf["drop_stage"].value_counts().to_dict(),
        query_s={n: statistics.median(p.query_s[n] for p in passes) for n in bench.headline},
        spark_per_query=passes[0].spark,
    )
    if not trace:
        return

    tracer, layer = Tracer(), {}
    # the timed pass was the first; the traced queries are compared with
    # untraced runs interleaved with them. The traced pipeline run is
    # compared for its result only: a second untraced run to time it against
    # would take a traced run near the 180 s limit on a busy host
    tracer.run_id = f"{seed}:pass"
    plain, traced = bench.run_paired(passes[0].order, tracer)
    res["attempted"] += 2 * len(traced.order) + 1
    differ = [n for n in bench.headline if not bench.same_result(plain.results[n], traced.results[n])]
    if differ:
        res["failed"] += 1
        res["problems"].append(f"traced query results differ from untraced: {differ}")
    catalog.install_tracing(tracer, layer)
    tracer.run_id = f"{seed}:corpus"
    try:
        with tracer.span(f"queries.{catalog.CORPUS}") as root:
            traced_pdf = bench.run_corpus()
    finally:
        tracer.restore()
    res["attempted"] += 1
    if not bench.same_result(corpus_pdf, traced_pdf):
        res["failed"] += 1
        res["problems"].append("traced corpus result differs from untraced")
    spans = tracer.spans
    selfs = self_times(spans)
    kids = sorted((s for s in spans if s.parent == root.id), key=lambda s: s.start)
    by_name = {s.name: s for s in spans}
    edges = layer.get("similarity.lsh_edges.rows", 0)
    near_dup = int((traced_pdf["drop_stage"] == "near_dup").sum())
    m = res["layers"]
    m.update({f"queries.{n}_s": traced.query_s[n] for n in bench.headline})
    m.update({
        "catalog.query_p50_s": res["detail"]["catalog_query_p50_s"],
        "catalog.pass_s": res["detail"]["catalog_pass_s"],
        "corpus.run_s": corpus_s,
        "text.exact_s": (kids[0].start if kids else root.end) - root.start,
        "text.minhash_s": by_name["text.minhash"].duration,
        "similarity.lsh_edges_s": by_name["similarity.lsh_edges"].duration,
        "similarity.candidate_pairs": edges,
        "similarity.edge_yield": near_dup / max(1, edges),
        "graph.components_s": by_name["graph.components"].duration,
        "graph.edges": layer.get("graph.components.edges", 0),
        "graph.components": layer.get("graph.components.components", 0),
        "vectors.semantic_s": by_name["vectors.semantic"].duration,
        "dedup.drops_semantic": layer.get("vectors.semantic.rows", 0),
        "spark.read.jobs": sum(c["jobs"] for c in passes[0].spark.values()),
        "spark.read.stages": sum(c["stages"] for c in passes[0].spark.values()),
        "spark.read.tasks": sum(c["tasks"] for c in passes[0].spark.values()),
        "spark.failed_tasks": sum(c["failed_tasks"] for c in passes[0].spark.values()),
        "trace.overhead_s": traced.wall_s - plain.wall_s,
        "trace.spans": len(spans),
    })
    add_self_times(m, spans, selfs)
    res["spans"] = spans


# ---------------------------------------------------------------------------
# metrics and output
# ---------------------------------------------------------------------------

LAYERS = (
    "sources", "clean", "dedup", "validate", "hashing", "merge", "lifecycle", "maintenance",
    "orchestrator", "queries", "text", "similarity", "graph", "vectors", "etl",
)


def add_self_times(m: dict, spans, selfs: dict) -> None:
    for layer in LAYERS:
        m[f"self.{layer}_s"] = sum(selfs[s.id] for s in spans if s.name.split(".")[0] == layer)


def load_spec() -> tuple[list[str], dict, dict]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer"]], {m["name"]: m["unit"] for m in spec["per_layer"]}, spec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "fund_data_pipeline_spark" / "__init__.py").is_file():
        print(f"perfbench: no fund_data_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    names, units, spec = load_spec()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = pin_env(work)
    res = {"metrics": {}, "layers": {}, "detail": {}, "setup_parts": {}, "attempted": 0, "failed": 0, "problems": []}
    load_before, cpu_before = loadavg(), cpu_times()
    spark = None
    try:
        from fund_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.range(1).count()  # the first job pays the executor start
        res["setup_parts"]["session_s"] = time.perf_counter() - t0
        run = run_etl if args.workload == "etl_daily" else run_catalog
        run(spark, work, args.seed, args.seconds, bool(args.trace), res)
        res["metrics"]["setup_s"] = sum(res["setup_parts"].values())
        res["detail"]["peak_rss_mb"] = rss = peak_rss_mb(spark)
        res["metrics"]["peak_rss_mb"] = sum(rss.values())
    except Exception:  # noqa: BLE001 — report the crash, print no result
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        if "spans" in res:
            from perfbench.trace import Tracer

            t = Tracer()
            t.spans = res["spans"]
            t.dump(ROOT / ".perfbench_out" / f"spans-{args.workload}-{args.seed}.json")
        shutil.rmtree(work, ignore_errors=True)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "env": {
            **env,
            "nproc": nproc(),
            "loadavg_before": load_before,
            "loadavg_after": loadavg(),
            # share of CPU time the hypervisor took from this machine during
            # the run: the interference that moves every timing at once
            "cpu_steal_share": steal_share(cpu_before, cpu_times()),
        },
        "setup": res["setup_parts"],
        "ops_failed_ratio": res["failed"] / max(1, res["attempted"]),
        "problems": res["problems"][:20],
        **res["detail"],
    }
    print(json.dumps(detail, default=str))
    if args.trace:
        metrics = {n: {"value": res["layers"].get(n, 0), "unit": units[n]} for n in names}
    else:
        metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": max(1, res["attempted"]),
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
