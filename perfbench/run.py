"""Repository benchmark: one client drives the engine's public API.

    python3 perfbench/run.py --workload olap_dsl --seed 1 --seconds 20 --trace 0

Each run starts a fresh process, session and scratch area, performs the
workload's warm pass (counted in ``setup_s``), then measures a fixed
number of whole rounds of ops: about ``--seconds`` worth on the code
that defined the benchmark, the same count however fast the engine is.
Every op's output is checked. Stdout carries one detail line (every
metric the run can give, with units and sample counts) and, last, the
result line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the ``end_to_end`` set of BENCHMARK.json with
``--trace 0`` and the ``per_layer`` set with ``--trace 1``. See
README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import workloads as W  # noqa: E402
from perfbench.tracing import NullTracer, Tracer, median_or_zero, tree_bytes  # noqa: E402

SCRATCH = ROOT / ".scratch" / "perfbench"


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's clocks."""
    start_ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine: time the hypervisor gave
    this machine's CPUs to someone else, a cause of run-to-run noise."""
    ticks = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return ticks[7], sum(ticks)


def data_dir() -> Path:
    """The sf0.1 tables, beside the engine's default sf0.001 catalog."""
    from hustle_spark.settings import DEFAULTS

    return Path(DEFAULTS["catalog_root"]).with_name("sf0.1")


def isolate(work: Path) -> None:
    """Point every scratch path of the engine, Spark and Python at
    ``work`` so each run starts from the same empty state inside the
    checkout: the registry's export caches and the streaming runner's
    run directories persist across processes otherwise, and the engine
    names both by absolute paths of its own. If either path is no
    longer where this expects it, the run stops rather than let engine
    scratch pile up unmeasured."""
    from hustle_spark import registry
    from hustle_spark.streaming import windows

    if not isinstance(getattr(registry, "SCRATCH", None), str):
        raise RuntimeError("perfbench: hustle_spark.registry.SCRATCH is gone; update isolate()")
    stream_runs = str(Path(registry.SCRATCH).parent / "stream_runs")
    code = windows.run_streaming_batch.__code__
    if stream_runs not in code.co_consts:
        raise RuntimeError(f"perfbench: run_streaming_batch no longer writes under {stream_runs}; "
                           "update isolate()")
    registry.SCRATCH = str(work / "registry")
    # run_streaming_batch pins its run directory as a literal; rebind it
    windows.run_streaming_batch.__code__ = code.replace(co_consts=tuple(
        str(work / "stream_runs") if c == stream_runs else c for c in code.co_consts))
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = None


def start_session(work: Path):
    import hustle_spark as h

    cores = len(os.sched_getaffinity(0))
    return h.get_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        },
    )


def peak_rss_mb(spark) -> float:
    """The Spark JVM plus this Python process, each at its high-water mark."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def hwm_kb(pid) -> int:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
        return 0

    return (hwm_kb(jvm_pid) + hwm_kb("self")) / 1024


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


@dataclass
class Record:
    index: int
    op: W.Op
    latency_s: float
    ok: bool


def run_op(op: W.Op, workload, tracer, index: int | None) -> Record:
    """Time ``op.run``, then check its output; any exception or wrong
    output makes the op failed. ``index`` None marks a warm-pass op."""
    if index is not None:
        tracer.begin_op(index, op.label)
    t0 = time.perf_counter()
    try:
        result, error = op.run(tracer), None
    except Exception as exc:  # an op that raises is a failed op, not a crash
        result, error = None, exc
    latency = time.perf_counter() - t0
    try:
        ok = error is None and bool(op.check(result))
    except Exception as exc:
        ok, error = False, exc
    if not ok:
        why = "".join(traceback.format_exception_only(error)).strip() if error else "wrong output"
        print(f"perfbench: op {op.label} failed: {why[:500]}", file=sys.stderr)
    workload.after_op(op)
    if index is not None:
        tracer.end_op(index)
    return Record(index if index is not None else -1, op, latency, ok)


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples above it, when
    that percentile is not below the median."""
    n = len(values)
    if n < 20:
        return None
    return {"value": sorted(values)[n - 11], "percentile": round(100 * (n - 10) / n, 1), "n": n}


def end_to_end(records: list[Record], setup_s: float, rss_mb: float, workload) -> dict:
    """Every end-to-end number the run can give, with sample counts."""

    def lat(*kinds):
        return [r.latency_s for r in records if r.op.kind in kinds]

    busy = sum(r.latency_s for r in records)
    reads = lat("query", "lookup")
    out = {
        "setup_s": {"value": setup_s, "unit": "s", "n": 1},
        "query_p50_s": {"value": median_or_zero(reads), "unit": "s", "n": len(reads)},
        "ops_per_s": {"value": len(records) / busy if busy else 0.0, "unit": "1/s", "n": len(records)},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB", "n": 1},
        "failed_frac": {"value": sum(not r.ok for r in records) / max(len(records), 1),
                        "unit": "ratio", "n": len(records)},
    }
    if tail(reads):
        out["query_tail_s"] = {**tail(reads), "unit": "s"}
    if lat("query"):
        out["queries_per_s"] = {"value": len(lat("query")) / sum(lat("query")), "unit": "1/s",
                                "n": len(lat("query"))}
    if lat("insert"):
        ins = lat("insert")
        out["insert_p50_s"] = {"value": statistics.median(ins), "unit": "s", "n": len(ins)}
        if tail(ins):
            out["insert_tail_s"] = {**tail(ins), "unit": "s"}
        rows = sum(r.op.info["rows"] for r in records if r.op.kind == "insert" and r.ok)
        out["ingest_rows_per_s"] = {"value": rows / busy, "unit": "rows/s", "n": len(records)}
        for kind in ("compact", "stream"):
            out[f"{kind}_p50_s"] = {"value": statistics.median(lat(kind)), "unit": "s",
                                    "n": len(lat(kind))}
    out.update(workload.detail())
    return out


def per_layer(records: list[Record], tracer: Tracer, work: Path) -> dict:
    """Per-layer numbers from the traced run (0 where a layer is unused)."""
    ops = {r.index: r for r in records}
    reads = [i for i, r in ops.items() if r.op.kind in ("query", "lookup")]

    def med(layer, among=None):
        per = tracer.per_op(layer)
        return median_or_zero(v for i, v in per.items() if among is None or i in among)

    def spans(layer):
        return tracer.timed_spans(layer)

    def plan_mean(key):
        return sum(tracer.op_plan.get(i, {}).get(key, 0) for i in reads) / max(len(reads), 1)

    def spark_mean(key):
        return sum(tracer.op_spark.get(i, {}).get(key, 0.0) for i in ops) / max(len(ops), 1)

    table = spans("catalog.table")
    inserts = [i for i, r in ops.items() if r.op.kind == "insert"]
    written = sum(s.info.get("bytes_after", 0) - s.info.get("bytes_before", 0)
                  for s in spans("catalog.append"))
    written += sum(s.info.get("bytes_after", 0) for s in spans("catalog.compact"))
    json_in = sum(ops[i].op.info["json_bytes"] for i in inserts)
    release = spans("util.release_all_persistent")
    busy = sum(r.latency_s for r in records)
    cores = len(os.sched_getaffinity(0))
    m = {
        "session.get_session_s": tracer.setup_total("session.get_session"),
        "catalog.connect_s": sum(s.end - s.start for s in tracer.spans if s.layer == "catalog.connect"),
        "registry.build_s": med("registry.build"),
        "spark.action_s": med("spark.action", reads),
        "dsl.select_s": med("dsl.select"),
        "dsl.select_calls": len(spans("dsl.select")) / max(len(reads), 1),
        "spark.plan_s": med("spark.plan", reads),
        "spark.plan_exchanges": plan_mean("exchanges"),
        "spark.plan_python_evals": plan_mean("python_evals"),
        "catalog.table_s": med("catalog.table"),
        "catalog.table_calls": len(table) / max(len(ops), 1),
        "catalog.table_hit_ratio": sum(s.info.get("hit", False) for s in table) / len(table) if table else 0.0,
        "catalog.data_files": median_or_zero(s.info.get("files", 0) for s in table),
        "insert.s": med("insert"),
        "insert.rows": sum(s.info.get("rows", 0) for s in spans("insert")) / max(len(spans("insert")), 1),
        "insert.jobs_per_call": sum(tracer.op_spark.get(i, {}).get("jobs", 0) for i in inserts) / max(len(inserts), 1),
        "catalog.append_s": med("catalog.append"),
        "catalog.compact_s": med("catalog.compact"),
        "catalog.delete_partitions_s": med("catalog.delete_partitions"),
        "catalog.bytes_written_per_input_byte": written / json_in if json_in else 0.0,
        "streaming.run_streaming_batch_s": med("streaming.run_streaming_batch"),
        "streaming.scratch_bytes_left": tree_bytes(work / "stream_runs"),
        "util.release_all_persistent_s": median_or_zero(s.end - s.start for s in release),
        "util.blocks_released": sum(s.info.get("released", 0) for s in release) / len(release) if release else 0.0,
    }
    for family in ("operators.dedup", "operators.similarity", "operators.retrieval", "functions.text",
                   "operators.asof", "operators.sessionize"):
        m[f"{family}_s"] = med("spark.action", {i for i, r in ops.items() if r.op.family == family})
    for key in ("jobs", "stages", "tasks", "tasks_failed", "executor_run_s", "executor_cpu_s", "gc_s",
                "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{key}"] = spark_mean(key)
    m["spark.core_busy_ratio"] = spark_mean("executor_run_s") * len(ops) / (busy * cores) if busy else 0.0
    m["jvm.heap_used_peak_mb"] = max((c.get("heap_peak_mb", 0.0) for c in tracer.op_spark.values()), default=0.0)
    return m


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def result_line(records, e2e: dict, layers: dict | None, spec: dict) -> dict:
    failed = sum(not r.ok for r in records)
    if layers is None:
        metrics = {m["name"]: {"value": e2e[m["name"]]["value"], "unit": m["unit"]} for m in spec["end_to_end"]}
    else:
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    return {"correct": failed == 0 and bool(records), "attempted": len(records), "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = load_spec()

    import hustle_spark as h  # a checkout without the engine fails here
    from perfbench.digest import load_pins
    from perfbench.inputs import EventBatches

    sf = data_dir()
    if not (sf / "events.parquet").is_file():
        print(f"perfbench: no sf0.1 tables at {sf}", file=sys.stderr)
        return 2
    work = SCRATCH / "run"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    isolate(work)
    tracer = Tracer() if args.trace else NullTracer()
    tracer.install(h)
    spark = tracer.spark = start_session(work)
    try:
        if args.workload == "ingest_append":
            batches = EventBatches(sf / "events.parquet", SCRATCH / "inputs", args.seed)
            workload = W.IngestWorkload(h, spark, work, batches, args.seed)
        else:
            workload = W.RegistryWorkload(args.workload, spark, sf, args.seed, load_pins())
        for op in workload.warm():
            run_op(op, workload, tracer, None)
        setup_s = process_age_s() - workload.gen_s

        records: list[Record] = []
        ticks0 = cpu_ticks()
        for _ in range(W.rounds_for(args.workload, args.seconds)):
            for op in workload.round():
                records.append(run_op(op, workload, tracer, len(records)))
        stolen, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        e2e = end_to_end(records, setup_s, peak_rss_mb(spark), workload)
        e2e["host_steal_share"] = {"value": stolen / total if total else 0.0, "unit": "ratio",
                                   "n": len(records)}
        layers = per_layer(records, tracer, work) if args.trace else None
    finally:
        shutdown(spark)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "end_to_end": e2e, **({"per_layer": layers} if layers else {})}))
    print(json.dumps(result_line(records, e2e, layers, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
