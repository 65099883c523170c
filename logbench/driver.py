"""One benchmark run of one workload, in the environment ``run.py`` pins.

Set-up (session start, input generation, warm-up) is timed as
``setup_s``. The timed phase then runs operations back to back (closed
loop, one client) until their summed latency reaches ``--seconds``, a
whole rotation of the workload's operation kinds has run and, with
``--trace 0``, at least ``MIN_SAMPLES`` latencies are in hand. Each
operation's output is checked outside its timed region.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced operations, reports per-layer numbers from the
traced ones and the tracing overhead as traced minus untraced wall
time over equal operation counts, and writes the spans as JSON lines.

The result is written as JSON to ``--out``; ``run.py`` prints it.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time
import traceback

T0 = time.perf_counter()

# a median with ten latencies beyond it on either side
MIN_SAMPLES = 21
# the timed phase ends by then (seconds after process start) even short
# of its work, so the run finishes within the launcher's timeout
DEADLINE_S = 120


def _peak_rss_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def _install_wrappers(tracer) -> None:
    """Spans around the engine's own calls into another layer's public
    functions (the benchmark's direct calls go through the same module
    attributes)."""
    from pulsar_spark.functions import dedupe, packing
    from pulsar_spark.sources import topics
    from pulsar_spark.streaming import curation

    # the package re-exports the function under the module's own name
    subscription = importlib.import_module("pulsar_spark.streaming.subscribe")
    tracer.wrap(topics, "produce", "sources.produce")
    tracer.wrap(topics, "read_topic", "sources.read_topic")
    tracer.wrap(subscription, "subscribe", "streaming.subscribe")
    tracer.wrap(curation, "curate_batch", "streaming.batch")
    tracer.wrap(dedupe, "incremental_exact_dedup", "functions.exact_dedup")
    tracer.wrap(dedupe, "commit_fingerprints", "functions.commit_exact")
    tracer.wrap(packing, "materialize_packed_shards", "functions.pack")


def layer_metrics(w, tracer, start_s: float, warmup_s: float,
                  traced_ops: list[dict], untraced_ops: list[dict]) -> dict:
    from workloads import QUERY_KINDS, count_files, parquet_bytes_and_rows

    spans = [s for s in tracer.spans if s["op"] is not None]
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur(name):
        return _mean(s["end"] - s["start"] for s in by_name.get(name, []))

    def count(name, field):
        return _mean(s[field] for s in by_name.get(name, []))

    drains = by_name.get("streaming.drain", [])
    batch_in = {d["id"]: 0.0 for d in drains}
    for b in by_name.get("streaming.batch", []):
        if b["parent"] in batch_in:
            batch_in[b["parent"]] += b["end"] - b["start"]
    state = w.state()
    topic = state["topic"]
    topic_bytes, topic_rows = parquet_bytes_and_rows(topic)
    tasks_per_op: dict[int, int] = {}
    for s in spans:
        tasks_per_op[s["op"]] = tasks_per_op.get(s["op"], 0) + s["tasks"]

    m = {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "sources.produce_s": (dur("sources.produce"), "s"),
        "sources.produce_jobs": (count("sources.produce", "jobs"), "count"),
        "sources.produce_tasks": (count("sources.produce", "tasks"), "count"),
        "sources.topic_files": (count_files(topic), "count"),
        "sources.bytes_per_row": (topic_bytes / topic_rows, "B/row"),
        "streaming.subscribe_s": (dur("streaming.subscribe"), "s"),
        "streaming.drain_s": (dur("streaming.drain"), "s"),
        "streaming.batch_s": (_mean(batch_in.values()), "s"),
        "streaming.overhead_s": (_mean(d["end"] - d["start"] - batch_in[d["id"]] for d in drains), "s"),
        "streaming.triggers": (_mean(d["triggers"] for d in drains), "count"),
        "streaming.checkpoint_files": (state.get("checkpoint_files", 0), "count"),
    }
    for kind in QUERY_KINDS:
        ops = by_name.get(f"operators.{kind}", [])
        m[f"operators.{kind}_s"] = (_mean(s["end"] - s["start"] for s in ops), "s")
        m[f"operators.{kind}_tasks"] = (_mean(tasks_per_op[s["op"]] for s in ops), "count")
    m.update({
        "functions.exact_dedup_s": (dur("functions.exact_dedup"), "s"),
        "functions.pack_s": (dur("functions.pack"), "s"),
        "functions.commit_exact_s": (dur("functions.commit_exact"), "s"),
        "functions.survivor_ratio": (state.get("survivor_ratio", 0.0), "ratio"),
        "functions.store_files": (state.get("store_files", 0), "count"),
        "spark.failed_tasks": (sum(s["failed_tasks"] for s in spans), "count"),
    })
    traced_wall = sum(o["latency"] for o in traced_ops)
    m["trace.wall_s"] = (traced_wall, "s")
    m["trace.overhead_s"] = (traced_wall - sum(o["latency"] for o in untraced_ops), "s")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def layer_table(tracer) -> str:
    """Per span name: calls, self time, jobs, tasks, failed tasks."""
    selfs = tracer.self_times()
    rows: dict[str, list] = {}
    for s in tracer.spans:
        r = rows.setdefault(s["name"], [0, 0.0, 0, 0, 0])
        r[0] += 1
        r[1] += selfs[s["id"]]
        r[2] += s["jobs"]
        r[3] += s["tasks"]
        r[4] += s["failed_tasks"]
    lines = [f"{'span':<26}{'calls':>7}{'self_s':>10}{'jobs':>7}{'tasks':>8}{'failed':>8}"]
    for name, (n, self_s, jobs, tasks, failed) in sorted(rows.items(), key=lambda kv: -kv[1][1]):
        lines.append(f"{name:<26}{n:>7}{self_s:>10.3f}{jobs:>7}{tasks:>8}{failed:>8}")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()

    from pulsar_spark import get_spark

    # a fixed, pre-touched heap: the JVM's resident size then does not
    # depend on when the collector chose to grow the heap
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    spark = get_spark(app_name=f"logbench-{args.workload}", extra_conf={
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - T0

    import workloads
    from tracer import Tracer

    tracer = Tracer(spark)
    if args.trace:
        _install_wrappers(tracer)
    w = workloads.WORKLOADS[args.workload](spark, os.path.join(os.getcwd(), "state"), args.seed, tracer)
    t = time.perf_counter()
    w.setup()
    warmup_s = time.perf_counter() - t
    setup_s = time.perf_counter() - T0

    cpu0, load0 = _cpu_times(), _loadavg()
    cycle = w.cycle * (2 if args.trace else 1)
    ops: list[dict] = []
    timed = 0.0
    while True:
        i = len(ops)
        traced = bool(args.trace) and i % 2 == 1
        tracer.active, tracer.op_id = traced, i
        errors: list[str] = []
        w.prepare(i)
        a = time.perf_counter()
        try:
            with tracer.span(w.span_name(i)):
                items = w.op(i)
        except Exception:
            traceback.print_exc()
            items, errors = 0, [f"operation {i} raised"]
        latency = time.perf_counter() - a
        tracer.active = False
        if traced:
            tracer.harvest()
        if not errors:
            errors = w.check(i)
        ops.append({"latency": latency, "items": items, "traced": traced, "errors": errors})
        timed += latency
        samples = sum(1 for o in ops if not o["traced"])
        if timed >= args.seconds and len(ops) % cycle == 0 and (args.trace or samples >= MIN_SAMPLES):
            break
        if time.perf_counter() - T0 > DEADLINE_S:
            print(f"timed phase stopped at the {DEADLINE_S} s deadline", file=sys.stderr)
            break
    cpu1, load1 = _cpu_times(), _loadavg()
    final_errors = w.final_check()
    if final_errors:
        ops[-1]["errors"] += final_errors
    for o in ops:
        for e in o["errors"]:
            print("check failed:", e, file=sys.stderr)

    failed = sum(1 for o in ops if o["errors"])
    untraced = [o for o in ops if not o["traced"]]
    if args.trace:
        tracer.dump(args.spans, T0)
        print(layer_table(tracer), file=sys.stderr)
        metrics = layer_metrics(w, tracer, start_s, warmup_s,
                                [o for o in ops if o["traced"]], untraced)
    else:
        latencies = [o["latency"] for o in untraced]
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_kb = _peak_rss_kb("self") + _peak_rss_kb(jvm_pid)
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "items_per_s": {"value": sum(o["items"] for o in untraced) / sum(latencies), "unit": "items/s"},
            "latency_p50_s": {"value": statistics.median(latencies), "unit": "s"},
            "peak_rss_mb": {"value": rss_kb / 1024, "unit": "MB"},
        }
    steal = [c1 - c0 for c0, c1 in zip(cpu0, cpu1)]
    context = {
        "workload": args.workload, "seed": args.seed, "item": w.item, "ops": len(ops),
        "latency_samples": len(untraced), "failed": failed,
        "latencies_s": [round(o["latency"], 3) for o in ops],
        "error_rate": failed / len(ops),
        "loadavg_start": load0, "loadavg_end": load1,
        "cpu_steal_share": steal[7] / max(sum(steal), 1),
    }
    print("context:", json.dumps(context), file=sys.stderr)
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
