"""Benchmark of the rollup engine: one seeded workload per invocation.

    python3 perfbench/run.py --workload {tick,query} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, from a separate traced run
whose spans go to ``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
#: Stop starting ops after this long, whatever the pass boundary, so a run
#: always ends well inside its time limit.
HARD_STOP_S = 90.0
#: Input generation is repeated this many times; setup_s counts the median.
PREPARE_REPS = 3
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
#: Spark runs on local[min(CORES, usable cores)] with a fixed DRIVER_HEAP heap.
CORES = 4
DRIVER_HEAP = "2g"
#: Spark counters reported as per-layer metrics ``<layer>.<counter>``.
#: Failed tasks, spills, GC time (the heap is collected between passes, so a
#: span rarely sees a collection) and lineage's shuffle read 0 on every run
#: of correct code at these sizes; they are left out here and kept in the
#: trace side file.
_COUNTERS = ("tasks", "executor_cpu_s", "shuffle_write_bytes")
LAYER_COUNTERS = {
    "pipeline": _COUNTERS, "resample": _COUNTERS, "gorilla": _COUNTERS,
    "lineage": ("tasks", "executor_cpu_s"), "table": _COUNTERS, "grid": _COUNTERS,
    "gapfill": _COUNTERS, "outliers": _COUNTERS,
}
#: Spans whose summed duration per op is the per-layer metric ``<span>_s``.
TIMED_SPANS = (
    "pipeline.date_discovery", "pipeline.readback", "resample.rollup",
    "resample.reaggregate", "gorilla.pack", "gorilla.unpack", "lineage.pending",
    "lineage.commit", "table.expire", "grid.gridded", "grid.gap_table",
    "gapfill.cascade", "outliers.zscore", "outliers.hampel",
)


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def tail(latencies: list[float], p50: float) -> tuple[float, str]:
    """The highest of TAIL_PERCENTILES with at least ten samples beyond it
    (``p50`` when that is the one); with fewer than 20 samples no percentile
    qualifies and the maximum is reported."""
    n = len(latencies)
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            if p == 50:
                return p50, "p50"
            q = statistics.quantiles(latencies, n=100, method="inclusive")[p - 1]
            return q, f"p{p}"
    return max(latencies), "max"


def _by_kind(ops: list[dict], cycle: int) -> dict[int, list[float]]:
    """Latencies grouped by op kind (the op's place in the rotation)."""
    out: dict[int, list[float]] = {}
    for o in ops:
        out.setdefault(o["index"] % cycle, []).append(o["latency_s"])
    return out


def end_to_end(setup_s: float, ops: list[dict], cycle: int, peak_rss_mb: float) -> dict:
    ok = [o for o in ops if o["ok"]]
    if not ok:
        return {}
    lat = [o["latency_s"] for o in ok]
    kind_medians = [statistics.median(v) for v in _by_kind(ok, cycle).values()]
    # every kind runs equally often, so the mix's median op is the median of
    # the kinds' medians; taken over all samples it would fall between the
    # extreme samples of two kinds and jump with either
    p50 = statistics.median(kind_medians)
    return {
        "setup_s": setup_s,
        # the timed section per pass (one op of each kind in the rotation)
        "wall_s": sum(lat) * cycle / len(ok),
        "tokens_per_s": sum(o["tokens"] for o in ok) / sum(lat),
        "op_p50_s": p50,
        "op_tail_s": tail(lat, p50)[0],
        "peak_rss_mb": peak_rss_mb,
        "stored_bytes_per_raw_byte": statistics.median(o["counters"]["stored_ratio"] for o in ok),
    }


def _per_op_layer_values(tracer, op: dict) -> dict:
    """Per-layer values of one traced op; a key is present only when the op
    exercised that layer."""
    spans = [s for s in tracer.spans if s.op == op["index"]]
    v: dict[str, float] = {}

    def add(key, x):
        v[key] = v.get(key, 0.0) + x

    for s in spans:
        if s.name in TIMED_SPANS:
            add(f"{s.name}_s", s.dur)
        if s.attrs.get("kind") == "write":
            add("pipeline.write_s", s.dur)
            add("pipeline.write_files", s.attrs.get("files", 0))
        if s.name == "pipeline.run":
            add("pipeline.self_s", tracer.self_time(s))
        elif s.name == "resample.rollup":
            add("pipeline.batches", 1)
            add("resample.shuffle_bytes", s.spark["shuffle_write_bytes"])
            v["resample.task_skew"] = max(v.get("resample.task_skew", 0.0), s.spark["skew"])
        elif s.name == "lineage.pending":
            add("lineage.rows_scanned", s.spark["input_records"])
        layer = s.name.split(".", 1)[0]
        for k in LAYER_COUNTERS.get(layer, ()):
            add(f"{layer}.{k}", s.spark[k])

    c = op["counters"]
    if "gorilla.pack_s" in v and c.get("packed_bytes"):
        v["gorilla.pack_points_per_s"] = c["packed_points"] / v["gorilla.pack_s"]
        v["gorilla.compression_ratio"] = c["packed_raw_bytes"] / c["packed_bytes"]
    if "gorilla.unpack_s" in v and "unpack_points" in c:
        v["gorilla.unpack_points_per_s"] = c["unpack_points"] / v["gorilla.unpack_s"]
    if "table.expire_s" in v:
        v["table.expire_bytes_rewritten"] = c["expire_bytes_rewritten"]
    if "grid_slots" in c:
        v["grid.slots"] = c["grid_slots"]
        v["grid.missing_frac"] = c["grid_missing"] / c["grid_slots"]
    if "fill_missing" in c:
        v["gapfill.filled_frac"] = c["filled"] / c["fill_missing"] if c["fill_missing"] else 1.0
        v["halo.dup_frac"] = c["halo_dup_frac"]
    if "flagged" in c:
        add("outliers.flagged", c["flagged"])
    return v


def per_layer(tracer, ops: list[dict], cycle: int, session_s: float) -> dict:
    """Each per-layer metric is its median over the traced ops that exercised
    the layer (0 when no op did); trace.overhead_s is the median traced pass
    minus the median untraced pass."""
    traced = [o for o in ops if o["traced"] and o["ok"]]
    per_op = [_per_op_layer_values(tracer, o) for o in traced]
    keys = {k for v in per_op for k in v}
    out = {k: statistics.median(v[k] for v in per_op if k in v) for k in keys}
    out["session.start_s"] = session_s

    def pass_median(flag):
        walls = [
            sum(o["latency_s"] for o in ops[i:i + cycle])
            for i in range(0, len(ops) - cycle + 1, cycle)
            if all(o["ok"] and o["traced"] == flag for o in ops[i:i + cycle])
        ]
        return statistics.median(walls) if walls else None

    on, off = pass_median(True), pass_median(False)
    if on is not None and off is not None:
        out["trace.overhead_s"] = on - off
        out["trace.overhead_frac"] = (on - off) / off
    return out


def start_session(work: str):
    from diive_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    cores = min(CORES, len(os.sched_getaffinity(0)))
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a heap of fixed size, so op times do not depend on how far the
        # collector has grown it; no hsperfdata file, JVM scratch files
        # inside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and its JVM, then wait until every process the session
    started (the JVM, the PySpark daemon, its Python workers) has exited."""
    from pyspark import SparkContext

    import host

    started = host.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(Exception):  # the JVM may be gone already
            gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    host.wait_exited(started)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import host
    import spans as tr
    from workloads import WORKLOADS

    run_tag = f"{workload}-s{seed}-t{int(trace)}"
    work = os.path.join(ROOT, ".perfbench_work", f"{run_tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "load1_start": os.getloadavg()[0], "cpu_control_start_s": host.cpu_control_s()}

    spark = None
    try:
        t_setup = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t_setup

        wl = WORKLOADS[workload](spark, work, seed)
        prep = []
        for _ in range(PREPARE_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        tracer = tr.Tracer(spark) if trace else tr.NullTracer()
        wl.warmup(tr.NullTracer())
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(prep) + warmup_s

        ops = []
        min_ops = wl.cycle * max(wl.min_passes, 2 if trace else 1)
        max_ops = wl.cycle * wl.max_passes if wl.max_passes else None
        with host.PeakMemory(spark) as mem:
            mem.settle()
            t_run = time.perf_counter()
            while True:
                elapsed = time.perf_counter() - t_run
                n = len(ops)
                if elapsed >= HARD_STOP_S or n == max_ops or (
                        n >= min_ops and n % wl.cycle == 0 and elapsed >= seconds):
                    break
                traced = trace and (n // wl.cycle) % 2 == 0
                o = {"index": n, "traced": traced}
                op_tracer = tracer if traced else tr.NullTracer()
                t0 = time.perf_counter()
                try:
                    with tr.instrument(tracer) if traced else contextlib.nullcontext(), \
                            op_tracer.op(n):
                        t0 = time.perf_counter()
                        out = wl.op(n, op_tracer)
                        o["latency_s"] = time.perf_counter() - t0
                    problems = wl.gate(out)
                    counters = wl.counters(out, traced)
                except Exception as exc:  # an op or gate that raises fails the op
                    o.setdefault("latency_s", time.perf_counter() - t0)
                    o.update(ok=False, problems=[f"{type(exc).__name__}: {exc}"[:500]])
                    ops.append(o)
                    break
                o.update(ok=not problems, problems=problems[:5], tokens=out["tokens"],
                         counters=counters)
                ops.append(o)
                if len(ops) % wl.cycle == 0:
                    mem.settle()
        record.update(session_s=session_s, prepare_s=prep, warmup_s=warmup_s,
                      setup_s=setup_s, ops=ops, peak_mem_parts_mb=mem.peaks_mb,
                      load1_end=os.getloadavg()[0], cpu_control_end_s=host.cpu_control_s())
        if trace:
            metrics = per_layer(tracer, ops, wl.cycle, session_s)
            tracer.dump(os.path.join(ROOT, ".perfbench_out", f"trace-{run_tag}.json"),
                        {"run": {k: v for k, v in record.items() if k != "ops"}})
        else:
            metrics = end_to_end(setup_s, ops, wl.cycle, mem.peak_mb)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(work))

    record["metrics"] = metrics
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"run-{run_tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    return record


def result_line(record: dict, trace: bool) -> dict:
    """The final JSON object. Every declared metric is printed, in its
    declared unit; a layer no op exercised reads 0."""
    declared = declared_metrics(trace)
    measured = record["metrics"]
    unknown = set(measured) - set(declared)
    if unknown:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    ops = record["ops"]
    failed = sum(not o["ok"] for o in ops)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {name: {"value": float(measured.get(name, 0.0)), "unit": unit}
                    for name, unit in declared.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("tick", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(1, ROOT)
    import diive_spark  # the engine under test must come from this checkout

    if os.path.dirname(os.path.dirname(os.path.abspath(diive_spark.__file__))) != ROOT:
        raise SystemExit(f"diive_spark imported from {diive_spark.__file__}, not {ROOT}")

    record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    line = result_line(record, bool(args.trace))
    ops = record["ops"]
    lat = [o["latency_s"] for o in ops if o["ok"]]
    if lat:
        _, which = tail(lat, 0.0)
        print(f"# {args.workload} seed={args.seed}: {len(ops)} ops, {line['failed']} failed, "
              f"op_tail_s={which} of n={len(lat)}, load1 {record['load1_start']:.2f}"
              f"->{record['load1_end']:.2f}, cpu control {record['cpu_control_start_s']:.3f}"
              f"->{record['cpu_control_end_s']:.3f} s")
    for o in ops:
        if o["problems"]:
            print(f"# op {o['index']} failed: {o['problems']}", file=sys.stderr)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
