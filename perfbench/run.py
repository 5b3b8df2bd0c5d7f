#!/usr/bin/env python3
"""Closed-loop benchmark of the sparkfraud engine.

    python3 perfbench/run.py --workload fraud_stream --seed 1 --seconds 8 --trace 0

Runs one workload (see workloads.py) in this fresh process: one client,
one op at a time, the next op starting when the previous one completes.
The engine runs on ``get_spark(cpus=nproc)``. A run is: session start
and input set-up (repeated, median reported), one cold pass, warm passes
until ``--seconds`` have passed (at least one), then the correctness
gate, the full-GC heap reading and the leak counters, all outside the
timed passes. ``--trace 1`` runs its warm passes untraced, traced, traced,
untraced and reports the per-layer numbers of the traced ones
(tracing.py).

Human-readable lines (metrics, per-pass drift report) go to stdout
first; the LAST stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` whose metrics are the
``end_to_end`` (trace 0) or ``per_layer`` (trace 1) lists of
BENCHMARK.json. Exits 2 without a result when the engine package is
not next to this directory.
"""

from __future__ import annotations

import argparse
import atexit
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "flink_fraud_detection_rocks_db_app_spark"
SETUP_REPS = 3
# warm passes per run, at least: one untraced; a traced run orders its
# warm passes untraced, traced, traced, untraced (ABBA), so the tracing
# overhead is measured free of linear warm-up drift
MIN_WARM = {0: 1, 1: 4}
UNITS = {"heap_mb": "MiB", "events_per_s": "ev/s", "batch_samples": "count", "call_samples": "count"}
TIME_CAP_S = 110.0  # run time after which no further warm pass starts


def process_start() -> float:
    """Wall-clock time this process started, read from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def percentile(values: list[float], q: float) -> float:
    s = sorted(values)
    if not s:
        return 0.0
    k = (len(s) - 1) * q
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def slope(ys: list[float]) -> float:
    """Least-squares change per pass."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, sum(ys) / n
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / sum((i - mx) ** 2 for i in range(n))


def median_of(dicts: list[dict[str, float]]) -> dict[str, float]:
    keys = sorted({k for d in dicts for k in d})
    return {k: statistics.median(d.get(k, 0.0) for d in dicts) for k in keys}


def heap_after_gc_mb(spark) -> float:
    jvm = spark._jvm
    jvm.System.gc()
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def leak_counts(spark) -> dict[str, float]:
    scratch = os.path.join(ROOT, ".scratch")
    return {
        "leak.tables": float(len(spark.catalog.listTables())),
        "leak.persisted_rdds": float(spark.sparkContext._jsc.getPersistentRDDs().size()),
        "leak.scratch_entries": float(len(os.listdir(scratch)) if os.path.isdir(scratch) else 0),
    }


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the workers write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the driver heap only has to hold this benchmark's small inputs
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run's directory is still there


def stop_spark(spark, acc) -> None:
    """Stop the session, the JVM and every process under this one."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    acc.stop()
    deadline = time.time() + 20
    while True:
        left = acc.descendants()
        if not left:
            return
        if time.time() > deadline - 10:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        if time.time() > deadline:
            return
        time.sleep(0.2)


class Runner:
    def __init__(self, args, spark, acc, wl, tracer):
        self.args, self.spark, self.acc, self.wl, self.tracer = args, spark, acc, wl, tracer
        self.run_span = tracer.begin("run", wl.name, None, seed=args.seed)

    def run_pass(self, index: int, traced: bool) -> dict:
        from procacct import steal_s

        tr = self.tracer
        tr.set_traced(traced)
        span = tr.begin("pass", f"pass{index}", self.run_span, pass_id=index, traced=traced)
        cpu0, st0 = self.acc.totals(), steal_s()
        t0 = time.perf_counter()
        calls, outputs, progress, failures = [], {}, [], []
        for op in self.wl.ops(self.spark):
            ospan = tr.begin("op", op.name, span, pass_id=index, op_kind=op.kind)
            tr.op_start(ospan)
            c0 = time.perf_counter()
            call = {"name": op.name, "kind": op.kind, "span": ospan["id"]}
            try:
                bspan = tr.begin("build", op.name, ospan, pass_id=index)
                built = op.build()
                tr.end(bspan)
                c1 = time.perf_counter()
                espan = tr.begin("exec", op.name, ospan, pass_id=index)
                progress += op.run(built)
                tr.end(espan)
                outputs[op.name] = built
                call.update(build_s=c1 - c0, exec_s=time.perf_counter() - c1)
            except Exception as e:  # a failed op is counted, not fatal
                failures.append(f"{op.name}: {type(e).__name__}: {e}"[:300])
                call["failed"] = True
            call["wall_s"] = time.perf_counter() - c0
            tr.op_end(ospan)
            tr.end(ospan)
            calls.append(call)
        wall = time.perf_counter() - t0
        cpu1 = self.acc.totals()
        steal = steal_s() - st0
        tr.end(span)
        tr.set_traced(False)
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
        return {
            "index": index, "traced": traced, "wall_s": wall, "cpu": cpu,
            # the JIT compiler threads' CPU is warm-up, not the pass's work
            "cpu_s": cpu["driver"] + cpu["jvm"] + cpu["workers"] - cpu["jit"],
            "steal_s": steal, "calls": calls,
            "outputs": outputs, "progress": progress, "failures": failures,
            "span": span["id"],
            # outside the timed pass: retained heap and leftovers
            "heap_mb": heap_after_gc_mb(self.spark), **leak_counts(self.spark),
        }


def stream_extras(passes: list[dict], progress_of) -> dict[str, float]:
    """batch_p50_s / batch_p90_s / events_per_s over the warm passes'
    micro-batches (when the workload's queries are visible)."""
    batch_s, rates = [], []
    for p in passes:
        prog = progress_of(p)
        data = [b for b in prog if b.get("numInputRows", 0) > 0]
        batch_s += [b["durationMs"].get("triggerExecution", 0) / 1000 for b in data]
        qwall = sum(c["wall_s"] for c in p["calls"] if c["kind"] == "stream")
        if data and qwall:
            rates.append(sum(b["numInputRows"] for b in data) / qwall)
    if not batch_s:
        return {}
    out = {
        "batch_p50_s": percentile(batch_s, 0.5),
        "batch_p90_s": percentile(batch_s, 0.9),
        "batch_samples": float(len(batch_s)),
    }
    if rates:
        out["events_per_s"] = statistics.median(rates)
    return out


def print_drift(passes: list[dict], untraced: list[dict]) -> None:
    """Per pass: wall, CPU by process class, steal, heap after full GC
    and leak counters; then the warm slopes and per-op times."""
    warm = passes[1:]
    print("drift: pass traced wall_s cpu_s (driver jvm workers jit) steal_s heap_mb tables rdds scratch")
    for p in passes:
        cpu = p["cpu"]
        print(f"  {p['index']:>4} {int(p['traced']):>6} {p['wall_s']:7.3f} {p['cpu_s']:7.3f} "
              f"({cpu['driver']:6.2f} {cpu['jvm']:6.2f} {cpu['workers']:6.2f} {cpu['jit']:6.2f}) "
              f"{p['steal_s']:7.3f} {p['heap_mb']:8.1f} {p['leak.tables']:6.0f} "
              f"{p['leak.persisted_rdds']:4.0f} {p['leak.scratch_entries']:7.0f}")
    print(f"  slope/warm pass: pass_s {slope([p['wall_s'] for p in warm]):+.4f} s, "
          f"cpu_s {slope([p['cpu_s'] for p in warm]):+.4f} s, "
          f"heap_mb {slope([p['heap_mb'] for p in warm]):+.2f} "
          f"(0 with one warm pass); run steal {sum(p['steal_s'] for p in passes):.3f} s")
    print("ops: name cold_s warm_median_s")
    for i, c in enumerate(passes[0]["calls"]):
        warm_s = [p["calls"][i]["wall_s"] for p in untraced if not p["calls"][i].get("failed")]
        print(f"  {c['name']:<44} {c['wall_s']:7.3f} {statistics.median(warm_s or [0.0]):7.3f}")


def traced_layers(tracer, traced: list[dict], event_dir: str) -> dict[str, float]:
    """Per-layer numbers of each traced warm pass, medians over them."""
    from tracing import progress_layers

    exec_by_op = tracer.read_event_log(event_dir)
    tracer.add_query_spans()

    def progress_of(p: dict, kinds: tuple[str, ...]) -> list[dict]:
        ids = {c["span"] for c in p["calls"] if c["kind"] in kinds}
        return [b for b in tracer.progress if tracer.query_op.get(b["runId"]) in ids]

    per_pass = []
    for p in traced:
        ids = {c["span"] for c in p["calls"]}
        faces = [c for c in p["calls"] if c["kind"] == "face"]
        reg = [c for c in p["calls"] if c["kind"] in ("face", "registry")]
        face_ids = {c["span"] for c in faces}
        qspans = [s for s in tracer.spans if s["kind"] == "query" and s["op_id"] in face_ids]
        layer = progress_layers(progress_of(p, ("stream", "face")))
        layer.update({
            "op.build_s": sum(c.get("build_s", 0.0) for c in p["calls"]),
            "op.exec_s": sum(c.get("exec_s", 0.0) for c in p["calls"]),
            "registry.build_s": sum(c.get("build_s", 0.0) for c in reg),
            "registry.exec_s": sum(c.get("exec_s", 0.0) for c in reg),
            "streamface.call_s": sum(c["wall_s"] for c in faces),
            "streamface.query_s": sum(s["t1"] - s["t0"] for s in qspans),
            "proc.driver_py_cpu_s": p["cpu"]["driver"],
            "proc.jvm_cpu_s": p["cpu"]["jvm"],
            "proc.py_workers_cpu_s": p["cpu"]["workers"],
            "proc.jit_cpu_s": p["cpu"]["jit"],
            "proc.steal_s": p["steal_s"],
        })
        layer["streamface.overhead_s"] = layer["streamface.call_s"] - layer["streamface.query_s"]
        for key in ("jobs", "stages", "tasks"):
            layer[f"exec.{key}"] = float(sum(tracer.spans[i].get(key, 0) for i in ids))
        for i in ids:
            for k, v in exec_by_op.get(i, {}).items():
                layer[k] = layer.get(k, 0.0) + v
        per_pass.append(layer)
    layers = median_of(per_pass)
    # the direct stream queries only, as in an untraced run
    layers.update(stream_extras(traced, lambda p: progress_of(p, ("stream",))))
    return layers


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0, help="engine cores (default: nproc)")
    args = ap.parse_args(argv)
    t_proc = process_start()

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: engine package {PKG!r} not found next to {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    # registered first, so it runs after every other exit handler
    atexit.register(remove_work, work)
    isolate(work)

    from procacct import ProcAccountant
    from tracing import Tracer
    from workloads import WORKLOADS

    from flink_fraud_detection_rocks_db_app_spark.session import get_spark, rocksdb_tuning

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = args.cpus or len(os.sched_getaffinity(0))
    acc = ProcAccountant().start()
    wl = WORKLOADS[args.workload](args.seed, work)
    conf = {
        **rocksdb_tuning(),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_dir,
        })

    t0 = time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        ready = time.time()
        session_start_s = ready - t0
        prep = []
        for rep in range(SETUP_REPS):
            p0 = time.perf_counter()
            wl.prepare(spark, rep)
            prep.append(time.perf_counter() - p0)
        setup_s = (ready - t_proc) + statistics.median(prep)

        tracer = Tracer(spark, acc)
        runner = Runner(args, spark, acc, wl, tracer)
        leaks0 = leak_counts(spark)
        passes = [runner.run_pass(0, traced=bool(args.trace))]
        t_meas = time.perf_counter()
        while True:
            i = len(passes)
            passes.append(runner.run_pass(i, traced=bool(args.trace) and i % 4 in (2, 3)))
            n_warm = len(passes) - 1
            if n_warm >= MIN_WARM[args.trace] and time.perf_counter() - t_meas >= args.seconds:
                break
            # on a slow host, stop early: one warm pass, or one untraced
            # and one traced, keeps the run inside its time limit
            if n_warm >= 1 + args.trace and time.time() - t_proc > TIME_CAP_S:
                break
        g0 = time.perf_counter()
        checks = wl.gate(spark, passes[-1]["outputs"])
        gate_s = time.perf_counter() - g0
        heap_mb = heap_after_gc_mb(spark)
        leaks = {k: v - leaks0[k] for k, v in leak_counts(spark).items()}
        tracer.end(runner.run_span)
        if args.trace:
            tracer.drain()
    finally:
        s0 = time.perf_counter()
        stop_spark(spark, acc)
        stop_s = time.perf_counter() - s0

    warm = passes[1:]
    untraced = [p for p in warm if not p["traced"]] or warm
    traced = [p for p in warm if p["traced"]]
    failures = [f for p in passes for f in p["failures"]]
    failures += [f"gate {n}: {why}" for n, why in checks.items() if why]
    attempted = sum(len(p["calls"]) for p in passes) + len(checks)
    ok_calls = [c["wall_s"] for p in untraced for c in p["calls"] if not c.get("failed")]

    e2e = {
        "setup_s": setup_s,
        "first_pass_s": passes[0]["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in untraced),
        "call_p50_s": percentile(ok_calls, 0.5),
        "call_p90_s": percentile(ok_calls, 0.9),
        "call_samples": float(len(ok_calls)),
        "cpu_s": statistics.median(p["cpu_s"] for p in untraced),
        "heap_mb": heap_mb,
    }
    e2e.update(stream_extras(untraced, lambda p: p["progress"]))

    print(f"perfbench {wl.name} seed={args.seed} cpus={cpus} trace={args.trace}: "
          f"{len(warm)} warm passes, ops {[c['name'] for c in passes[0]['calls']]}")
    print(f"  session.start_s {session_start_s:.3f}  setup reps {[round(x, 3) for x in prep]}  "
          f"gate {gate_s:.3f} s  stop {stop_s:.3f} s  total {time.time() - t_proc:.1f} s")
    for k, v in e2e.items():
        print(f"  {k:<16} {v:.4f} {UNITS.get(k, 's')}")
    print_drift(passes, untraced)
    for f in failures:
        print(f"  FAILED {f}")

    if args.trace:
        layers = traced_layers(tracer, traced, event_dir)
        layers.update(leaks)
        layers.update({
            "session.start_s": session_start_s,
            "replay.write_s": wl.info.get("replay.write_s", 0.0),
            "replay.rows": wl.info.get("replay.rows", 0.0),
            "trace.overhead_s": statistics.median(p["wall_s"] for p in traced)
            - statistics.median(p["wall_s"] for p in untraced),
        })
        spans_path = os.path.join(ROOT, ".perfbench_out", f"spans-{wl.name}-seed{args.seed}.json")
        tracer.write(spans_path)
        print(f"per-layer (median of {len(traced)} traced warm passes; spans in {spans_path}):")
        for k, v in sorted(layers.items()):
            print(f"  {k:<36} {v:.4f}")
        wanted, values = spec["per_layer"], layers
    else:
        wanted, values = spec["end_to_end"], e2e

    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
