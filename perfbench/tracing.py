"""Traced runs: per-layer numbers and spans.

A traced pass adds four probes to the untraced loop:

- a ``StreamingQueryListener`` that keeps every progress event, also
  of the queries replay faces start inside their builder call;
- ``setJobGroup`` per op, with ``statusTracker`` counting the jobs,
  stages and tasks of the op (a streaming query's jobs carry the
  query's run id as their group, so those are counted too);
- a /proc CPU split per op;
- the Spark event log, on for the whole traced session, read with the
  stdlib after the session stops for task CPU, GC, spill and shuffle.

Spans form ``run -> pass -> op -> build/exec`` and ``op -> query ->
batch``; they share the op's id, stay in memory and are written once
at the end. A span's self time is its time minus the union of its
children's intervals.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

PHASES = (
    ("latestOffset", "stream.latest_offset_ms"),
    ("getBatch", "stream.get_batch_ms"),
    ("queryPlanning", "stream.planning_ms"),
    ("addBatch", "stream.add_batch_ms"),
    ("walCommit", "stream.wal_commit_ms"),
    ("commitOffsets", "stream.commit_offsets_ms"),
)


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _Recorder(StreamingQueryListener):
    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onQueryStarted(self, event) -> None:  # noqa: N802
        # called synchronously inside start(), so the active op is known
        self.tracer.query_started(str(event.runId))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self.tracer.lock:
            self.tracer.progress.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


class Tracer:
    def __init__(self, spark, acc):
        self.spark, self.acc = spark, acc
        self.lock = threading.Lock()
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.query_op: dict[str, int] = {}  # run id -> op span id
        self.op_queries: dict[int, list[str]] = {}
        self.current_op: dict | None = None
        self.listener = _Recorder(self)
        self.on = False

    # ---------------------------------------------------------- spans
    def begin(self, kind: str, name: str, parent: dict | None, **attrs) -> dict:
        span = {"id": len(self.spans), "parent": parent["id"] if parent else None,
                "kind": kind, "name": name, "t0": time.time(), "t1": None, **attrs}
        self.spans.append(span)
        return span

    @staticmethod
    def end(span: dict) -> None:
        span["t1"] = time.time()

    def set_traced(self, on: bool) -> None:
        """A traced run mixes traced and untraced passes; the listener
        is only attached while tracing."""
        if on and not self.on:
            self.spark.streams.addListener(self.listener)
        elif self.on and not on:
            self.spark.streams.removeListener(self.listener)
        self.on = on

    # ------------------------------------------------------------ ops
    def op_start(self, span: dict) -> None:
        self.current_op = span
        if self.on:
            self.spark.sparkContext.setJobGroup(f"op{span['id']}", span["name"])
            span["cpu0"] = self.acc.totals()

    def op_end(self, span: dict) -> None:
        self.current_op = None
        if not self.on:
            return
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        cpu0, cpu1 = span.pop("cpu0"), self.acc.totals()
        span["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
        tracker = sc.statusTracker()
        jobs = stages = tasks = 0
        for group in [f"op{span['id']}"] + self.op_queries.get(span["id"], []):
            for j in tracker.getJobIdsForGroup(group):
                jobs += 1
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    stages += 1
                    st = tracker.getStageInfo(s)
                    tasks += st.numTasks if st else 0
        span.update(jobs=jobs, stages=stages, tasks=tasks)

    def query_started(self, run_id: str) -> None:
        op = self.current_op
        if op is None:
            return
        with self.lock:
            self.query_op[run_id] = op["id"]
            self.op_queries.setdefault(op["id"], []).append(run_id)

    def drain(self, timeout: float = 10.0) -> None:
        """Progress events arrive asynchronously; wait until they stop."""
        end, last = time.time() + timeout, -1
        while time.time() < end:
            with self.lock:
                n = len(self.progress)
            if n == last:
                return
            last = n
            time.sleep(0.5)

    def add_query_spans(self) -> None:
        """op -> query -> batch spans from the recorded progress."""
        by_run: dict[str, list[dict]] = {}
        for p in self.progress:
            by_run.setdefault(p["runId"], []).append(p)
        for run_id, batches in by_run.items():
            op_id = self.query_op.get(run_id)
            if op_id is None:
                continue
            op = self.spans[op_id]
            ends = [_epoch(b["timestamp"]) + b["durationMs"].get("triggerExecution", 0) / 1000
                    for b in batches]
            q = self.begin("query", batches[0].get("name") or run_id, op, run_id=run_id,
                           op_id=op_id, pass_id=op["pass_id"])
            q["t0"] = min(_epoch(b["timestamp"]) for b in batches)
            q["t1"] = max(ends)
            for b, t1 in zip(batches, ends):
                s = self.begin("batch", str(b["batchId"]), q, op_id=op_id, pass_id=op["pass_id"],
                               rows=b.get("numInputRows", 0))
                s["t0"], s["t1"] = _epoch(b["timestamp"]), t1

    # ------------------------------------------------------ event log
    def read_event_log(self, log_dir: str) -> dict[int, dict[str, float]]:
        """{op span id: task totals} from the uncompressed event log."""
        group_of_stage: dict[int, str] = {}
        totals: dict[str, dict[str, float]] = {}
        files = sorted(
            os.path.join(root, f) for root, _d, fs in os.walk(log_dir) for f in fs
            if not f.startswith(("appstatus", "."))
        )
        for path in files:
            with open(path, errors="replace") as fh:
                for line in fh:
                    if '"SparkListenerJobStart"' in line:
                        ev = json.loads(line)
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        for s in ev.get("Stage IDs", ()):
                            group_of_stage.setdefault(s, group)
                    elif '"SparkListenerTaskEnd"' in line:
                        ev = json.loads(line)
                        group = group_of_stage.get(ev.get("Stage ID"))
                        m = ev.get("Task Metrics") or {}
                        if group is None or not m:
                            continue
                        t = totals.setdefault(group, dict.fromkeys(EXEC_KEYS, 0.0))
                        sr = m.get("Shuffle Read Metrics") or {}
                        sw = m.get("Shuffle Write Metrics") or {}
                        t["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        t["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                        t["exec.spill_bytes"] += (
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        )
                        t["exec.shuffle_read_bytes"] += (
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        )
                        t["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        out: dict[int, dict[str, float]] = {}
        for group, t in totals.items():
            if group.startswith("op") and group[2:].isdigit():
                op_id = int(group[2:])
            else:
                op_id = self.query_op.get(group)
            if op_id is None:
                continue
            acc = out.setdefault(op_id, dict.fromkeys(EXEC_KEYS, 0.0))
            for k, v in t.items():
                acc[k] += v
        return out

    # ---------------------------------------------------------- write
    def write(self, path: str) -> None:
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            t0, t1 = s["t0"], s["t1"] if s["t1"] is not None else s["t0"]
            s["dur_s"] = t1 - t0
            ivs = sorted((max(c["t0"], t0), min(c["t1"] or c["t0"], t1))
                         for c in children.get(s["id"], ()))
            covered, cur_end = 0.0, t0
            for a, b in ivs:
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            s["self_s"] = s["dur_s"] - covered
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


EXEC_KEYS = (
    "exec.cpu_s", "exec.gc_s", "exec.spill_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
)


def progress_layers(batches: list[dict]) -> dict[str, float]:
    """Per-layer stream and state numbers over one pass's progress."""
    out = {"stream.batches": float(len(batches))}
    data = [b for b in batches if b.get("numInputRows", 0) > 0]
    out["stream.data_batch_frac"] = len(data) / len(batches) if batches else 0.0
    for phase, name in PHASES:
        out[name] = float(sum((b.get("durationMs") or {}).get(phase, 0) for b in batches))
    commit = updated = dropped = 0.0
    rocks: dict[str, float] = {}
    last_total: dict[tuple[str, int], float] = {}
    peak_mem: dict[tuple[str, int], float] = {}
    for b in batches:
        for i, op in enumerate(b.get("stateOperators") or []):
            key = (b["runId"], i)
            commit += op.get("commitTimeMs", 0)
            updated += op.get("numRowsUpdated", 0)
            dropped += op.get("numRowsDroppedByWatermark", 0)
            last_total[key] = op.get("numRowsTotal", 0)
            peak_mem[key] = max(peak_mem.get(key, 0), op.get("memoryUsedBytes", 0))
            for k, v in (op.get("customMetrics") or {}).items():
                if k.startswith("rocksdb"):
                    rocks[f"state.{k}"] = rocks.get(f"state.{k}", 0.0) + v
    out.update({
        "state.commit_ms": commit,
        "state.rows_total": float(sum(last_total.values())),
        "state.rows_updated": updated,
        "state.memory_bytes": float(sum(peak_mem.values())),
        "state.rows_dropped_late": dropped,
    })
    out.update(rocks)
    return out
