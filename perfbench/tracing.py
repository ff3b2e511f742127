"""Tracing for the benchmark's traced run (``--trace 1``).

Three sources, all read from outside the program:

- spans the benchmark records around each public call it makes into the
  repository's modules (kept in memory, written out at the end);
- Spark's uncompressed event log, which gives jobs, stages and task
  metrics, attributed to a phase by job group (the benchmark's own
  groups, or a streaming query's ``runId``, which Spark uses as the
  group of that query's jobs);
- ``StreamingQueryListener`` progress events for the trigger breakdown.
"""

from __future__ import annotations

import bisect
import json
import time

from perfbench.common import median


class Tracer:
    """In-memory span recorder.  A span is (name, start, end, parent,
    request id); times are ``time.perf_counter`` seconds, converted to
    epoch seconds with the offset taken at construction so that spans
    line up with the event log's epoch milliseconds."""

    def __init__(self, enabled: bool):
        self.on = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.epoch_offset = time.time() - time.perf_counter()

    def begin(self, name: str, req=None) -> int:
        if not self.on:
            return -1
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, req])
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, sid: int) -> None:
        if sid < 0:
            return
        self.spans[sid][2] = time.perf_counter()
        self._stack.pop()

    def add(self, name: str, start: float, end: float, req=None) -> None:
        """Record a finished span under the current one (hot loops time
        the call themselves and hand the two stamps over)."""
        if self.on:
            parent = self._stack[-1] if self._stack else -1
            self.spans.append([name, start, end, parent, req])

    class _Ctx:
        def __init__(self, tr, name, req):
            self.tr, self.name, self.req = tr, name, req

        def __enter__(self):
            self.sid = self.tr.begin(self.name, self.req)
            return self

        def __exit__(self, *exc):
            self.tr.end(self.sid)
            return False

    def span(self, name: str, req=None) -> "Tracer._Ctx":
        return Tracer._Ctx(self, name, req)

    def overhead_s(self, n: int = 20000) -> float:
        """Cost of recording one hot-loop span, measured in this process."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            a = time.perf_counter()
            probe.add("x", a, time.perf_counter())
        return (time.perf_counter() - t0) / n

    def dump(self) -> list[dict]:
        off = self.epoch_offset
        return [{"name": n, "start": s + off, "end": e + off, "parent": p,
                 "req": r} for n, s, e, p, r in self.spans]


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(iv: list[tuple[float, float]], a: float, b: float) -> float:
    """Length of [a, b) covered by sorted disjoint intervals ``iv``."""
    tot = 0.0
    for x, y in iv[bisect.bisect_right(iv, a, key=lambda t: t[1]):]:
        if x >= b:
            break
        tot += min(b, y) - max(a, x)
    return tot


def layer_self_times(spans: list[dict], roots: set[str],
                     busy: dict[str, list[tuple[float, float]]]
                     ) -> tuple[dict[str, float], float]:
    """Self time per layer over the timed root spans (names in
    ``roots``).  A span's self time is its duration minus what its child
    spans cover; the layer is the span name's first dotted part.  The
    ``busy`` intervals (epoch seconds per layer, e.g. Spark jobs or
    streaming triggers, which run on the program's own threads) are
    carved out of the self time of the innermost span they overlap and
    credited to their own layer.  Returns (self seconds per layer,
    timed wall seconds)."""
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        kids.setdefault(s["parent"], []).append(i)
    timed = [i for i, s in enumerate(spans) if s["name"] in roots]
    # earlier layers in ``busy`` take precedence where intervals overlap
    busy_u: dict[str, list[tuple[float, float]]] = {}
    seen: list[tuple[float, float]] = []
    for layer, iv in busy.items():
        own = []
        for x, y in _union(iv):
            cur = x
            for p, q in _union(seen):
                if q <= cur or p >= y:
                    continue
                if p > cur:
                    own.append((cur, p))
                cur = max(cur, q)
            if cur < y:
                own.append((cur, y))
        busy_u[layer] = own
        seen.extend(own)
    any_busy = _union(seen)
    out: dict[str, float] = {}

    def visit(i: int) -> None:
        s = spans[i]
        a, b = s["start"], s["end"]
        ch_u = _union([(spans[j]["start"], spans[j]["end"])
                       for j in kids.get(i, [])])
        self_s = (b - a) - _covered(ch_u, a, b)
        if _covered(any_busy, a, b) > 0:
            for layer, iv in busy_u.items():
                # busy time in this span's own (childless) stretches
                got = _covered(iv, a, b) - sum(
                    _covered(iv, x, y) for x, y in ch_u)
                out[layer] = out.get(layer, 0.0) + got
                self_s -= got
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + max(0.0, self_s)
        for j in kids.get(i, []):
            visit(j)

    wall = 0.0
    for i in timed:
        wall += spans[i]["end"] - spans[i]["start"]
        visit(i)
    return out, wall


# --- Spark event log -------------------------------------------------------
_PY_ACC = {
    "time to run Python workers": "worker_run",
    "time to start Python workers": "worker_start",
    "time to initialize Python workers": "worker_init",
    "data sent to Python workers": "to_worker",
    "data returned from Python workers": "from_worker",
}


def read_eventlog(path: str) -> dict:
    """Jobs (group, epoch-second interval, stage ids) and per-stage task
    sums from an uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, dict] = {}
    completed: set[int] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id", ""),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]]}
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                completed.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                t = stage_tasks.setdefault(ev["Stage ID"], dict.fromkeys(
                    ("tasks", "run_ms", "cpu_ns", "gc_ms", "sched_ms",
                     "shuffle_read", "shuffle_write", "spill",
                     *_PY_ACC.values()), 0))
                t["tasks"] += 1
                run = m.get("Executor Run Time", 0)
                t["run_ms"] += run
                t["cpu_ns"] += m.get("Executor CPU Time", 0)
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["sched_ms"] += max(0, info["Finish Time"] - info["Launch Time"]
                                     - run - m.get("Executor Deserialize Time", 0)
                                     - m.get("Result Serialization Time", 0)
                                     - info.get("Getting Result Time", 0))
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
                t["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
                t["spill"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
                for acc in info.get("Accumulables") or ():
                    key = _PY_ACC.get(acc.get("Name"))
                    if key is not None:
                        t[key] += int(acc.get("Update") or 0)
    return {"jobs": jobs, "stage_tasks": stage_tasks, "completed": completed}


def spark_counters(log: dict, timed) -> dict[str, float]:
    """``spark.*`` and ``py.*`` metrics over the jobs that satisfy
    ``timed`` (a predicate on the job dict).  The Python
    worker time metrics are nanosecond timings, the data metrics bytes."""
    sel = [j for j in log["jobs"].values() if timed(j)]
    stages = {s for j in sel for s in j["stages"]}
    run = [s for s in stages if s in log["completed"]]
    tot: dict[str, float] = {}
    for s in run:
        for k, v in log["stage_tasks"].get(s, {}).items():
            tot[k] = tot.get(k, 0) + v
    g = tot.get
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": len(sel),
        "spark.stages": len(run),
        "spark.stages_skipped": len(stages) - len(run),
        "spark.tasks": g("tasks", 0),
        "spark.task_run_s": g("run_ms", 0) / 1e3,
        "spark.task_cpu_s": g("cpu_ns", 0) / 1e9,
        "spark.gc_s": g("gc_ms", 0) / 1e3,
        "spark.sched_delay_s": g("sched_ms", 0) / 1e3,
        "spark.shuffle_read_mb": g("shuffle_read", 0) / mb,
        "spark.shuffle_write_mb": g("shuffle_write", 0) / mb,
        "spark.spill_mb": g("spill", 0) / mb,
        "py.worker_run_s": g("worker_run", 0) / 1e9,
        "py.worker_boot_s": (g("worker_start", 0) + g("worker_init", 0)) / 1e9,
        "py.to_worker_mb": g("to_worker", 0) / mb,
        "py.from_worker_mb": g("from_worker", 0) / mb,
    }


def job_intervals(log: dict, timed) -> list[tuple[float, float]]:
    return [(j["start"], j["end"]) for j in log["jobs"].values()
            if j["end"] is not None and timed(j)]


# --- streaming progress ----------------------------------------------------
def progress_listener(sink: list):
    """A StreamingQueryListener appending each progress as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _L(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _L()


_PARTS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
          "latestOffset", "getBatch")


def trigger_metrics(progress: list[dict], prefix: str) -> dict[str, float]:
    """Trigger breakdown over a set of progress events."""
    dur = [p.get("durationMs") or {} for p in progress]
    rows = [p.get("numInputRows", 0) for p in progress]
    out = {
        f"{prefix}.triggers": len(progress),
        f"{prefix}.empty_trigger_frac":
            sum(1 for r in rows if r == 0) / len(rows) if rows else 0.0,
        f"{prefix}.rows_per_trigger_p50": median([r for r in rows if r]),
        f"{prefix}.trigger_ms_p50": median([d.get("triggerExecution", 0)
                                            for d in dur]),
    }
    for part in _PARTS:
        out[f"{prefix}.{part}_ms_p50"] = median([d.get(part, 0)
                                                 for d in dur])
    return out


def iso_seconds(ts: str) -> float:
    """Epoch seconds of a timestamp in Spark's progress format."""
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def trigger_intervals(progress: list[dict]) -> list[tuple[float, float]]:
    out = []
    for p in progress:
        a = iso_seconds(p["timestamp"])
        out.append((a, a + (p.get("durationMs") or {}).get(
            "triggerExecution", 0) / 1e3))
    return out


def state_metrics(progress: list[dict]) -> dict[str, float]:
    """Largest state size seen (rows, memory) summed over the queries'
    stateful operators, and the median per-trigger state commit time."""
    rows: dict[str, int] = {}
    mem: dict[str, int] = {}
    commit = []
    for p in progress:
        ops = p.get("stateOperators") or []
        if not ops:
            continue
        r = sum(o.get("numRowsTotal", 0) for o in ops)
        m = sum(o.get("memoryUsedBytes", 0) for o in ops)
        q = p["runId"]
        rows[q] = max(rows.get(q, 0), r)
        mem[q] = max(mem.get(q, 0), m)
        commit.append(sum(o.get("commitTimeMs", 0) for o in ops))
    return {"streaming.state_rows": sum(rows.values()),
            "streaming.state_mem_mb": sum(mem.values()) / (1024.0 * 1024.0),
            "streaming.state_commit_ms": median(commit)}


# --- the traced run's report -------------------------------------------------
def finish(ctx, workload: str, out_dir: str, e2e: dict) -> None:
    """Turn the spans, the event log and the progress events of a traced
    run into the per-layer metrics (``ctx.layer``) and write the report
    (JSON plus a markdown table) to ``out_dir``.  When ``out_dir`` holds
    the untraced run of the same workload and seed, the report sets this
    run's end-to-end metrics (``e2e``) beside it: that difference is the
    tracing overhead."""
    import glob
    import os

    t = ctx.notes["timed"]
    L = ctx.layer
    for k in [k for k in L if k.startswith("_")]:
        L[k[1:]] = median(L.pop(k))
    log = read_eventlog(glob.glob(os.path.join(ctx.work, "eventlog", "*"))[0])
    run_ids = set(t.get("run_ids", ()))
    since = t.get("since", 0.0) + ctx.tracer.epoch_offset

    def timed(job: dict) -> bool:
        # benchmark job groups, or a timed streaming query's runId for
        # jobs started inside the timed phases
        return job["group"].startswith(t["groups"]) or (
            job["group"] in run_ids and job["start"] >= since)

    L.update(spark_counters(log, timed))
    for name, (group, n) in t.get("per_call", {}).items():
        jobs = sum(1 for j in log["jobs"].values() if j["group"] == group)
        L[name] = jobs / n if n else 0.0
    busy = {"spark": job_intervals(log, timed), **t.get("busy", {})}
    spans = ctx.tracer.dump()
    selfs, wall = layer_self_times(spans, t["roots"], busy)
    for layer, v in selfs.items():
        L[f"self.{layer}_s"] = v
    L["trace.wall_s"] = wall
    L["trace.spans"] = len(spans)
    # the benchmark's own loop (``bench``), input generation (``gen``) and
    # an open loop's wait for input (``wait``) are not program layers; the
    # wait is no one's work, so it leaves the wall the program must explain
    wait = selfs.get("wait", 0.0)
    L["trace.program_frac"] = sum(
        v for k, v in selfs.items()
        if k not in ("bench", "gen", "wait")) / (wall - wait)
    L["trace.overhead_pct"] = 100.0 * len(spans) * ctx.tracer.overhead_s() / wall
    per_name: dict[str, list] = {}
    for sp in spans:
        c = per_name.setdefault(sp["name"], [0, 0.0])
        c[0] += 1
        c[1] += sp["end"] - sp["start"]
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, f"{workload}-seed{ctx.seed}")
    with open(base + ".json", "w") as f:
        json.dump({"workload": workload, "seed": ctx.seed,
                   "seconds": ctx.seconds, "notes": {
                       k: v for k, v in ctx.notes.items() if k != "timed"},
                   "spans": {k: {"count": c, "total_s": t}
                             for k, (c, t) in per_name.items()},
                   "layer": L}, f, indent=1, sort_keys=True, default=str)
    untraced = None
    if os.path.exists(base + "-trace0.json"):
        with open(base + "-trace0.json") as f:
            untraced = json.load(f)["metrics"]
    with open(base + ".md", "w") as f:
        f.write(f"# Traced run: {workload}, seed {ctx.seed}, "
                f"{ctx.seconds:g} s\n\n")
        f.write(f"Machine: {json.dumps(ctx.notes.get('machine'))}\n\n")
        if untraced:
            f.write("End-to-end metrics, untraced run of the same seed "
                    "against this traced run:\n\n| metric | untraced | "
                    "traced | traced / untraced |\n|---|---|---|---|\n")
            for k, v in e2e.items():
                u = untraced[k]["value"]
                f.write(f"| {k} | {u:.6g} | {v:.6g} | {v / u:.3f} |\n")
            f.write("\n")
        f.write(f"Timed wall {wall:.3f} s over {len(spans)} spans; "
                f"program layers {100 * L['trace.program_frac']:.1f}% of it, "
                f"less {wait:.3f} s of input wait; "
                f"tracing overhead {L['trace.overhead_pct']:.2f}% "
                f"(span recording, estimated in-process).\n\n")
        f.write("| layer | self time (s) | share of timed wall |\n|---|---|---|\n")
        for layer, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
            f.write(f"| {layer} | {v:.3f} | {100 * v / wall:.1f}% |\n")
        f.write("\n| span | count | total (s) |\n|---|---|---|\n")
        for k, (c, tot) in sorted(per_name.items()):
            f.write(f"| {k} | {c} | {tot:.3f} |\n")
        f.write("\n| metric | value |\n|---|---|\n")
        for k in sorted(L):
            if not k.startswith("self."):
                f.write(f"| {k} | {L[k]:.6g} |\n")
