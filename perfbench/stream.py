"""``stream``: Structured Streaming through ``start_stream`` with
callback sinks, four rules over one source directory, as several rules
would run on one gateway:

- an event-time tumbling window with a watermark (Catalyst state store);
- a ``CountingWindow``, an analytic statement and a ``MATCH_RECOGNIZE``
  (the pandas state kernels).

Two phases:

- steady: an open loop.  One generator thread writes an event file every
  ``FILE_PERIOD_S`` seconds, stamping each event with the time the
  file was due, so a stall delays every later result.  Bound by the
  per-trigger fixed cost.
- drain: fresh queries drain a fixed pre-written backlog with an
  available-now trigger.  Bound by per-row kernel and state cost.

Each result row's latency runs from the creation stamp of the newest
event that contributed to it to its delivery at the sink: the row's own
event for the analytic rule, the window's last event for the counting
window, the last matched event for CEP.  Each sink delivery (one rule,
one trigger) counts once, with the median latency of its rows.  The
tumbling window's rows are left out because their latency contains the
window length.  All four rules' outputs are checked against the batch
``query()`` of the same statement over the same files.
"""

from __future__ import annotations

import os
import threading
import time

from perfbench import gen, tracing
from perfbench.common import (Result, compare, compile_statement, geomean,
                              job_group, median, pct, peak_rss_mb, rows_of,
                              start_session, time_frontend)

STATEMENTS = {
    "window": "SELECT device_id, unix_timestamp(window_start()) AS ws, "
              "count(*) AS cnt, round(sum(temp), 2) AS total, "
              "max(temp) AS max_t FROM stream "
              "GROUP BY device_id, TumblingWindow('2s') "
              "WITH (TIMESTAMP='ts', TIMEUNIT='ms', MAXOUTOFORDERNESS='1s')",
    "count": "SELECT device_id, count(*) AS cnt, round(sum(temp), 2) AS total, "
             "max(created_us) AS last_created FROM stream "
             "GROUP BY device_id, CountingWindow(10) WITH (TIMESTAMP='seq')",
    "analytic": "SELECT device_id, seq, created_us, temp, "
                "lag(temp) OVER (PARTITION BY device_id) AS prev_t, "
                "round(acc_sum(temp) OVER (PARTITION BY device_id), 2) AS run_sum, "
                "had_changed(true, status) OVER (PARTITION BY device_id) "
                "AS changed FROM stream WITH (TIMESTAMP='seq')",
    "cep": "SELECT device_id, a_seq, b_seq, a_temp, b_temp, b_created "
           "FROM stream MATCH_RECOGNIZE ("
           " PARTITION BY device_id ORDER BY seq"
           " MEASURES A.seq AS a_seq, B.seq AS b_seq, A.temp AS a_temp,"
           " B.temp AS b_temp, B.created_us AS b_created"
           " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
           " PATTERN (A B) DEFINE A AS temp > 75, B AS temp < 30"
           ") WITH (TIMESTAMP='seq')",
}
# the column holding the creation stamp of a row's newest event
LATENCY_COL = {"count": "last_created", "analytic": "created_us",
               "cep": "b_created"}
FILE_ROWS = 500          # events per file
FILE_PERIOD_S = 3.5      # steady rate: one file per 3.5 s, 143 events/s
STEADY_SHARE = 2.45      # steady phase length, in units of --seconds
WINDOW_MS = 2000         # the tumbling window's length
BACKLOG_FILES, BACKLOG_ROWS = 3, 10_000   # drain input: 30k events
LATE_BOUND_MS = 100      # a generator later than this is flagged
BACKLOG_BOUND_FILES = 2  # so is a backlog larger than this


class _Rule:
    """One started statement and everything its sink received."""

    def __init__(self, ctx, spark, name, in_dir, ckpt):
        self.name = name
        self.q = compile_statement(ctx, spark, STATEMENTS[name])
        self.deliveries: list[tuple[float, list[dict]]] = []
        src = spark.readStream.schema(gen.EVENT_SCHEMA).json(in_dir)
        with ctx.tracer.span("api.start_stream", name):
            self.sq = self.q.start_stream(
                src, sink=lambda rows: self.deliveries.append(
                    (time.time(), rows)),
                trigger=self._trigger, checkpoint=ckpt,
                query_name=f"pb_{name}_{os.path.basename(ckpt)}")

    _trigger = {"processingTime": "0 seconds"}

    def rows(self) -> list[dict]:
        return [r for _, rows in self.deliveries for r in rows]


class _DrainRule(_Rule):
    _trigger = {"availableNow": True}


def _start_drain(ctx, spark, in_dir):
    return [_DrainRule(ctx, spark, name, in_dir,
                       os.path.join(ctx.work, "ckpt", f"drain-{name}"))
            for name in STATEMENTS]


def _events_file(ctx, in_dir, i, start_seq, rows, created_us):
    evs = gen.iot_events(ctx.seed, rows, start_seq)
    gen.write_event_file(os.path.join(in_dir, f"part-{i:05d}.json"), evs,
                         created_us)


def _setup(ctx, base, progress):
    """New session; the four rules compiled and started together on the
    steady directory, which holds one warm-up file.  A rule is set up
    when its first trigger over that file has finished; returns the
    per-rule set-up times, from its execute() to that moment."""
    spark = base.newSession()
    if ctx.trace:  # listeners belong to a session's query manager
        spark.streams.addListener(tracing.progress_listener(progress))
    # one state partition per rule: 100 device keys, and four rules share
    # the cores (the catalog's replays size partitions the same way, by
    # key count)
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    job_group(spark, "pb:setup")
    in_dir = os.path.join(ctx.work, "steady")
    os.makedirs(in_dir)
    _events_file(ctx, in_dir, 0, 0, FILE_ROWS, int(time.time() * 1e6))
    with ctx.tracer.span("bench.stream.setup"):
        rules, starts = [], []
        for name in STATEMENTS:
            starts.append(time.time())
            rules.append(_Rule(ctx, spark, name, in_dir, os.path.join(
                ctx.work, "ckpt", f"steady-{name}")))
        for r in rules:
            r.sq.processAllAvailable()
    times = []
    for r, t0 in zip(rules, starts):
        first = next(p for p in r.sq.recentProgress if p["numInputRows"] > 0)
        a, b = tracing.trigger_intervals([first])[0]
        times.append(b - t0)
    return spark, in_dir, rules, times


class _Generator(threading.Thread):
    """Open-loop file writer: file ``i`` is due at
    ``t0 + (i - 1) * FILE_PERIOD_S``
    whatever the program is doing; its events carry that due time.
    After each file it records how late it ran and the backlog: files
    written but not yet committed by the slowest of ``queries``."""

    def __init__(self, ctx, in_dir, n_files, queries):
        super().__init__(daemon=True)
        self.ctx, self.in_dir, self.n = ctx, in_dir, n_files
        self.queries = queries
        self.rows = [dict() for _ in queries]   # batchId -> input rows
        self.late_ms: list[float] = []
        self.backlog: list[int] = []
        self.error: BaseException | None = None

    def run(self):
        try:
            t0 = time.time() + 0.05
            for i in range(1, self.n + 1):
                due = t0 + (i - 1) * FILE_PERIOD_S
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                _events_file(self.ctx, self.in_dir, i, i * FILE_ROWS,
                             FILE_ROWS, int(due * 1e6))
                self.late_ms.append((time.time() - due) * 1e3)
                self.backlog.append(i - self._committed_files())
        except BaseException as e:  # reported by the main thread
            self.error = e

    def _committed_files(self) -> int:
        for seen, q in zip(self.rows, self.queries):
            for p in q.recentProgress:
                seen[p["batchId"]] = p["numInputRows"]
        # the warm-up file (file 0) was committed before the generator
        # started
        return min(sum(seen.values()) for seen in self.rows) // FILE_ROWS - 1


def run(ctx) -> Result:
    base = start_session(ctx)
    progress: list[dict] = []
    spark, in_dir, rules, setups = _setup(ctx, base, progress)
    time_frontend(ctx, STATEMENTS.values())
    backlog_dir = os.path.join(ctx.work, "backlog")
    os.makedirs(backlog_dir)
    for i in range(BACKLOG_FILES):
        _events_file(ctx, backlog_dir, i, 50_000_000 + i * BACKLOG_ROWS,
                     BACKLOG_ROWS, int(time.time() * 1e6))
    ctx.mark("setup")

    # --- steady phase (open loop)
    n_files = max(4, round(STEADY_SHARE * ctx.seconds / FILE_PERIOD_S))
    g = _Generator(ctx, in_dir, n_files, [r.sq for r in rules])
    steady_t0 = time.perf_counter()
    steady_us = int(time.time() * 1e6)
    # the steady span's own time, outside every trigger, is the open loop
    # waiting for its next file: the "wait" layer
    with ctx.tracer.span("wait.stream.steady"):
        g.start()
        g.join()
        for r in rules:
            r.sq.processAllAvailable()
    if g.error is not None:
        raise g.error
    for r in rules:
        r.sq.stop()

    # --- drain phase: fresh queries over the pre-written backlog
    job_group(spark, "pb:drain")
    with ctx.tracer.span("bench.stream.drain"):
        t0 = time.perf_counter()
        drain = _start_drain(ctx, spark, backlog_dir)
        for r in drain:
            if not r.sq.awaitTermination(150):
                raise RuntimeError(f"drain of {r.name} overran")
        drain_s = time.perf_counter() - t0
    rss = peak_rss_mb(ctx, spark)
    ctx.mark("timed")

    # latencies of the steady phase, one sample per sink delivery of a
    # rule: the median latency of its rows.  All rows of a one-file
    # trigger share a latency, so weighing rows would let the analytic
    # rule, which emits a row per event, set every percentile
    lat = []
    for r in rules:
        if r.name not in LATENCY_COL:
            continue
        col = LATENCY_COL[r.name]
        for t, rows in r.deliveries:
            rl = [t - row[col] / 1e6 for row in rows if row[col] >= steady_us]
            if rl:
                lat.append(median(rl))

    # --- output checks against the batch path over the same files.  Both
    # phases in one batch query per rule: each phase's events get their
    # own device_id namespace, which every rule partitions or groups by
    job_group(spark, "pb:verify")
    from pyspark.sql import functions as F

    def tagged(src, tag):
        return spark.read.schema(gen.EVENT_SCHEMA).json(src).withColumn(
            "device_id", F.concat(F.lit(tag + "/"), "device_id"))

    df = tagged(in_dir, "steady").unionByName(tagged(backlog_dir, "drain"))
    checks, attempted, failed = [], 0, 0
    for rs_steady, rs_drain in zip(rules, drain):
        name = rs_steady.name
        ref = compile_statement(ctx, spark, STATEMENTS[name])
        want = _split(rows_of(ref.query(df)))
        if name == "window":
            allowed, closable = _window_expectations(ctx, spark, df, want)
        for phase, r in (("steady", rs_steady), ("drain", rs_drain)):
            got = r.rows()
            if name == "window":
                wm = _final_watermark_ms(r)
                closed = {k for k in closable.get(phase, ())
                          if k[1] * 1000 + WINDOW_MS <= wm}
                bad, detail = _check_windows(ctx.root, got, allowed[phase],
                                             closed)
            else:
                bad, detail = compare(ctx.root, got, want.get(phase, []))
            checks.append((f"{phase}.{name}", bad == 0, detail))
            attempted += len(got)
            failed += bad
    ctx.mark("verify")

    late_max, backlog_max = max(g.late_ms), max(g.backlog)
    flags = []
    if late_max > LATE_BOUND_MS:
        flags.append(f"generator ran {late_max:.0f} ms late "
                     f"(bound {LATE_BOUND_MS} ms)")
    if backlog_max > BACKLOG_BOUND_FILES:
        flags.append(f"backlog reached {backlog_max} files (bound "
                     f"{BACKLOG_BOUND_FILES}): the rules did not keep up")
    if flags:
        ctx.notes["flags"] = {"flag": "; ".join(flags)}
    ctx.layer.update({"gen.late_ms_max": late_max,
                      "gen.backlog_files_max": backlog_max,
                      "streaming.result_ms_p90": pct(lat, 90) * 1e3})
    ctx.notes["counts"] = {
        "latency_samples": len(lat), "steady_files": n_files,
        "backlog_files": g.backlog,
        "trigger_ms_p50": {r.name: median(_steady_triggers(r)) for r in rules}}
    if ctx.trace:
        steady_ids = {str(r.sq.runId) for r in rules}
        drain_ids = {str(r.sq.runId) for r in drain}
        since = ctx.tracer.epoch_offset + steady_t0
        sp = [p for p in progress if p["runId"] in steady_ids
              and tracing.trigger_intervals([p])[0][0] >= since]
        dp = [p for p in progress if p["runId"] in drain_ids]
        ctx.layer.update(tracing.trigger_metrics(sp, "streaming.steady"))
        ctx.layer.update(tracing.trigger_metrics(dp, "streaming.drain"))
        ctx.layer.update(tracing.state_metrics(sp + dp))
        ctx.notes["timed"] = {
            "roots": {"wait.stream.steady", "bench.stream.drain"},
            "groups": ("pb:drain",), "run_ids": steady_ids | drain_ids,
            "since": steady_t0,
            "busy": {"streaming": tracing.trigger_intervals(sp + dp)}}
    return Result(attempted, failed, {
        "setup_s": median(setups),
        "peak_rss_mb": rss,
        "result_p50_ms": median(lat) * 1e3,
        "throughput_per_s": BACKLOG_FILES * BACKLOG_ROWS / drain_s,
        # each rule weighs the same, whatever its trigger cost
        "spark_path_ms": geomean([median(_steady_triggers(r))
                                  for r in rules]),
    }, checks)


def _steady_triggers(rule) -> list[float]:
    """triggerExecution (ms) of a rule's data triggers after the warm-up."""
    return [p["durationMs"]["triggerExecution"]
            for p in rule.sq.recentProgress
            if p["numInputRows"] > 0 and p["batchId"] > 0]


def _split(rows: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in rows:
        tag, dev = r["device_id"].split("/", 1)
        out.setdefault(tag, []).append({**r, "device_id": dev})
    return out


def _window_expectations(ctx, spark, df, want):
    """The rows an emitted window may equal, per phase and window key:
    the batch result over all events (one available-now batch has no
    watermark yet) or over the events without the late ones after the
    first file (the watermark drops those once the first batch has set
    it).  Also returns, per phase, the keys of the windows that hold a
    non-late event: the watermark never drops such an event, so each of
    these windows must be emitted once the watermark has closed it."""
    cut = (f"seq < {FILE_ROWS} OR ts >= {gen.T0_MS} + seq * "
           f"{gen.EVENT_SPACING_MS} - {gen.OOO_MAX_MS}")
    ref = compile_statement(ctx, spark, STATEMENTS["window"])
    no_late = _split(rows_of(ref.query(df.filter(cut))))
    allowed: dict[str, dict] = {}
    for part in (want, no_late):
        for phase, rows in part.items():
            for r in rows:
                allowed.setdefault(phase, {}).setdefault(
                    (r["device_id"], r["ws"]), []).append(r)
    closable = {phase: {(r["device_id"], r["ws"]) for r in rows}
                for phase, rows in no_late.items()}
    return allowed, closable


def _final_watermark_ms(rule) -> int:
    """The last event-time watermark (epoch ms) a rule's query used."""
    marks = [p["eventTime"].get("watermark") for p in rule.sq.recentProgress
             if p.get("eventTime")]
    return max((int(tracing.iso_seconds(m) * 1000) for m in marks if m),
               default=0)


def _check_windows(root, got, allowed, closed):
    """Each emitted window must equal one of its allowed rows, and every
    window in ``closed`` (closed by the final watermark, with a non-late
    event) must have been emitted.  A stream emits only the windows its
    watermark has closed, so it may have fewer than the batch."""
    bad = [r for r in got if all(
        compare(root, [r], [a])[0]
        for a in allowed.get((r["device_id"], r["ws"]), []))]
    missing = closed - {(r["device_id"], r["ws"]) for r in got}
    if not got:
        return 1, "no window emitted"
    return len(bad) + len(missing), (
        f"{len(got) - len(bad)}/{len(got)} windows match, "
        f"{len(closed) - len(missing)}/{len(closed)} closed windows emitted"
        + (f"; first bad {bad[0]}" if bad else "")
        + (f"; first missing {min(missing)}" if missing else ""))
