"""``edge``: the reference's primary API, one caller in a closed loop.

Seeded device events go through the ``StreamSQL`` facade in five phases:

1. ``emit_sync`` on a direct filter/CASE/arithmetic statement;
2. ``emit_sync`` on an analytic statement (lag, acc_sum, had_changed
   ``OVER (PARTITION BY device_id)``);
3. ``emit_sync`` on a stream-table JOIN of a ``register_table`` device
   table (enrichment);
4. ``emit`` into an event-time tumbling window statement, fired by
   ``trigger_window`` after every ``FIRE_EVERY`` events;
5. batch queries: a pass over catalog entries on seeded parquet tables
   (``perfbench/catalog.py``).

Phases 1-4 run in ``ROUNDS`` rounds, phase 5 once at the end.  Within a
round, phases 1-2 alternate three blocks of ``BLOCK`` direct events with
one block of analytic events, so that both sample the same machine
state.  (With an even mix the pooled median would sit in the gap between
the two statements' latency distributions and swing between them from
run to run.)  Phases 1-2 of a round run in ``SLICES`` slices, each on
the core that is fastest at its start, and the ``emit_sync`` figures
are the best over all slices.  The dialect/pyeval and api layers do the
work of phases 1-2 and Spark does none; phases 3-5 run Spark jobs on
the caller's path.  Every result is checked afterwards, outside the timed
phases: events against ``StreamSQL.query()`` of the same statement over
the same events, catalog entries against their DuckDB oracles.
"""

from __future__ import annotations

import os
import time

from perfbench import catalog, gen
from perfbench.common import (SETUPS, Result, compare, compile_statement,
                              events_df, geomean, job_group, median, pct,
                              peak_rss_mb, rows_of, start_session,
                              time_frontend)

DIRECT = ("SELECT device_id, seq, temp, round(temp * 1.8 + 32, 2) AS temp_f, "
          "CASE WHEN temp > 80 THEN 'hot' WHEN temp < 10 THEN 'cold' "
          "ELSE 'ok' END AS level, humidity / 100.0 AS hum "
          "FROM stream WHERE status != 'error' AND humidity > 25")
ANALYTIC = ("SELECT device_id, seq, temp, "
            "lag(temp) OVER (PARTITION BY device_id) AS prev_t, "
            "round(acc_sum(temp) OVER (PARTITION BY device_id), 2) AS run_sum, "
            "had_changed(true, status) OVER (PARTITION BY device_id) AS changed "
            "FROM stream WITH (TIMESTAMP='seq')")
ENRICH = ("SELECT device_id, seq, d.site, d.model, temp "
          "FROM stream JOIN devices d ON device_id = d.device_id")
WINDOW = ("SELECT device_id, count(*) AS cnt, round(avg(temp), 4) AS avg_t, "
          "max(temp) AS max_t FROM stream "
          "GROUP BY device_id, TumblingWindow('2s') "
          "WITH (TIMESTAMP='ts', TIMEUNIT='ms')")
STATEMENTS = (DIRECT, ANALYTIC, ENRICH, WINDOW)
SCHEMA = gen.EVENT_SCHEMA.replace(", created_us bigint", "")
FIRE_EVERY = 500          # events emitted per trigger_window
ROUNDS = 5                # rounds of phases 1-4 (one enrichment, one fire each)
SYNC_SHARE = 0.3          # of --seconds, for phases 1-2 over all rounds
SLICES = 4                # slices of phases 1-2 per round, each on the
                          # core that is fastest at its start
BLOCK = 128               # events per block
MIX = (3, 1)              # direct, analytic blocks per round


class _Feed:
    """Per-statement event source and log of what was sent and got."""

    def __init__(self, tracer, seed: int, start: int):
        self.tracer, self.seed, self.next_seq = tracer, seed, start
        self.buf: list[dict] = []
        self.sent: list[dict] = []
        self.got: list[dict] = []

    def take(self) -> dict:
        if not self.buf:
            with self.tracer.span("gen.events"):
                self.buf = gen.iot_events(self.seed, 4096, self.next_seq)
            self.buf.reverse()
            self.next_seq += 4096
        ev = self.buf.pop()
        self.sent.append(ev)
        return ev


def _setup(ctx, base, table, tables, k):
    """One set-up: a new session on the running context, the dimension
    table, the four statements compiled, one warm call of each, and the
    catalog's tables loaded."""
    spark = base.newSession()
    job_group(spark, "pb:setup")
    qs = [compile_statement(ctx, spark, s) for s in STATEMENTS]
    with ctx.tracer.span("api.register_table"):
        qs[2].register_table("devices", table, "device_id")
    feeds = [_Feed(ctx.tracer, ctx.seed, k * 10_000_000) for k in range(4)]
    fired: list[list[dict]] = []
    qs[3].add_sink(fired.append)
    for q, f, n in zip(qs[:3], feeds[:3], (3, 3, 1)):
        for _ in range(n):
            ev = f.take()
            with ctx.tracer.span("api.emit_sync"):
                r = q.emit_sync(ev)
            if r is not None:
                f.got.append(r)
    for _ in range(FIRE_EVERY):
        with ctx.tracer.span("api.emit"):
            qs[3].emit(feeds[3].take())
    with ctx.tracer.span("api.trigger_window"):
        qs[3].trigger_window()
    sf_dir = catalog.load(ctx, spark, tables, k)
    return spark, qs, feeds, fired, sf_dir


def _pin_fastest_core(cores) -> float:
    """Pin the caller's thread to the core that runs a fixed Python loop
    fastest right now.  On a shared VM one core can run Python 1.7x
    slower than the others for minutes (other tenants); left to the
    scheduler, a run's per-event latencies depended on where the thread
    happened to land.  The JVM and the Python workers are other
    processes and keep every core."""
    def probe() -> float:
        t0 = time.perf_counter()
        sum(i * i for i in range(20000))
        return time.perf_counter() - t0

    speed = {}
    for c in cores:
        os.sched_setaffinity(0, {c})
        speed[c] = min(probe() for _ in range(3))
    best = min(speed, key=speed.get)
    os.sched_setaffinity(0, {best})
    return speed[best]


def _sync_phase(ctx, qs, feeds, budget, lats):
    """Direct and analytic ``emit_sync`` in alternating blocks."""
    tr = ctx.tracer
    pc = time.perf_counter
    with tr.span("bench.edge.sync"):
        end = pc() + budget
        while pc() < end:
            for q, feed, lat, blocks in zip(qs, feeds, lats, MIX):
                for _ in range(blocks * BLOCK):
                    ev = feed.take()
                    t0 = pc()
                    r = q.emit_sync(ev)
                    t1 = pc()
                    if tr.on:
                        tr.add("api.emit_sync", t0, t1, ev["seq"])
                    lat.append(t1 - t0)
                    if r is not None:
                        feed.got.append(r)


def run(ctx) -> Result:
    tables = os.path.join(ctx.work, "tables")
    gen.make_tables(ctx.seed, tables)
    base = start_session(ctx)
    table = gen.device_table(ctx.seed)
    setups = []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        with ctx.tracer.span("bench.edge.setup"):
            state = _setup(ctx, base, table, tables, k)
        setups.append(time.perf_counter() - t0)
    spark, qs, feeds, fired, sf_dir = state
    time_frontend(ctx, STATEMENTS + tuple(catalog.dialect_sqls()))
    ctx.mark("setup")
    # the catalog's checked pass doubles as its warm-up
    checks = [(f"catalog.{n}", ok, msg)
              for n, ok, msg in catalog.check(ctx, spark, tables, sf_dir)]
    ctx.mark("catalog_check")

    cores = os.sched_getaffinity(0)
    try:
        # phases 1-4 in ROUNDS rounds, so that each phase samples the
        # machine at several moments of the run
        lat_direct: list[float] = []
        lat_analytic: list[float] = []
        slices: list[list[float]] = []   # pooled sync latencies per slice
        lat_enrich: list[float] = []
        w, lat_emit, lat_fire = qs[3], [], []
        n_fired0 = len(fired)
        batches: list[list[dict]] = []   # events behind each timed fire
        probe_ms = []   # the pinned core's probe time, a host-speed record
        for _ in range(ROUNDS):
            job_group(spark, "pb:edge:sync")
            for _ in range(SLICES):
                probe_ms.append(_pin_fastest_core(cores) * 1e3)
                d0, a0 = len(lat_direct), len(lat_analytic)
                _sync_phase(ctx, qs[:2], feeds[:2],
                            SYNC_SHARE * ctx.seconds / ROUNDS / SLICES,
                            [lat_direct, lat_analytic])
                slices.append(lat_direct[d0:] + lat_analytic[a0:])

            # enrichment (falls back to Spark per event at this commit)
            job_group(spark, "pb:edge:enrich")
            with ctx.tracer.span("bench.edge.enrich"):
                ev = feeds[2].take()
                with ctx.tracer.span("api.emit_sync", ev["seq"]):
                    t0 = time.perf_counter()
                    r = qs[2].emit_sync(ev)
                    lat_enrich.append(time.perf_counter() - t0)
                if r is not None:
                    feeds[2].got.append(r)

            # a window fire, timed from trigger_window() until the fired rows
            # reach the sink
            job_group(spark, "pb:edge:fire")
            with ctx.tracer.span("bench.edge.fire"):
                first = len(feeds[3].sent)
                for _ in range(FIRE_EVERY):
                    ev = feeds[3].take()
                    t0 = time.perf_counter()
                    w.emit(ev)
                    t1 = time.perf_counter()
                    ctx.tracer.add("api.emit", t0, t1, ev["seq"])
                    lat_emit.append(t1 - t0)
                batches.append(feeds[3].sent[first:])
                k = len(fired)
                with ctx.tracer.span("api.trigger_window"):
                    t0 = time.perf_counter()
                    w.trigger_window()
                    if len(fired) != k + 1:
                        raise RuntimeError("trigger_window delivered no batch")
                    lat_fire.append(time.perf_counter() - t0)

        # batch queries
        build, exe = catalog.timed_pass(ctx, spark, sf_dir)
    finally:
        os.sched_setaffinity(0, cores)
    rss = peak_rss_mb(ctx, spark)
    ctx.mark("timed")

    # --- output checks, outside the timed phases
    job_group(spark, "pb:verify")
    attempted = len(catalog.ENTRIES)
    failed = sum(not ok for _, ok, _ in checks)
    for name, q_sql, f in (("direct", DIRECT, feeds[0]),
                           ("analytic", ANALYTIC, feeds[1]),
                           ("enrich", ENRICH, feeds[2])):
        ref = compile_statement(ctx, spark, q_sql)
        if q_sql is ENRICH:
            ref.register_table("devices", table, "device_id")
        want = rows_of(ref.query(events_df(spark, f.sent, SCHEMA)))
        bad, detail = compare(ctx.root, f.got, want)
        checks.append((name, bad == 0, detail))
        attempted += len(f.sent)
        failed += bad  # each differing result row fails its event
    ref = compile_statement(ctx, spark, WINDOW)
    bad_fires = 0
    for evs, got in zip(batches, fired[n_fired0:]):
        want = rows_of(ref.query(events_df(spark, evs, SCHEMA)))
        bad_fires += compare(ctx.root, got, want)[0] > 0
    attempted += len(batches)
    failed += bad_fires
    checks.append(("fires", bad_fires == 0,
                   f"{len(batches) - bad_fires}/{len(batches)} fires match"))
    ctx.mark("verify")
    sync = lat_direct + lat_analytic
    entry_s = {n: build[n] + exe[n] for n in catalog.ENTRIES}
    pass_s = sum(entry_s.values())
    L = ctx.layer
    L.update({
        "api.sync_direct_us_p50": median(lat_direct) * 1e6,
        "api.sync_analytic_us_p50": median(lat_analytic) * 1e6,
        "api.sync_us_p99": min(pct(r, 99) for r in slices) * 1e6,
        "api.emit_us_p50": median(lat_emit) * 1e6,
        "api.enrich_ms_p50": median(lat_enrich) * 1e3,
        "api.fire_ms_p50": median(lat_fire) * 1e3,
        "api.fire_ms_p90": pct(lat_fire, 90) * 1e3,
        "api.fire_rows": sum(len(b) for b in fired[n_fired0:]) / len(lat_fire),
        "engine.pass_s": pass_s,
        "engine.build_s": sum(build.values()),
        "engine.exec_s": sum(exe.values()),
        **{f"entry.{n}_s": v for n, v in entry_s.items()},
    })
    ctx.notes["counts"] = {"sync": len(sync), "enrich": len(lat_enrich),
                           "fires": len(lat_fire), "core_probe_ms": probe_ms}
    ctx.notes["timed"] = {
        "roots": {"bench.edge.sync", "bench.edge.enrich", "bench.edge.fire",
                  "bench.edge.catalog"},
        "groups": ("pb:edge:",),
        "per_call": {"api.sync_jobs_per_event": ("pb:edge:sync", len(sync)),
                     "api.enrich_jobs_per_event": ("pb:edge:enrich",
                                                   len(lat_enrich)),
                     "api.fire_jobs": ("pb:edge:fire", len(lat_fire))}}
    # each sync figure is the best over the slices, as bench.py takes the
    # best of N: host interference only ever slows a slice, and on a
    # shared host it slowed up to 2 in 5 slices by up to 2x
    return Result(attempted, failed, {
        "setup_s": median(setups),
        "peak_rss_mb": rss,
        "result_p50_ms": min(median(r) for r in slices) * 1e3,
        # events per second of the caller's time inside emit_sync
        "throughput_per_s": max(len(r) / sum(r) for r in slices),
        # each Spark phase weighs the same: a change of x in one phase
        # moves this by x ** (1/3), whatever that phase's size
        "spark_path_ms": geomean([median(lat_enrich), median(lat_fire),
                                  pass_s]) * 1e3,
    }, checks)
