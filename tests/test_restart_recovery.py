"""Streaming restart recovery (r11 brief #1).

No prior test ever STOPPED a running stream and RESTARTED it from the
same checkpoint — the one operational surface a 100-TB deployment
exercises constantly (executor loss, rolling deploys, planned
restarts).  The reference's analog is its create/stop-cycle stress
(test/e2e/stress_test.go:19-53); Spark's contract is stronger: offsets,
watermark and every stateful operator's state recover from the
checkpoint, so a restarted query must produce EXACTLY the output of an
uninterrupted run over the same input.

Each custom stateful kernel class is split mid-replay so state
genuinely crosses the restart (a counting window half-filled, an open
CEP partial run, accumulated lateness partials, analytic accumulator
history, the lookup stage's per-worker init memo):

- phase 1 replays the first K micro-batches with AvailableNow and runs
  to completion (clean stop at a committed boundary);
- phase 2 compiles the SAME statement into a FRESH StreamSQL plan and a
  FRESH StreamingExecutor (what a new driver process does), points it
  at the SAME checkpoint + input dir with the remaining batches added;
- the concatenated output must equal the uninterrupted run, and the
  state-crossing fire must land in PHASE 2 (proving it used recovered
  state, not a coincidental re-read).

A second tier hard-stops a processingTime-trigger query MID-replay
(q.stop() with unprocessed files still queued) and restarts: Spark
re-runs the last uncommitted batch, so the in-process sink is
at-least-once — the assertion is set-equality over unique fire
contents (no lost and no phantom fires; state itself is versioned per
batch and never double-applied).

Runs on the RocksDBStateStoreProvider in a SUBPROCESS (provider is a
session-construction conf; the suite's shared session must stay up).
"""

import os
import subprocess
import sys

_COMMON = r"""
import datetime, json, os, sys, time
os.environ["SPARK_GRAFT_ROCKSDB_STATE"] = "1"
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
import streamsql_spark as ss
from streamsql_spark.session import get_spark
from streamsql_spark.streaming.harness import StreamReplay
from streamsql_spark.streaming.executor import StreamingExecutor
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

spark = get_spark("restart-recovery", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
assert "RocksDB" in spark.conf.get(
    "spark.sql.streaming.stateStore.providerClass")

SCHEMA = StructType([StructField("k", StringType()),
                     StructField("v", DoubleType()),
                     StructField("ts", LongType())])


def _norm_v(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_norm_v(x) for x in v]
    return v


def norm(rows):
    return sorted(json.dumps({k: _norm_v(v) for k, v in sorted(r.items())},
                             sort_keys=True) for r in rows)


def make_holder(sql, tables=None, sources=None):
    s = ss.StreamSQL(spark)
    s.execute(sql)
    for name, rows in (tables or {}).items():
        s.register_table(name, rows)
    for src in (sources or []):
        s.register_table_source(src)
    return s


def run_phase(holder, replay, acc, timeout=240):
    split = getattr(holder, "_stream_lookup_sources", None)
    ex = StreamingExecutor(
        spark, dict(getattr(holder, "_tables", None) or {}),
        lookup_sources=(split() if callable(split)
                        else dict(getattr(holder, "_table_sources",
                                          None) or {})))
    q = ex.start(holder.plan, replay.stream(),
                 sink=lambda rows: acc.extend(rows),
                 checkpoint=replay.checkpoint)
    q.awaitTermination(timeout)
    if q.isActive:
        q.stop()
        raise AssertionError("phase did not drain in time")
    e = q.exception()
    assert e is None, e


def uninterrupted(sql, batches, **kw):
    replay = StreamReplay(spark, SCHEMA)
    try:
        for b in batches:
            replay.add_batch(b)
        acc = []
        run_phase(make_holder(sql, **kw), replay, acc)
        return acc
    finally:
        replay.cleanup()


def with_restart(sql, batches, split_at, **kw):
    '''Two AvailableNow runs over ONE checkpoint: returns (all rows,
    rows delivered by the restarted phase).'''
    replay = StreamReplay(spark, SCHEMA)
    try:
        acc = []
        for b in batches[:split_at]:
            replay.add_batch(b)
        run_phase(make_holder(sql, **kw), replay, acc)
        pre = len(acc)
        for b in batches[split_at:]:
            replay.add_batch(b)
        # FRESH plan + executor against the SAME checkpoint/input —
        # the restarted-driver shape
        run_phase(make_holder(sql, **kw), replay, acc)
        return acc, acc[pre:]
    finally:
        replay.cleanup()


def check(name, sql, batches, split_at, expect_in_phase2, **kw):
    base = uninterrupted(sql, batches, **kw)
    got, phase2 = with_restart(sql, batches, split_at, **kw)
    assert norm(got) == norm(base), (
        name, "restart output differs", norm(got), norm(base))
    p2 = norm(phase2)
    for want in expect_in_phase2:
        assert any(want in r for r in p2), (
            name, "state-crossing fire missing from restarted phase",
            want, p2)
    print("CASE_OK\t" + name + "\t" + str(len(base)))
"""

_GLOBAL_TRIGGER_CASE = r"""
# ---- GLOBAL WINDOW TRIGGER WHEN (FIRE_AND_PURGE): the trigger
# predicate crosses the restart, then a second accumulation follows
check(
    "global_trigger",
    "SELECT k, count(*) AS cnt, round(sum(v), 4) AS total FROM stream "
    "GROUP BY k GLOBAL WINDOW TRIGGER WHEN count(*) >= 3 "
    "WITH (TIMESTAMP='ts')",
    [
        [{"k": "a", "v": 1.0, "ts": 1}, {"k": "b", "v": 10.0, "ts": 2}],
        [{"k": "a", "v": 2.0, "ts": 3}, {"k": "b", "v": 20.0, "ts": 4}],
        [{"k": "a", "v": 4.0, "ts": 5}, {"k": "b", "v": 40.0, "ts": 6}],
        [{"k": "a", "v": 8.0, "ts": 7}, {"k": "a", "v": 16.0, "ts": 8},
         {"k": "a", "v": 32.0, "ts": 9}],  # post-purge second fire
    ],
    2,
    ['"total": 7.0', '"total": 70.0', '"total": 56.0'],
)

"""

_WINDOW_BODY = r"""
# ---- counting window: 'a' and 'b' are 2/3 full at the split — the
# fire in phase 2 sums values from BOTH sides of the restart
check(
    "counting",
    "SELECT k, count(*) AS n, round(sum(v), 4) AS s FROM stream "
    "GROUP BY k, CountingWindow(3) WITH (TIMESTAMP='ts')",
    [
        [{"k": "a", "v": 1.0, "ts": 1}, {"k": "b", "v": 10.0, "ts": 2}],
        [{"k": "a", "v": 2.0, "ts": 3}, {"k": "b", "v": 20.0, "ts": 4}],
        [{"k": "a", "v": 4.0, "ts": 5}, {"k": "b", "v": 40.0, "ts": 6}],
        [{"k": "a", "v": 8.0, "ts": 7}],  # remainder state, no fire
    ],
    2,
    ['"s": 7.0', '"s": 70.0'],  # 1+2+4 and 10+20+40 span the restart
)

""" + _GLOBAL_TRIGGER_CASE + r"""
# ---- ALLOWEDLATENESS: [0,10s) fires before the split; the late 8.0
# arrives AFTER the restart and must re-emit the window with the
# RECOVERED accumulated partials (3.0,2 -> 11.0,3) and the SAME
# window_id — impossible unless state survived the restart
check(
    "lateness",
    "SELECT k, round(sum(v), 4) AS s, count(*) AS n FROM stream "
    "GROUP BY k, TumblingWindow('10s') "
    "WITH (TIMESTAMP='ts', TIMEUNIT='ms', "
    "MAXOUTOFORDERNESS='2s', ALLOWEDLATENESS='20s')",
    [
        [{"k": "d1", "v": 1.0, "ts": 1000},
         {"k": "d1", "v": 2.0, "ts": 5000}],
        [{"k": "d1", "v": 4.0, "ts": 13000}],
        [{"k": "d1", "v": 0.25, "ts": 24000}],
        [{"k": "d1", "v": 0.25, "ts": 30000}],  # fires [0,10s)=(3.0,2)
        # ---------------- split: restart with fired-window partials held
        [{"k": "d1", "v": 8.0, "ts": 9000}],    # late -> re-emit 11.0,3
        [{"k": "d1", "v": 0.5, "ts": 55000}],
        [{"k": "d1", "v": 100.0, "ts": 6000},   # beyond lateness: drop
         {"k": "d1", "v": 0.5, "ts": 56000}],
    ],
    4,
    ['"s": 11.0'],
)
print("ALL_OK")
"""

_ROW_BODY = r"""
# ---- analytic accumulators: lag/acc_sum history crosses the restart —
# the first phase-2 row's prev/rs must continue phase-1 state exactly
check(
    "analytic",
    "SELECT k, v, lag(v) OVER (PARTITION BY k) AS prev, "
    "round(acc_sum(v) OVER (PARTITION BY k), 4) AS rs, "
    "acc_count(v) OVER (PARTITION BY k) AS rc FROM stream "
    "WITH (TIMESTAMP='ts')",
    [
        [{"k": "a", "v": 1.0, "ts": 1}, {"k": "b", "v": 10.0, "ts": 2}],
        [{"k": "a", "v": 2.0, "ts": 3}],
        [{"k": "a", "v": 4.0, "ts": 5}, {"k": "b", "v": 20.0, "ts": 6}],
        [{"k": "b", "v": 40.0, "ts": 7}],
    ],
    2,
    ['"prev": 2.0', '"rs": 7.0', '"prev": 10.0', '"rs": 70.0'],
)

# ---- CEP: the A of PATTERN (A B) arrives before the split, the B
# after — the match emits only if the open partial run was recovered;
# a same-batch pre-split match checks nothing fires twice
check(
    "cep",
    "SELECT k, a_ts, b_ts FROM stream MATCH_RECOGNIZE ("
    " PARTITION BY k ORDER BY ts"
    " MEASURES A.ts AS a_ts, B.ts AS b_ts"
    " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
    " PATTERN (A B) DEFINE A AS v > 80, B AS v < 20"
    " WITHIN '1h'"
    ") WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
    [
        [{"k": "p", "v": 90.0, "ts": 1000},
         {"k": "p", "v": 5.0, "ts": 2000},       # full match pre-split
         {"k": "q", "v": 85.0, "ts": 1500}],     # open partial run (A)
        [{"k": "p", "v": 50.0, "ts": 2200}],     # noise; q stays open
        [{"k": "q", "v": 3.0, "ts": 3500},       # adjacent B for q —
         {"k": "p", "v": 95.0, "ts": 4000}],     # closes POST-restart
        [{"k": "p", "v": 6.0, "ts": 5000}],      # second p match
    ],
    2,
    ['"a_ts": 1500', '"b_ts": 3500'],
)

# ---- lookup-source join: the worker-side probe stage re-runs init()
# in fresh phase-2 tasks; enrichment and join state must be seamless
class Tiers:
    def name(self):
        return "m"

    def schema(self):
        return "tier STRING"

    def init(self):
        self._t = {"a": "gold", "b": "silver"}

    def lookup(self, key):
        if not hasattr(self, "_t"):
            self.init()
        t = self._t.get(key)
        return ({"tier": t}, True) if t is not None else (None, False)


check(
    "lookup_join",
    "SELECT k, v, m.tier AS tier FROM stream "
    "INNER JOIN m ON k = m.k WITH (TIMESTAMP='ts')",
    [
        [{"k": "a", "v": 1.0, "ts": 1}, {"k": "c", "v": 9.0, "ts": 2}],
        [{"k": "b", "v": 2.0, "ts": 3}],
        [{"k": "a", "v": 4.0, "ts": 5}, {"k": "b", "v": 8.0, "ts": 6}],
    ],
    2,
    ['"tier": "gold"', '"tier": "silver"'],
    sources=[Tiers()],
)
print("ALL_OK")
"""

_HARD_STOP_BODY = r"""
# Hard stop MID-replay: all files staged up front, processingTime
# trigger, q.stop() after >=2 sink deliveries with files still queued.
# foreachBatch + driver sink is at-least-once across a hard stop (the
# last uncommitted batch re-runs), so the bar is unique-fire
# set-equality; every fire's content is unique by construction.
sql = ("SELECT k, count(*) AS n, round(sum(v), 4) AS s FROM stream "
       "GROUP BY k, CountingWindow(2) WITH (TIMESTAMP='ts')")
batches = [[{"k": "a", "v": float(2 ** i), "ts": i * 10 + j}
            for j in range(2)] for i in range(8)]
base = uninterrupted(sql, batches)

replay = StreamReplay(spark, SCHEMA)
try:
    for b in batches:
        replay.add_batch(b)
    acc = []
    holder = make_holder(sql)
    ex = StreamingExecutor(spark, {})
    deliveries = []
    q = ex.start(holder.plan, replay.stream(),
                 sink=lambda rows: (acc.extend(rows),
                                    deliveries.append(len(rows))),
                 trigger={"processingTime": "0 seconds"},
                 checkpoint=replay.checkpoint)
    t0 = time.time()
    while len(deliveries) < 2 and time.time() - t0 < 180:
        time.sleep(0.2)
    assert len(deliveries) >= 2, "no progress before hard stop"
    q.stop()          # mid-replay: queued files remain unprocessed
    q.awaitTermination(60)

    run_phase(make_holder(sql), replay, acc)  # recover + drain the rest
    assert set(norm(acc)) == set(norm(base)), (
        "unique fires differ after hard stop",
        sorted(set(norm(acc)) ^ set(norm(base))))
    # state was never double-applied: every unique fire appears in the
    # uninterrupted run, and none is missing
    print("HARD_STOP_OK\t" + str(len(base)) + "\t" + str(len(acc)))
finally:
    replay.cleanup()
print("ALL_OK")
"""


def _run(script: str, timeout: int = 900):
    env = dict(os.environ)
    r = subprocess.run([sys.executable, "-c", script], env=env,
                       capture_output=True, text=True, timeout=timeout,
                       cwd=os.path.dirname(os.path.dirname(__file__)))
    assert "ALL_OK" in r.stdout, (r.stdout[-3000:], r.stderr[-3000:])
    return r.stdout


# One subprocess for ALL recovery cases (r13 suite-runtime work): each
# body is independent flat script text over the _COMMON helpers, so a
# single Spark session runs every case — the five per-group
# subprocesses each paid ~17 s of JVM+session startup for identical
# coverage.  Tests below assert their own named markers from the
# shared stdout.
import pytest


def test_restart_recovery_smoke():
    """Default-tier representative of the slow rig below: the GLOBAL
    WINDOW TRIGGER WHEN kernel's running-aggregate state crosses a
    RocksDB checkpoint stop+restart (its own ~1 min subprocess)."""
    out = _run(_COMMON + _GLOBAL_TRIGGER_CASE + 'print("ALL_OK")\n',
               timeout=900)
    assert "CASE_OK\tglobal_trigger\t" in out, out


# slow tier (r14): one ~8 min subprocess rig — restart recovery is
# re-verified opt-in (`-m slow`) after any streaming/state change
@pytest.fixture(scope="module")
def recovery_out():
    return _run(_COMMON + _WINDOW_BODY + _ROW_BODY + _HARD_STOP_BODY
                + _CONF_BODY + _EXTRA_BODY, timeout=1800)


@pytest.mark.slow
def test_restart_recovery_window_kernels(recovery_out):
    """Counting / global-TRIGGER-WHEN / lateness kernels recover from a
    RocksDB checkpoint across a stop+restart with state mid-flight."""
    for case in ("counting", "global_trigger", "lateness"):
        assert f"CASE_OK\t{case}\t" in recovery_out, (case, recovery_out)


@pytest.mark.slow
def test_restart_recovery_row_kernels(recovery_out):
    """Analytic / CEP / lookup-join stages recover from a RocksDB
    checkpoint across a stop+restart with state mid-flight."""
    for case in ("analytic", "cep", "lookup_join"):
        assert f"CASE_OK\t{case}\t" in recovery_out, (case, recovery_out)


@pytest.mark.slow
def test_restart_recovery_hard_stop_mid_replay(recovery_out):
    """A hard q.stop() with unprocessed input queued, then restart:
    no fire is lost, none is fabricated (at-least-once sink contract;
    state versioning prevents double-application)."""
    assert "HARD_STOP_OK" in recovery_out, recovery_out


_CONF_BODY = r"""
# Restarting with a DIFFERENT spark.sql.shuffle.partitions is the
# classic production trap: Spark pins the stateful operator's
# partition count in the checkpoint at first run, so a conf change on
# restart must neither crash nor redistribute state — output equals
# the uninterrupted run regardless.
sql = ("SELECT k, count(*) AS n, round(sum(v), 4) AS s FROM stream "
       "GROUP BY k, CountingWindow(3) WITH (TIMESTAMP='ts')")
batches = [
    [{"k": "a", "v": 1.0, "ts": 1}, {"k": "b", "v": 10.0, "ts": 2}],
    [{"k": "a", "v": 2.0, "ts": 3}, {"k": "b", "v": 20.0, "ts": 4}],
    [{"k": "a", "v": 4.0, "ts": 5}, {"k": "b", "v": 40.0, "ts": 6}],
]
base = uninterrupted(sql, batches)

replay = StreamReplay(spark, SCHEMA)
try:
    acc = []
    for b in batches[:2]:
        replay.add_batch(b)
    run_phase(make_holder(sql), replay, acc)
    # the conf change a redeploy might ship — state stays on the
    # checkpoint's original partitioning
    spark.conf.set("spark.sql.shuffle.partitions", "11")
    replay.add_batch(batches[2])
    run_phase(make_holder(sql), replay, acc)
    assert norm(acc) == norm(base), (norm(acc), norm(base))
    print("CONF_CHANGE_OK")
finally:
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    replay.cleanup()

# ---- lookup enrichment feeding a STATEFUL analytic across restart:
# two recovery surfaces in one query (the worker stage's per-process
# init memo + the analytic kernel's accumulator state)
class Tiers2:
    def name(self):
        return "m"

    def schema(self):
        return "w DOUBLE"

    def lookup(self, key):
        t = {"a": 2.0, "b": 10.0}.get(key)
        return ({"w": t}, True) if t is not None else (None, False)


check(
    "lookup_plus_analytic",
    "SELECT k, round(acc_sum(v * m.w) OVER (PARTITION BY k), 4) AS ws "
    "FROM stream INNER JOIN m ON k = m.k WITH (TIMESTAMP='ts')",
    [
        [{"k": "a", "v": 1.0, "ts": 1}, {"k": "b", "v": 1.0, "ts": 2}],
        [{"k": "a", "v": 2.0, "ts": 3}],
        [{"k": "a", "v": 4.0, "ts": 5}, {"k": "b", "v": 2.0, "ts": 6}],
    ],
    2,
    ['"ws": 14.0', '"ws": 30.0'],  # 2*(1+2+4), 10*(1+2) span the restart
    sources=[Tiers2()],
)
print("ALL_OK")
"""


@pytest.mark.slow
def test_restart_recovery_conf_change_and_lookup_analytic(recovery_out):
    """Shuffle-partition conf change on restart (state stays on the
    checkpoint's pinned partitioning) and a lookup-enriched stateful
    analytic recovering both surfaces."""
    assert "CONF_CHANGE_OK" in recovery_out, recovery_out
    assert "CASE_OK\tlookup_plus_analytic\t" in recovery_out, recovery_out


_EXTRA_BODY = r"""
# ---- session window (native Spark session_window aggregation): an
# OPEN session spans the restart — phase-2 rows extend it and the
# merged session fires once, with the recovered accumulation
check(
    "session",
    "SELECT k, count(*) AS n, round(sum(v), 4) AS s FROM stream "
    "GROUP BY k, SessionWindow('5s') "
    "WITH (TIMESTAMP='ts', TIMEUNIT='ms')",
    [
        [{"k": "a", "v": 1.0, "ts": 1000},
         {"k": "a", "v": 2.0, "ts": 3000}],   # open session [1s..3s]
        [{"k": "b", "v": 10.0, "ts": 2000}],
        # ---------------- split: a's session still open in state
        [{"k": "a", "v": 4.0, "ts": 6000}],   # extends a's session
        [{"k": "a", "v": 0.5, "ts": 30000},   # gap: closes a + b
         {"k": "b", "v": 0.5, "ts": 31000}],
        [{"k": "a", "v": 0.25, "ts": 60000},  # advance watermark so
         {"k": "b", "v": 0.25, "ts": 61000}], # the 30s sessions fire
        [{"k": "a", "v": 0.1, "ts": 90000}],
    ],
    2,
    ['"s": 7.0'],  # 1+2+4 merged across the restart
)

# ---- CEP under a MAXOUTOFORDERNESS reorder horizon: the held tail
# (rows inside watermark-horizon) is part of the kernel's state — a
# match COMPLETED before the split but still held by the horizon must
# emit after restart, when newer data advances the watermark
check(
    "cep_horizon",
    "SELECT k, a_ts, b_ts FROM stream MATCH_RECOGNIZE ("
    " PARTITION BY k ORDER BY ts"
    " MEASURES A.ts AS a_ts, B.ts AS b_ts"
    " ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW"
    " PATTERN (A B) DEFINE A AS v > 80, B AS v < 20"
    " WITHIN '1h'"
    ") WITH (TIMESTAMP='ts', TIMEUNIT='ms', MAXOUTOFORDERNESS='5s')",
    [
        [{"k": "p", "v": 90.0, "ts": 1000},
         {"k": "p", "v": 5.0, "ts": 2000}],   # match complete, HELD
        # ---------------- split: held tail + completed match in state
        [{"k": "p", "v": 50.0, "ts": 20000}], # watermark 15s: releases
        [{"k": "p", "v": 95.0, "ts": 30000},
         {"k": "p", "v": 6.0, "ts": 31000}],  # second match
        [{"k": "p", "v": 40.0, "ts": 60000}], # advance: releases 2nd
    ],
    1,
    ['"b_ts": 2000', '"b_ts": 31000'],
)
print("ALL_OK")
"""


@pytest.mark.slow
def test_restart_recovery_session_and_cep_horizon(recovery_out):
    """Native session-window state and the CEP reorder-horizon held
    tail both recover from a RocksDB checkpoint across restart."""
    for case in ("session", "cep_horizon"):
        assert f"CASE_OK\t{case}\t" in recovery_out, (case, recovery_out)
