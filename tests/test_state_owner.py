"""Engine state has an owner and a lifetime.

- The session time zone is read by ``StreamSQL.execute()`` and bound
  into every in-process compile, so one instance's zone never leaks
  into another's statements (or into Python workers).
- Streaming GetStats totals and their listener belong to the
  ``StreamSQL`` instance that started the queries, until ``stop()``.
- The catalog replay caches are keyed by the events input's content,
  so a regenerated input is never served stale state.
- The custom function registry cannot replace a dialect builtin.
- A failing text-analysis run leaves no persisted corpus behind.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest
from test_plans import SF_DIR

from streamsql_spark.api.facade import _NOT_APPLICABLE, StreamSQL
from streamsql_spark.dialect.parser import parse
from streamsql_spark.dialect.planner import PlanError, plan
from streamsql_spark.dialect.pyeval import ExprError

NY = "America/New_York"
ROW = {"s": "2024-01-01 00:00:00"}
UTC_EPOCH, NY_EPOCH = 1704067200, 1704085200

CEP_TO_SECONDS = """
    SELECT m FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES to_seconds(A.s) AS m
        ONE ROW PER MATCH
        PATTERN (A)
        DEFINE A AS v > 0)
"""
TRIGGER_TO_SECONDS = (
    "SELECT k, count(*) AS n FROM stream GROUP BY k GLOBAL WINDOW "
    "TRIGGER WHEN count(*) > to_seconds('2024-01-01 00:00:00') - "
    f"{UTC_EPOCH} WITH (TIMESTAMP='ts')")


@pytest.fixture(scope="module")
def ny(spark):
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", NY)
    return s


def _cep_rows(spark):
    return spark.createDataFrame(
        [(1, 1.0, ROW["s"])], "ts bigint, v double, s string")


def test_cep_measures_zone_function_refused_under_non_utc(spark, ny):
    """MEASURES to_seconds(A.s) answers the UTC epoch in-process, so
    under a New York session it fails typed at execute() — on the
    query() and start_stream() routes alike — and both match kernels
    refuse a plan bound to that zone, instead of answering 1704067200
    where Spark answers 1704085200."""
    from streamsql_spark.cep.executor import execute_cep
    from streamsql_spark.streaming.stateful import cep_stream

    assert ny.sql(f"SELECT unix_timestamp(CAST('{ROW['s']}' AS TIMESTAMP))"
                  ).first()[0] == NY_EPOCH
    with pytest.raises(PlanError, match="UTC session zone"):
        StreamSQL(ny).execute(CEP_TO_SECONDS)
    p = plan(parse(CEP_TO_SECONDS))
    p.zone = NY
    for kernel in (lambda: execute_cep(ny, p, _cep_rows(ny), None),
                   lambda: cep_stream(ny, p, _cep_rows(ny))):
        with pytest.raises(ExprError, match="UTC session zone"):
            kernel()
    # the UTC session still answers in-process, with the UTC epoch
    got = StreamSQL(spark).execute(CEP_TO_SECONDS).query(
        _cep_rows(spark)).collect()
    assert [r["m"] for r in got] == [UTC_EPOCH]


def test_trigger_when_zone_function_refused_under_non_utc(spark, ny):
    from streamsql_spark.operators.global_window import Trigger

    with pytest.raises(PlanError, match="UTC session zone"):
        StreamSQL(ny).execute(TRIGGER_TO_SECONDS)
    with pytest.raises(ExprError, match="UTC session zone"):
        Trigger(parse(TRIGGER_TO_SECONDS).window.trigger_when, NY)
    assert StreamSQL(spark).execute(TRIGGER_TO_SECONDS).plan.zone == "UTC"


def test_execute_outcome_independent_of_other_instances(spark, ny):
    """Whether a statement plans depends on its own session only, not
    on which zone another instance's emit_sync saw last."""
    def outcomes():
        out = []
        for sess in (spark, ny):
            try:
                StreamSQL(sess).execute(CEP_TO_SECONDS)
                out.append("ok")
            except PlanError:
                out.append("PlanError")
        return out

    before = outcomes()
    for sess, want in ((ny, NY_EPOCH), (spark, UTC_EPOCH), (ny, NY_EPOCH)):
        s = StreamSQL(sess).execute("SELECT to_seconds(s) AS t FROM stream")
        assert s.emit_sync(dict(ROW)) == {"t": want}
        assert outcomes() == before == ["ok", "PlanError"]


def test_utc_instance_stays_in_process_after_non_utc_emit_sync(spark, ny):
    u = StreamSQL(spark).execute("SELECT to_seconds(s) AS t FROM stream")
    assert u._emit_sync_python(dict(ROW)) == {"t": UTC_EPOCH}
    n = StreamSQL(ny).execute("SELECT to_seconds(s) AS t FROM stream")
    assert n._emit_sync_python(dict(ROW)) is _NOT_APPLICABLE
    assert n.emit_sync(dict(ROW)) == {"t": NY_EPOCH}
    assert u._emit_sync_python(dict(ROW)) == {"t": UTC_EPOCH}


def _run_counted_stream(spark, n_rows: int, sink_path=None):
    """One instance, one stream of ``n_rows`` rows: a callback sink
    (foreachBatch) or, with ``sink_path``, the native file sink."""
    from pyspark.sql.types import DoubleType, StringType, StructField, \
        StructType

    from streamsql_spark.streaming.harness import StreamReplay

    s = StreamSQL(spark).execute("SELECT k, v FROM stream WHERE v > 0")
    replay = StreamReplay(spark, StructType([
        StructField("k", StringType()), StructField("v", DoubleType())]))
    try:
        replay.add_batch([{"k": f"k{i}", "v": 1.0 + i}
                          for i in range(n_rows)])
        sink = {"sink_path": sink_path} if sink_path \
            else {"sink": lambda rows: None}
        q = s.start_stream(replay.stream(), checkpoint=replay.checkpoint,
                           **sink)
        assert q.awaitTermination(120)
        deadline = time.time() + 30
        while s.get_stats()["input_count"] < n_rows \
                and time.time() < deadline:
            time.sleep(0.2)
    finally:
        replay.cleanup()
    return s


def _listener_registered(spark, listener) -> bool:
    return any(j.equals(listener._jlistener)
               for j in spark.streams._jsqm.listListeners())


def test_stop_releases_listener_and_totals(spark, tmp_path):
    """Each instance owns its totals; only a query without a
    foreachBatch drain (the native file sink) needs a listener, and
    stop() removes it and releases the totals without touching another
    instance's."""
    s1 = _run_counted_stream(spark, 3, sink_path=str(tmp_path / "out"))
    s2 = _run_counted_stream(spark, 5)
    assert s1.get_stats()["input_count"] == 3
    assert s1.get_stats()["output_count"] == 3
    assert s2.get_stats()["input_count"] == 5
    p1, p2 = s1._progress, s2._progress
    assert _listener_registered(spark, p1)
    assert not _listener_registered(spark, p2)
    s1.stop()
    assert not _listener_registered(spark, p1)
    assert s1._progress is None
    assert s1.get_stats()["input_count"] == 0
    assert s2.get_stats()["input_count"] == 5
    assert s2.get_stats()["output_count"] == 5
    s2.stop()
    assert s2._progress is None


def test_replay_caches_follow_rewritten_events_input(spark, tmp_path):
    """An events input regenerated in place gets a fresh key count and
    fresh staged replay input, not the memo of its old content."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from streamsql_spark import catalog as cat

    src = f"{SF_DIR}/events.parquet"
    if not os.path.exists(src):
        pytest.skip("testdata not available")
    sf = str(tmp_path)
    shutil.copy(src, f"{sf}/events.parquet")
    builds = []

    def build(raw, nanos_cols, in_dir):
        builds.append(raw.count())
        raw.write.parquet(in_dir)

    cache: dict = {}
    n1 = cat._replay_key_count(spark, sf, ("user_id",))
    cat._staged_events_stream(spark, sf, cache, "ssql_test_", build)
    staged1 = [t.name for t in cache.values()]
    # the memo serves a repeat call without rebuilding
    cat._staged_events_stream(spark, sf, cache, "ssql_test_", build)
    assert len(builds) == 1

    t = pq.read_table(f"{sf}/events.parquet")
    users = pa.array(sorted(set(t.column("user_id").to_pylist()))[:3])
    pq.write_table(t.filter(pc.is_in(t.column("user_id"), value_set=users)),
                   f"{sf}/events.parquet")
    try:
        assert n1 > 3
        assert cat._replay_key_count(spark, sf, ("user_id",)) == 3
        cat._staged_events_stream(spark, sf, cache, "ssql_test_", build)
        assert len(builds) == 2 and builds[1] < builds[0]
        assert [t.name for t in cache.values()] != staged1
        assert not os.path.exists(staged1[0])  # old staging removed
    finally:
        cat._drop_staging(cache, sf)


def test_registry_refuses_builtin_names(spark):
    from streamsql_spark.functions import registry as r

    avg = r.AGG_RENDERERS["avg"]
    s = StreamSQL(spark)
    for register, name in (
            (lambda n: s.register_function(n, abs, "double"), "concat"),
            (lambda n: s.register_aggregate_function(n, len), "avg"),
            (lambda n: s.register_analytic_function(n, object), "lag"),
            (lambda n: s.register_function(n, abs), "unnest"),
            (lambda n: s.register_function(n, abs), "WINDOW_START")):
        with pytest.raises(r.FunctionNameError, match="builtin"):
            register(name)
    assert r.AGG_RENDERERS["avg"] is avg
    # a custom name may be registered again, and renders as itself
    for _ in range(2):
        s.register_aggregate_function("zz_so_sum", lambda v: v.sum())
    assert r.is_aggregate("zz_so_sum")
    assert "zz_so_sum" not in r.AGG_RENDERERS
    assert r.render_aggregate("zz_so_sum", ["x"], []) == "zz_so_sum(x)"


def test_text_analysis_unpersists_base_on_failure(spark, monkeypatch):
    """_run_text_analysis persists a (doc_id, text) copy of the corpus;
    a failure before it is handed to the next run's drain must free it
    instead of leaving it cached for the life of the process."""
    from streamsql_spark import catalog_ext, session
    from streamsql_spark.operators import text

    if not os.path.exists(SF_DIR):
        pytest.skip("testdata not available")
    based = []
    real = session.ensure_parallelism

    def spy(df, *a, **kw):
        based.append(real(df, *a, **kw))
        return based[-1]

    def boom(df, *a, **kw):
        assert based[0].is_cached
        raise RuntimeError("ppl_buckets failed")

    monkeypatch.setattr(session, "ensure_parallelism", spy)
    monkeypatch.setattr(text, "ppl_buckets", boom)
    with pytest.raises(RuntimeError, match="ppl_buckets failed"):
        catalog_ext._run_text_analysis(spark, SF_DIR)
    assert len(based) == 1 and not based[0].is_cached
    assert based[0] not in text._PPL_PERSISTED
