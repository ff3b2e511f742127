"""One Python expression core: CEP DEFINE/MEASURES and GLOBAL WINDOW
TRIGGER WHEN compile through dialect/pyeval.py.

Each probe asserts Spark's answer for the same values (checked here
against ``spark.sql`` or ``emit_sync``), so the match kernels and the
trigger kernels cannot drift from the SELECT path's semantics.  An
expression the core cannot compile fails at ``execute()`` with a typed
error, and a runtime value outside the core raises ``ExprError`` —
never "no match" or "not fired".
"""

from __future__ import annotations

import time

import numpy as np
import pytest

from streamsql_spark.api.facade import StreamSQL
from streamsql_spark.dialect import nodes as N
from streamsql_spark.dialect.parser import parse
from streamsql_spark.dialect.planner import PlanError
from streamsql_spark.dialect.pyeval import ExprError
from streamsql_spark.streaming.harness import run_streaming_collect


def _batch(spark, sql, rows):
    s = StreamSQL(spark)
    s.execute(sql)
    for r in rows:
        s.emit(dict(r))
    return s.trigger_window()


# ------------------------------------------------------------- CEP probes
_FIRST_LETTER_SQL = """SELECT * FROM stream MATCH_RECOGNIZE (
    ORDER BY ts
    MEASURES A.s AS a, B.s AS b
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A B)
    DEFINE B AS upper(substring(B.s, 0, 1))
                != upper(substring(PREV(B.s), 0, 1))
) WITH (TIMESTAMP='ts')"""


def test_define_substring_prev_matches_spark(spark):
    """A DEFINE over substring() of PREV() classifies with Spark's
    values: the walker knew 13 functions and read the unsupported
    substring as "no match", so this returned 0 matches."""
    words = ["apple", "Avocado", "banana", "Berry", "cherry", "date",
             "Dill", "egg", "Eel", "fig"]
    rows = [{"ts": i + 1, "s": w} for i, w in enumerate(words)]
    # Spark's classification of every row as B (LAG = PREV)
    flags = [r["f"] is True for r in spark.createDataFrame(rows).selectExpr(
        "ts", "upper(substring(s, 1, 1)) != upper(substring("
        "lag(s) OVER (ORDER BY ts), 1, 1)) AS f").orderBy("ts").collect()]
    want, i = [], 0
    while i + 1 < len(words):  # (A B), A ≡ TRUE, SKIP PAST LAST ROW
        if flags[i + 1]:
            want.append((words[i], words[i + 1]))
            i += 2
        else:
            i += 1
    assert len(want) == 4
    got = [(r["a"], r["b"]) for r in _batch(spark, _FIRST_LETTER_SQL, rows)]
    assert got == want


def test_measure_modulo_takes_dividend_sign(spark):
    """MEASURES A.v % 3 on -7 is Spark's -1 (Java remainder), not
    Python's 2."""
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES A.v % 3 AS m
        ONE ROW PER MATCH
        PATTERN (A)
        DEFINE A AS v < 0
    ) WITH (TIMESTAMP='ts')"""
    want = spark.sql("SELECT CAST(-7 AS BIGINT) % 3 AS m").first()["m"]
    s = StreamSQL(spark)
    s.execute("SELECT v % 3 AS m FROM stream")
    assert s.emit_sync({"v": -7})["m"] == want == -1
    assert [r["m"] for r in _batch(spark, sql, [{"ts": 1, "v": -7}])] \
        == [want]


def test_measure_substring_is_typed_string(spark):
    """MEASURES substring(...) is a string column on both the batch and
    the streaming kernel (the old typing table read unknown functions
    as double)."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        PARTITION BY k
        ORDER BY ts
        MEASURES substring(A.s, 0, 1) AS c
        ONE ROW PER MATCH
        PATTERN (A B)
        DEFINE A AS v > 0, B AS v < 0
    ) WITH (TIMESTAMP='ts')"""
    schema = StructType([StructField("k", StringType()),
                         StructField("s", StringType()),
                         StructField("v", LongType()),
                         StructField("ts", LongType())])
    rows = [{"k": "a", "s": "xyz", "v": 1, "ts": 1},
            {"k": "a", "s": "q", "v": -1, "ts": 2},
            {"k": "a", "s": "end", "v": 0, "ts": 3}]
    s = StreamSQL(spark)
    s.execute(sql)
    df = s.query(spark.createDataFrame(rows, schema))
    assert isinstance(df.schema["c"].dataType, StringType)
    assert [r["c"] for r in df.collect()] == ["x"]
    s2 = StreamSQL(spark)
    s2.execute(sql)
    got = run_streaming_collect(spark, s2, [rows], schema, tables={})
    assert [r["c"] for r in got] == ["x"]


def _cep_both(spark, sql, rows, schema):
    """(output schema, rows) of query(), and the streaming kernel's
    rows (split across two micro-batches)."""
    s = StreamSQL(spark)
    s.execute(sql)
    df = s.query(spark.createDataFrame(rows, schema))
    s2 = StreamSQL(spark)
    s2.execute(sql)
    mid = len(rows) // 2
    got = run_streaming_collect(spark, s2, [rows[:mid], rows[mid:]],
                                schema, tables={})
    return df.schema, [r.asDict() for r in df.collect()], got


def test_measure_fractional_literal_is_double(spark):
    """A fractional literal in MEASURES is a double, as the program
    computes it: Spark SQL reads `1.1` as DECIMAL, and typing the
    output column that way broke the Arrow hand-off of a value like
    3 * 1.1 = 3.3000000000000003."""
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES A.v * 1.1 AS m,
                 CASE WHEN A.v > 0 THEN 1.5 ELSE 0.5 END AS c,
                 MATCH_NUMBER() + 0.5 AS n
        ONE ROW PER MATCH
        PATTERN (A)
        DEFINE A AS v != 0
    ) WITH (TIMESTAMP='ts')"""
    schema = StructType([StructField("v", LongType()),
                         StructField("ts", LongType())])
    rows = [{"v": 3, "ts": 1}, {"v": -2, "ts": 2}]
    want = [tuple(r) for r in spark.sql(
        "SELECT CAST(v AS BIGINT) * 1.1D, IF(v > 0, 1.5D, 0.5D), "
        "CAST(n AS BIGINT) + 0.5D FROM VALUES (3, 1), (-2, 2) AS t(v, n)"
    ).collect()]
    assert want[0][0] == 3.3000000000000003
    out_schema, batch, stream = _cep_both(spark, sql, rows, schema)
    for f in ("m", "c", "n"):
        assert isinstance(out_schema[f].dataType, DoubleType), f
    assert [(r["m"], r["c"], r["n"]) for r in batch] == want
    assert [(r["m"], r["c"], r["n"]) for r in stream] == want


def test_define_timestamp_comparison_matches_spark(spark):
    """A DEFINE comparing timestamps (B.t > PREV(B.t)) classifies as
    Spark does on query() and on the streaming kernel — the core
    compares two timestamps directly instead of failing the row."""
    import datetime as dt

    from pyspark.sql.types import (LongType, StructField, StructType,
                                   TimestampType)

    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES FIRST(A.ts) AS a, LAST(B.ts) AS b
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A B+)
        DEFINE B AS B.t > PREV(B.t)
    ) WITH (TIMESTAMP='ts')"""
    schema = StructType([StructField("t", TimestampType()),
                         StructField("ts", LongType())])
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    mins = [5, 1, 2, 9, 3, 4, 0, 7, 8, 6]
    rows = [{"t": base + dt.timedelta(minutes=m), "ts": i + 1}
            for i, m in enumerate(mins)]
    flags = [r["f"] is True for r in spark.createDataFrame(rows, schema)
             .selectExpr("ts", "t > lag(t) OVER (ORDER BY ts) AS f")
             .orderBy("ts").collect()]
    want, i = [], 0
    while i + 1 < len(rows):  # (A B+), A ≡ TRUE, SKIP PAST LAST ROW
        j = i + 1
        while j < len(rows) and flags[j]:
            j += 1
        if j > i + 1:
            want.append((i + 1, j))
            i = j
        else:
            i += 1
    assert want == [(2, 4), (5, 6), (7, 9)]
    _, batch, stream = _cep_both(spark, sql, rows, schema)
    assert [(r["a"], r["b"]) for r in batch] == want
    assert [(r["a"], r["b"]) for r in stream] == want


def test_define_infinity_compares_like_spark(spark):
    """±Infinity orders as in Spark (only NaN stays outside the core):
    A.v > 100 holds for Infinity and not for -Infinity."""
    sql = """SELECT * FROM stream MATCH_RECOGNIZE (
        ORDER BY ts
        MEASURES A.ts AS t
        ONE ROW PER MATCH
        PATTERN (A)
        DEFINE A AS A.v > 100
    ) WITH (TIMESTAMP='ts')"""
    vals = [float("inf"), 5.0, float("-inf"), 200.0]
    flags = [r["f"] for r in spark.sql(
        "SELECT v > 100 AS f FROM VALUES (double('Infinity'), 1), "
        "(5.0D, 2), (double('-Infinity'), 3), (200.0D, 4) AS t(v, i) "
        "ORDER BY i").collect()]
    want = [i + 1 for i, f in enumerate(flags) if f]
    assert want == [1, 4]
    rows = [{"v": v, "ts": i + 1} for i, v in enumerate(vals)]
    assert [r["t"] for r in _batch(spark, sql, rows)] == want
    s = StreamSQL(spark)
    s.execute("SELECT v > 100 AS f FROM stream")
    assert [s.emit_sync({"v": v})["f"] for v in vals] == flags


def test_cep_expression_outside_core_fails_typed(spark):
    """No silent "no match": an uncompilable DEFINE fails at
    execute(), a runtime value outside the core raises ExprError."""
    from streamsql_spark.cep.engine import run_partition

    with pytest.raises(PlanError, match="DEFINE A"):
        StreamSQL(spark).execute(
            "SELECT * FROM stream MATCH_RECOGNIZE (ORDER BY ts "
            "MEASURES COUNT(*) AS n ONE ROW PER MATCH PATTERN (A) "
            "DEFINE A AS exp(v) > 1)")
    spec = parse("SELECT * FROM stream MATCH_RECOGNIZE (ORDER BY ts "
                 "MEASURES COUNT(*) AS n ONE ROW PER MATCH PATTERN (A B) "
                 "DEFINE B AS v / PREV(v) > 1)").match
    rows = [{"ts": 1, "v": 0}, {"ts": 2, "v": 5}]
    with pytest.raises(ExprError, match="DEFINE B"):
        run_partition(spec, rows, [1.0, 2.0], None)


# ------------------------------------------------ TRIGGER WHEN probes
def _trigger_sql(pred):
    return ("SELECT k, count(*) AS n, sum(v) AS s FROM stream "
            f"GROUP BY k GLOBAL WINDOW TRIGGER WHEN {pred} "
            "WITH (TIMESTAMP='ts')")


def _trigger_both(spark, pred, rows):
    """Window (n, s) per fire on the batch segmenter and the streaming
    kernel (rows split across micro-batches)."""
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    sql = _trigger_sql(pred)
    batch = [(r["n"], r["s"]) for r in _batch(spark, sql, rows)]
    schema = StructType([StructField("k", StringType()),
                         StructField("v", DoubleType()),
                         StructField("w", DoubleType()),
                         StructField("ts", LongType())])
    s = StreamSQL(spark)
    s.execute(sql)
    got = run_streaming_collect(spark, s, [rows[:2], rows[2:5], rows[5:]],
                                schema, tables={})
    stream = sorted((r["n"], r["s"]) for r in got)
    return batch, stream


def test_trigger_null_or_fires_three_valued(spark):
    """sum(w) > 100 OR count(*) >= 3 with w NULL: NULL OR TRUE is TRUE
    (Spark), so it fires at rows 3 and 6 — the eval() path raised
    TypeError on None > 100 and read it as "not fired" until row 7."""
    assert spark.sql("SELECT CAST(NULL AS DOUBLE) > 100 OR 3 >= 3 AS f"
                     ).first()["f"] is True
    rows = [{"k": "a", "v": 1.0, "w": None, "ts": i} for i in range(1, 8)]
    batch, stream = _trigger_both(spark, "sum(w) > 100 OR count(*) >= 3",
                                  rows)
    assert [n for n, _ in batch] == [3, 3]
    assert [n for n, _ in stream] == [3, 3]


def test_trigger_modulo_fires_at_negative_sum(spark):
    """sum(v) % 4 = -1 fires at sum = -5: Spark's -5.0 % 4 is -1.0."""
    assert spark.sql("SELECT -5.0D % 4 AS m").first()["m"] == -1.0
    rows = [{"k": "a", "v": v, "w": None, "ts": i + 1}
            for i, v in enumerate([-2.0, -3.0, 7.0, 1.0, 1.0, 1.0])]
    batch, stream = _trigger_both(spark, "sum(v) % 4 = -1", rows)
    assert batch == stream == [(2, -5.0)]


def test_trigger_outside_core_fails_typed():
    """A trigger the core cannot compile fails at execute(); a runtime
    value outside it (division by a zero sum) raises ExprError instead
    of "not fired"."""
    from streamsql_spark.dialect.planner import plan
    from streamsql_spark.operators.global_window import Trigger

    with pytest.raises(PlanError, match="TRIGGER WHEN"):
        plan(parse(_trigger_sql("exp(sum(v)) > 1")))
    trig = Trigger(parse(_trigger_sql("count(*) / sum(v) > 1"))
                   .window.trigger_when)
    with pytest.raises(ExprError, match="TRIGGER WHEN"):
        trig.fired(trig.new(), {"v": [0.0]}, 0)


def test_trigger_resumes_pre_accumulator_checkpoint():
    """A streaming GLOBAL WINDOW checkpoint written while TRIGGER WHEN
    kept {"_a<k>": value} plus counts resumes with the same running
    aggregates, and the next row folds in as on fresh state."""
    from streamsql_spark.operators.global_window import Trigger
    from streamsql_spark.streaming.aggutil import acc_result
    from streamsql_spark.streaming.stateful import _legacy_trigger_accs

    trig = Trigger(parse(_trigger_sql(
        "count(*) >= 9 OR sum(v) > 99 OR avg(v) < -99 OR min(v) < -99 "
        "OR max(v) > 99 OR count(w) > 9")).window.trigger_when)
    cols = {"v": [1.0, None, 4.0], "w": [None, 2.0, None]}
    fresh = trig.new()
    for i in range(3):
        assert not trig.fired(fresh, cols, i)
    # the old kernel's layout after the same three rows
    legacy = _legacy_trigger_accs(
        trig, {"_a1": 5.0, "_a2": (5.0, 2), "_a3": 1.0, "_a4": 4.0},
        {"_a0": 3, "_a5": 1})

    def results(accs):
        return [acc_result(k, a) for (k, _), a in zip(trig.aggs, accs)]

    assert results(legacy) == results(fresh) == [3, 5.0, 2.5, 1.0, 4.0, 1]
    assert results(_legacy_trigger_accs(trig, {}, {})) \
        == results(trig.new())
    nxt = {"v": [-300.0], "w": [7.0]}
    assert trig.fired(legacy, nxt, 0) is trig.fired(fresh, nxt, 0) is True
    assert results(legacy) == results(fresh)


# ------------------------------------------------------- match drive
def test_match_drive_has_no_match_cap():
    """PATTERN (A B) over 300 000 alternating rows yields all 150 000
    matches — the drive used to stop at 100 000 per key and drop the
    rest without an error."""
    from streamsql_spark.cep.engine import Matcher

    spec = N.MatchSpec()
    spec.pattern = N.PSeq([N.PSym("A"), N.PSym("B")])
    n = 300_000
    a = np.zeros(n, dtype=bool)
    a[0::2] = True
    t0 = time.perf_counter()
    m = Matcher(spec, [{}] * n, pre_cls={"A": a, "B": ~a})
    got = m.find_all()
    assert len(got) == n // 2
    assert got[-1] == [(n - 2, "A"), (n - 1, "B")]
    assert time.perf_counter() - t0 < 5.0
