"""Typed query plan — the tree-shaped analog of the reference's flat
``types.Config`` (rulego/streamsql ``types/config.go``), consumed by the
batch and streaming engines.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..dialect import nodes as N


@dataclass
class AggSpec:
    """One aggregate call lifted out of SELECT/HAVING/ORDER BY."""

    placeholder: str          # generated column name, e.g. __agg_0__
    sql: str                  # rendered Spark SQL aggregate expression
    func: N.Func              # original call (for streaming/state builds)


@dataclass
class AnalyticSpec:
    """One stateful analytic call (lag/latest/had_changed/acc_*, §2.6)."""

    placeholder: str
    func: N.Func
    partition_by: list[str] = field(default_factory=list)  # rendered SQL
    when_sql: str | None = None
    # True = evaluated over window-emission rows with state persisting
    # across windows (stream/processor_data.go:443-453); func args then
    # reference aggregate placeholders
    window_output: bool = False
    # the OVER (WHEN ...) condition as an AST with any NESTED analytic
    # calls already lifted to placeholder refs (CDC idiom
    # `lag(x) OVER (WHEN had_changed(true, col))`,
    # test/e2e/analytic_cdc_test.go:238) — when_sql is its rendering;
    # the per-event python path compiles THIS instead of func.over.when
    # (which still holds the raw nested call)
    when_ast: object | None = None


@dataclass
class OutputField:
    name: str
    sql: str | None = None     # rendered post-agg/projection expression
    star: bool = False
    star_qualifier: str | None = None
    unnest_sql: str | None = None  # argument of unnest(...) if multirow


@dataclass
class JoinPlan:
    kind: str
    table: str
    alias: str | None
    on_sql: str | None


# WITH (TIMEUNIT=...) — the reference's exact, case-sensitive unit set
# (rsql/parser.go:1149-1160: dd=day, hh=hour, mi=minute, ss=second,
# ms=millisecond, ns=nanosecond); any other value silently keeps the
# millisecond default (rsql/parser.go:1141-1142,1161-1162). Value is the
# length of one unit in seconds.
TIMEUNIT_SECONDS: dict[str, float] = {
    "dd": 86400.0, "hh": 3600.0, "mi": 60.0,
    "ss": 1.0, "ms": 1e-3, "ns": 1e-9,
}

# Units-per-second, written out explicitly rather than as 1/TIMEUNIT_SECONDS:
# 1/1e-9 == 999999999.9999999 in doubles, which would shave the last unit off
# an exact WITHIN/horizon boundary.
TIMEUNIT_PER_SECOND: dict[str, float] = {
    "dd": 1.0 / 86400.0, "hh": 1.0 / 3600.0, "mi": 1.0 / 60.0,
    "ss": 1.0, "ms": 1000.0, "ns": 1e9,
}


@dataclass
class QueryPlan:
    mode: str                         # direct | window | cep
    stmt: N.SelectStmt
    source: str = "stream"
    source_alias: str | None = None
    event_time_col: str | None = None # column named by WITH (TIMESTAMP=...)
    timeunit: str = "ms"              # key of TIMEUNIT_SECONDS (for long columns)
    joins: list[JoinPlan] = field(default_factory=list)
    where_sql: str | None = None
    analytics: list[AnalyticSpec] = field(default_factory=list)
    # window mode
    window: N.WindowSpec | None = None
    group_sqls: list[str] = field(default_factory=list)
    agg_specs: list[AggSpec] = field(default_factory=list)
    having_sql: str | None = None
    trigger: object = None            # GLOBAL WINDOW: global_window.Trigger
    zone: str = "UTC"                 # session time zone planned under
    # shared tail
    outputs: list[OutputField] = field(default_factory=list)
    order_by: list[tuple] = field(default_factory=list)  # [(sql, asc)]
    limit: int | None = None
    distinct: bool = False
    # window context usage
    uses_window_start: bool = False
    uses_window_end: bool = False
    # options from WITH(...)
    options: dict = field(default_factory=dict)


def where_filters_first(plan: "QueryPlan") -> bool:
    """WHERE-vs-analytics ordering (stream.go:659-671
    applyWhereAndAnalytic): standard SQL filters FIRST — analytic state
    sees only surviving rows — UNLESS the WHERE references an analytic
    placeholder (CDC mode), where analytics evaluate first and the
    filter reads their results.  ONE definition: every execution path
    (batch, streaming, pyeval, the Spark sync fallback) must agree, or
    the same query orders differently per path."""
    return bool(plan.where_sql) and not any(
        a.placeholder in plan.where_sql for a in plan.analytics)
