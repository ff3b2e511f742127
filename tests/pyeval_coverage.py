"""Pyeval coverage report over the reference-mined conformance corpus.

The per-event in-process path (dialect/pyeval.py) answers "the proven
subset" of direct-path queries at microsecond latency, falling back to
the Spark semantics oracle for everything else.  This script measures
HOW MUCH of the reference's own query corpus takes the fast path:

- every statement the conformance sweep can parse+plan is classified:
  shape-gated (windows/CEP/joins/analytics/DISTINCT/ORDER/LIMIT/unnest
  — executor machinery by design, not pyeval targets), pyeval-compiled
  (fast path), or MISSED (direct-shaped but uncompilable);
- each miss is diagnosed to its minimal uncompilable construct
  (function name / node kind), histogrammed — the whitelist worklist.

Not a pytest (run manually; the number lands in BASELINE.md):

    python3 tests/pyeval_coverage.py
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from conformance_sweep import run_sweep  # noqa: E402

from streamsql_spark.dialect import nodes as N  # noqa: E402
from streamsql_spark.dialect.parser import parse  # noqa: E402
from streamsql_spark.dialect.planner import plan as make_plan  # noqa: E402
from streamsql_spark.dialect.pyeval import (  # noqa: E402
    compile_direct, compile_expr)


def _label(e) -> str:
    if isinstance(e, N.Func):
        if e.over is not None:
            return f"fn:{e.name.lower()}/OVER"
        return f"fn:{e.name.lower()}"
    if isinstance(e, N.Col):
        return "col:multipart" if len(e.parts) != 1 or not isinstance(
            e.parts[0], str) else "col"
    if isinstance(e, N.Bin):
        return f"op:{e.op}"
    if isinstance(e, N.Un):
        return f"unary:{e.op}"
    return type(e).__name__


def _miss_nodes(e):
    """Minimal uncompilable subtrees of ``e`` (children first: a Func
    whose arg is the real blocker reports the arg, not itself)."""
    if e is None or compile_expr(e, "UTC") is not None:
        return []
    bad = [m for k in e.children() for m in _miss_nodes(k)]
    return bad or [e]


def shape_gate(plan) -> str | None:
    """The facade's pyeval eligibility gate (api/facade.py
    _emit_sync_python), as a reason string; None = direct-shaped."""
    if plan.mode == "window":
        return "shape:window"
    if plan.mode == "cep":
        return "shape:cep"
    if plan.joins:
        return "shape:join"
    if plan.analytics:
        return "shape:analytic"
    if plan.distinct:
        return "shape:distinct"
    if plan.order_by:
        return "shape:order_by"
    if plan.limit is not None:
        return "shape:limit"
    if not plan.outputs:
        return "shape:no_outputs"
    if any(getattr(o, "unnest_sql", None) is not None
           for o in plan.outputs):
        return "shape:unnest"
    return None


def _register_reference_fixture_udfs() -> None:
    """The corpus statements that call square/f_to_c/circle_area/
    mask_phone/func01/func02 come from reference e2e tests that
    REGISTER those functions first (test/e2e custom-function suites) —
    mirror the registrations so the coverage number reflects the
    harness those statements assume.  Registered directly into the
    registry's scalar table (compile-time measurement needs no Spark
    session; the declared types drive the result-type contract)."""
    from pyspark.sql.types import DoubleType, LongType, StringType

    from streamsql_spark.functions import registry

    def square(x):
        return None if x is None else float(x) * float(x)

    def f_to_c(f):
        return None if f is None else (float(f) - 32.0) * 5.0 / 9.0

    def circle_area(r):
        import math
        return None if r is None else math.pi * float(r) * float(r)

    def mask_phone(s):
        return None if s is None else (s[:3] + "****" + s[-4:]
                                       if len(s) >= 7 else s)

    def str_length(s):
        return None if s is None else len(str(s))

    fixtures = {
        "square": (square, DoubleType()),
        "f_to_c": (f_to_c, DoubleType()),
        "circle_area": (circle_area, DoubleType()),
        "mask_phone": (mask_phone, StringType()),
        "func01": (square, DoubleType()),
        "func02": (str_length, LongType()),
    }
    registry._CUSTOM_SCALARS.update(fixtures)


def _is_error_shaped(stmt) -> bool:
    """True when the statement calls a function name NEITHER engine can
    resolve (not in the dialect registry, not runtime-registered, not a
    Spark builtin): it raises on BOTH paths by design (the corpus keeps
    the reference's negative tests), so it is not a fast-path
    candidate and must not depress the coverage denominator."""
    from streamsql_spark.functions.registry import (
        unknown_function_suggestions)
    for e in [f.expr for f in stmt.fields] + [stmt.where]:
        for node in N.walk(e):
            if isinstance(node, N.Func) \
                    and unknown_function_suggestions(node.name) is not None:
                return True
    return False


def main() -> None:
    _register_reference_fixture_udfs()
    planned, _, _ = run_sweep()
    shape = Counter()
    miss = Counter()
    compiled = direct = error_shaped = 0
    miss_examples: dict[str, str] = {}
    for rel, stmt_sql in planned:
        stmt = parse(stmt_sql)
        try:
            plan = make_plan(stmt)
        except Exception:
            continue  # sweep-planned but alt-planner rejects: skip
        gate = shape_gate(plan)
        if gate is not None:
            shape[gate] += 1
            continue
        if _is_error_shaped(stmt):
            error_shaped += 1
            continue
        direct += 1
        if compile_direct(stmt, "UTC") is not None:
            compiled += 1
            continue
        reasons = {_label(m) for f in stmt.fields
                   for m in _miss_nodes(f.expr)} | \
                  {_label(m) for m in _miss_nodes(stmt.where)}
        reasons = reasons or {"star:qualified"}
        for r in sorted(reasons):
            miss[r] += 1
            miss_examples.setdefault(r, stmt_sql[:120])

    total = direct + sum(shape.values()) + error_shaped
    print(f"planned statements: {total}")
    print(f"shape-gated (executor machinery by design): "
          f"{sum(shape.values())}")
    for k, v in shape.most_common():
        print(f"  {k}: {v}")
    print(f"error-shaped (unknown function — raises on both paths): "
          f"{error_shaped}")
    print(f"direct-shaped: {direct}")
    pct = 100.0 * compiled / direct if direct else 0.0
    print(f"pyeval fast path: {compiled}/{direct} = {pct:.1f}%")
    print("top fallback causes:")
    for k, v in miss.most_common(15):
        print(f"  {k}: {v}   e.g. {miss_examples[k]}")


if __name__ == "__main__":
    main()
