"""Semantic analysis: SelectStmt AST → QueryPlan.

Tree-based version of the reference's ``AST.ToStreamConfig``
(rulego/streamsql ``rsql/ast.go:57-322``): exec-mode classification,
default-window injection, aggregate lifting (post-aggregation
expressions, ``rsql/ast.go:1417-1724``), hidden HAVING aggregates
(``rsql/ast.go:561-623``), analytic-call extraction
(``rsql/ast.go:410-468``), and window_start/window_end resolution.
"""

from __future__ import annotations

from ..functions import registry
from ..plans.plan import (TIMEUNIT_SECONDS, AggSpec, AnalyticSpec, JoinPlan,
                          OutputField, QueryPlan)
from . import nodes as N
from .render import Renderer, render

WINDOW_START_COL = "window_start"
WINDOW_END_COL = "window_end"


class PlanError(ValueError):
    pass


def _has_aggregate(e: N.Expr) -> bool:
    for node in N.walk(e):
        if isinstance(node, N.Func) and registry.is_aggregate(node.name) \
                and node.name.lower() not in ("min", "max") :
            return True
        if isinstance(node, N.Func) and node.name.lower() in ("min", "max") and node.over is None:
            # min/max with a single arg are aggregates in this dialect
            return True
        if isinstance(node, N.Func) and node.name.lower() in registry.WINDOW_CONTEXT_FUNCS:
            return True
    return False


def _has_analytic(e: N.Expr) -> bool:
    return any(isinstance(n, N.Func) and registry.is_analytic(n.name) for n in N.walk(e))


def _default_name(e: N.Expr, i: int) -> str:
    if isinstance(e, N.Col):
        last = e.parts[-1]
        if isinstance(last, N.MapKey):
            return last.key
        return str(last)
    if isinstance(e, N.Func):
        return e.name.lower()
    if isinstance(e, N.Lit) and isinstance(e.value, str) and e.value.strip() \
            and not (e.value.startswith("__") and e.value.endswith("__")):
        # an unaliased string literal names itself by its content
        # (rsql/ast.go:158-166; test/e2e/quoted_test.go asserts
        # result["normal"] for a bare 'normal' in the SELECT list).
        # Dunder-shaped content keeps the synthetic name: __x__ would
        # collide with the engine's hidden-helper column convention.
        return e.value
    return f"col_{i}"


class Planner:
    def __init__(self, stmt: N.SelectStmt):
        self.stmt = stmt
        self.agg_specs: list[AggSpec] = []
        self.analytics: list[AnalyticSpec] = []
        self._agg_by_sql: dict[str, str] = {}
        self._fanout_names: set[str] = set()  # changed_cols outputs
        self.trigger = None  # compiled GLOBAL WINDOW TRIGGER WHEN

    # ------------------------------------------------------------ lifting
    def _lift_aggregates(self, e: N.Expr) -> N.Expr:
        """Replace aggregate calls with placeholder column refs, collecting
        AggSpecs (post-aggregation expressions become plain projections).
        Also resolves window_start()/window_end() context aggregates."""

        def fn(node: N.Expr) -> N.Expr:
            if isinstance(node, N.Func):
                lname = node.name.lower()
                if lname in registry.WINDOW_CONTEXT_FUNCS:
                    if lname == "window_start":
                        self.uses_window_start = True
                        return N.Col((WINDOW_START_COL,))
                    self.uses_window_end = True
                    return N.Col((WINDOW_END_COL,))
                if registry.is_aggregate(lname):
                    arg_renderer = Renderer(agg_mode="forbid")
                    args_sql = [arg_renderer.render(a) for a in node.args]
                    if node.distinct:
                        # DISTINCT-in-aggregate: Spark-native extension
                        # (absent in the reference, SURVEY §2.10); goes
                        # through the registry so the dialect name
                        # mapping (stddev -> stddev_pop, ...) applies
                        try:
                            sql = registry.render_aggregate_distinct(
                                lname, args_sql, node.args)
                        except ValueError as e:
                            raise PlanError(str(e)) from None
                    else:
                        sql = registry.render_aggregate(lname, args_sql, node.args)
                    ph = self._agg_by_sql.get(sql)
                    if ph is None:
                        ph = f"__agg_{len(self.agg_specs)}__"
                        self._agg_by_sql[sql] = ph
                        self.agg_specs.append(AggSpec(ph, sql, node))
                    return N.Col((ph,))
            return node

        return N.transform(e, fn)

    def _lift_analytics(self, e: N.Expr, window_mode: bool = False) -> N.Expr:
        """Replace analytic calls (lag/latest/acc_*/changed...) with
        placeholder refs; the engines compute them statefully/window-wise.

        In window mode the analytic evaluates over window-emission rows
        (state across windows) — aggregate calls inside its args are
        lifted so the spec references aggregate placeholders."""

        def fn(node: N.Expr) -> N.Expr:
            if isinstance(node, N.Func) and registry.is_analytic(node.name):
                if node.name.lower() == "changed_cols":
                    # multi-column output can't embed in a scalar
                    # expression (analytic_acc.go:201-203)
                    raise PlanError("changed_cols must be a standalone "
                                    "SELECT field")
                if node.name.lower() == "lag" and len(node.args) > 1 \
                        and isinstance(node.args[1], N.Lit):
                    # reference validation (functions_analytical.go:23-28)
                    # — a 0/negative/non-integer offset must error at
                    # Execute time: the old falsy guard coerced 0 to
                    # lag-by-1 and int() would truncate 1.5 to 1
                    v = node.args[1].value
                    if isinstance(v, bool) or not isinstance(v, int) \
                            or v <= 0:
                        raise PlanError(
                            "lag offset must be a positive integer")
                over = node.over or N.OverSpec()
                part_sql = [render(p) for p in over.partition_by]
                when_ast = over.when
                if when_ast is not None and any(
                        isinstance(x, N.Func)
                        and registry.is_analytic(x.name)
                        for x in N.walk(when_ast)):
                    # CDC idiom: an analytic call INSIDE the gate
                    # (`lag(x) OVER (WHEN had_changed(true, col))`,
                    # test/e2e/analytic_cdc_test.go:238,
                    # analytic_parity_test.go:168) — lift the inner
                    # analytic into its OWN spec first (appended before
                    # this one, so every execution path computes it
                    # first) and gate on its placeholder
                    when_ast = self._lift_analytics(when_ast, window_mode)
                when_sql = render(when_ast) if when_ast is not None else None
                ph = f"__analytic_{len(self.analytics)}__"
                func = node
                if window_mode:
                    func = N.Func(name=node.name,
                                  args=[self._lift_aggregates(a)
                                        for a in node.args],
                                  over=node.over)
                    # window-output analytics see only aggregated rows:
                    # raw-column arguments cannot resolve there.  The
                    # reference (v1.2) rejects mixing raw-column
                    # analytics with GROUP BY/windows the same way —
                    # analytics are OVER-only on the direct path
                    # (test/e2e/function_advanced_test.go:762-766 skip)
                    group_texts = {render(g) for g in self.stmt.group_by}
                    group_texts |= {WINDOW_START_COL, WINDOW_END_COL}

                    def resolve_key(nref: N.Expr) -> N.Expr:
                        # a QUALIFIED ref to a group key (stream.k with
                        # GROUP BY k) strips its prefix and resolves to
                        # the key value per window emission — the
                        # reference's B4 runtime fix
                        # (analytic_parity_test.go:385-398)
                        if isinstance(nref, N.Col) and len(nref.parts) > 1:
                            bare = N.Col((nref.parts[-1],))
                            if render(bare) in group_texts:
                                return bare
                        return nref

                    func = N.Func(name=func.name,
                                  args=[N.transform(a, resolve_key)
                                        for a in func.args],
                                  over=func.over)
                    for a in func.args:
                        for nref in N.walk(a):
                            if isinstance(nref, N.Col) \
                                    and not str(nref.parts[0]).startswith("__") \
                                    and render(nref) not in group_texts:
                                raise PlanError(
                                    f"analytic {node.name}() over a raw "
                                    f"column cannot be combined with GROUP "
                                    f"BY/windows — wrap an aggregate "
                                    f"(e.g. {node.name}(avg(x))) or use "
                                    f"OVER (PARTITION BY ...) in a "
                                    f"non-windowed query")
                self.analytics.append(AnalyticSpec(
                    ph, func, part_sql, when_sql, window_output=window_mode,
                    when_ast=when_ast))
                return N.Col((ph,))
            return node

        return N.transform(e, fn)

    # -------------------------------------------------------- validation
    def _validate(self) -> None:
        """Parse-time rejection matrix (rsql/ast.go semantic checks,
        sql_check_test.go): nested analytics/aggregates, alias
        collisions, window parameter shapes, GLOBAL without TRIGGER."""
        stmt = self.stmt

        def check_nesting(e: N.Expr, in_analytic: bool, in_agg: bool) -> None:
            if isinstance(e, N.Func):
                removed = registry.per_row_window_rejection(e.name)
                if removed is not None:
                    raise PlanError(removed)
                close = registry.unknown_function_suggestions(e.name)
                if close:
                    # near-miss of a registered function: fail fast with
                    # the suggestion instead of a late Spark analysis
                    # error (rsql/function_validator.go behavior)
                    raise PlanError(
                        f"unknown function {e.name!r} — did you mean "
                        f"{' or '.join(repr(c) for c in close)}?")
                is_an = registry.is_analytic(e.name)
                is_ag = registry.is_aggregate(e.name)
                if is_an and in_analytic:
                    raise PlanError(
                        f"analytic functions cannot be nested: {e.name}")
                if is_an and in_agg:
                    raise PlanError(
                        f"analytic functions cannot be nested in an "
                        f"aggregate: {e.name}")
                if is_ag and in_agg:
                    raise PlanError(
                        f"aggregate function calls cannot be nested: {e.name}")
                for a in e.args:
                    check_nesting(a, in_analytic or is_an, in_agg or is_ag)
                return
            for child in e.children():
                check_nesting(child, in_analytic, in_agg)

        names_seen: set[str] = set()
        for i, f in enumerate(stmt.fields):
            if isinstance(f.expr, N.Star):
                continue
            check_nesting(f.expr, False, False)
            if f.alias:
                name = f.alias
            elif isinstance(f.expr, N.Col):
                # qualified refs strip to their last part in the output
                # row, so `a.location, b.location` both become
                # `location` — a map-shaped result cannot hold both
                # (join_column_naming_test.go:48-87 "ambiguous output
                # column"); aliases resolve the collision.  Use the
                # SAME naming rule the output builder uses
                # (_default_name) so map-key refs compare by their real
                # output name, not the AST node repr
                name = _default_name(f.expr, i)
            else:
                name = None
            if name is not None:
                if name in names_seen:
                    raise PlanError(
                        f"ambiguous output column: {name!r} — two "
                        f"selected columns strip to the same name; "
                        f"disambiguate with AS")
                names_seen.add(name)
        if stmt.having is not None:
            check_nesting(stmt.having, False, False)
        # WHERE / ORDER BY / expression group keys get the same
        # function validation (typo suggestions + removed per-row
        # window functions) — a rejection that only covers SELECT
        # fields lets `WHERE row_number() > 1` crash the data path
        if stmt.where is not None:
            check_nesting(stmt.where, False, False)
        for e, _asc in (stmt.order_by or []):
            check_nesting(e, False, False)
        for g in (stmt.group_by or []):
            if isinstance(g, N.Expr):
                check_nesting(g, False, False)

        w = stmt.window
        if w is not None:
            from ..engine.batch import ExecError, duration_to_seconds
            if w.kind == "global" and w.trigger_when is None:
                raise PlanError("GLOBAL WINDOW requires TRIGGER WHEN "
                                "(rsql/ast.go:73-79)")
            if w.trigger_when is not None:
                from ..operators.global_window import Trigger
                from .pyeval import ExprError
                try:  # compiled once; both GLOBAL WINDOW kernels run it
                    self.trigger = Trigger(w.trigger_when)
                except ExprError as exc:
                    raise PlanError(str(exc)) from None
            if w.kind == "counting" and not isinstance(w.count, int):
                raise PlanError("CountingWindow expects an integer count")
            for dur in [getattr(w, a, None) for a in ("size", "slide", "gap")]:
                if dur is not None:
                    try:
                        duration_to_seconds(dur)
                    except ExecError as exc:
                        raise PlanError(str(exc)) from exc

    # ------------------------------------------------------------- build
    def plan(self) -> QueryPlan:
        stmt = self.stmt
        self.uses_window_start = False
        self.uses_window_end = False
        self._validate()

        if stmt.match is not None:
            mode = "cep"
            if stmt.group_by or stmt.window is not None:
                raise PlanError("MATCH_RECOGNIZE cannot be combined with "
                                "GROUP BY/windows (rsql/ast.go:248-274)")
            if stmt.match.pattern is None:
                raise PlanError("MATCH_RECOGNIZE requires a PATTERN clause")
            from ..cep.program import Program
            from .pyeval import ExprError
            # an expression outside the core fails now, never per row.
            # Validation only: the kernels compile the spec they run,
            # which join-ref flattening and lookup rewrites change
            # after planning (and streaming adds its MAXNAVOFFSET cap)
            try:
                Program(stmt.match)
            except ExprError as exc:
                raise PlanError(str(exc)) from None
        else:
            has_agg = any(not isinstance(f.expr, N.Star) and _has_aggregate(f.expr)
                          for f in stmt.fields)
            has_agg = has_agg or (stmt.having is not None) or bool(stmt.group_by) \
                or stmt.window is not None
            mode = "window" if has_agg else "direct"

        window = stmt.window
        # The reference injects a default 10s tumbling window for aggregates
        # without one (rsql/ast.go:136-140) — a *streaming* necessity.  In
        # batch, no window = plain relational aggregate; the streaming
        # builder applies the 10s default at readStream time instead.

        plan = QueryPlan(
            mode=mode,
            stmt=stmt,
            source=stmt.source,
            source_alias=stmt.source_alias,
            window=window,
            limit=stmt.limit,
            distinct=stmt.distinct,
            options=dict(stmt.with_opts),
            trigger=self.trigger,
        )
        ts_field = stmt.with_opts.get("TIMESTAMP")
        if ts_field:
            plan.event_time_col = ts_field
        # Reference's unit switch is case-sensitive and silently keeps the
        # ms default for any unrecognized value, including 's' and 'us'
        # (rsql/parser.go:1141-1162) — normalize here so every downstream
        # consumer (batch event-time, watermark, CEP WITHIN/horizon) sees
        # only a known unit.
        tu = stmt.with_opts.get("TIMEUNIT", "ms")
        plan.timeunit = tu if tu in TIMEUNIT_SECONDS else "ms"

        src_alias = stmt.source_alias or stmt.source
        if stmt.joins:
            # unqualified refs resolve to the stream side — the stream is
            # primary, table columns are alias-qualified (reference
            # rewriteQualifiedRefs, stream/processor_field.go:61-264)
            table_names = {j.alias or j.table for j in stmt.joins} \
                | {j.table for j in stmt.joins} | {src_alias}

            def qualify(node: N.Expr) -> N.Expr:
                if isinstance(node, N.Col) and len(node.parts) == 1 \
                        and str(node.parts[0]) not in table_names:
                    return N.Col((src_alias, node.parts[0]))
                return node

            if stmt.match is None:
                # with MATCH_RECOGNIZE, the outer SELECT / ORDER BY
                # project MEASURE rows, not stream columns — only the
                # pre-match WHERE sees the enriched stream row
                for f in stmt.fields:
                    if not isinstance(f.expr, N.Star):
                        f.expr = N.transform(f.expr, qualify)
                stmt.order_by = [(N.transform(e, qualify), asc)
                                 for e, asc in stmt.order_by]
            if stmt.where is not None:
                stmt.where = N.transform(stmt.where, qualify)
            if stmt.having is not None:
                stmt.having = N.transform(stmt.having, qualify)
            stmt.group_by = [N.transform(g, qualify) for g in stmt.group_by]
            for j in stmt.joins:
                if j.on is not None:
                    j.on = N.transform(j.on, qualify)
        for j in stmt.joins:
            on_sql = render(j.on) if j.on is not None else None
            plan.joins.append(JoinPlan(j.kind, j.table, j.alias, on_sql))

        # WHERE — may contain analytic calls (placeholder-injected pre-filter,
        # rsql/ast.go:314-319); aggregates are rejected (standard SQL).
        if stmt.where is not None:
            w = stmt.where
            if _has_analytic(w):
                # A BARE value-typed analytic as the whole predicate
                # selects rows where it returned non-nil — changes to
                # 0/'' still pass (analytic_parity_test.go:356-368,
                # "值型分析函数走 nil 判定"); boolean analytics
                # (had_changed) filter on their own value.  Without the
                # wrap Spark rejects the non-boolean filter at analysis.
                bare_value = (isinstance(w, N.Func)
                              and registry.is_analytic(w.name)
                              and w.name.lower() != "had_changed")
                w = self._lift_analytics(w)
                if bare_value:
                    w = N.IsNull(operand=w, negated=True)
            plan.where_sql = render(w, agg_mode="forbid")

        if mode == "window":
            self._plan_window(plan)
        elif mode == "direct":
            self._plan_direct(plan)
        else:
            self._plan_cep(plan)

        plan.analytics = self.analytics
        plan.uses_window_start = self.uses_window_start
        plan.uses_window_end = self.uses_window_end
        if self._fanout_names:
            # order-INDEPENDENT duplicate check over the FINAL output
            # list (review find r12: the in-loop guard only saw outputs
            # planned earlier, so `changed_cols('', true, region),
            # region` — field AFTER the fan-out — still produced two
            # 'region' columns and a silent dict-sink drop).  Scoped to
            # fan-out names: duplicate PLAIN projections keep their
            # pre-existing behavior.
            from collections import Counter
            counts = Counter(o.name for o in plan.outputs if not o.star)
            dup = next((n for n in sorted(self._fanout_names)
                        if counts[n] > 1), None)
            if dup is not None:
                raise PlanError(
                    f"changed_cols fan-out name {dup!r} collides with "
                    "another output column — alias the statement or "
                    "drop the duplicate member")
        return plan

    def _expand_changed_cols(self, plan: QueryPlan, call: N.Func,
                             window_mode: bool = False) -> None:
        """changed_cols(prefix, ignoreNull, cols...) fans out to one
        typed output column per watched column (prefix+name), NULL when
        unchanged — the fixed-schema rendering of the reference's
        dynamic multi-column output (analytic_acc.go:195-205,
        stream/analytic.go:236-290)."""
        if len(call.args) < 3:
            raise PlanError("changed_cols(prefix, ignoreNull, col...) "
                            "needs at least 3 arguments")
        prefix = call.args[0].value if isinstance(call.args[0], N.Lit) else ""
        over = call.over or N.OverSpec()
        part_sql = [render(p) for p in over.partition_by]
        when_sql = render(over.when) if over.when is not None else None
        stmt = self.stmt
        known_roots = {stmt.source_alias or stmt.source, stmt.source} \
            | {j.alias or j.table for j in stmt.joins} \
            | {j.table for j in stmt.joins}
        used_names = {o.name for o in plan.outputs}
        for a in call.args[2:]:
            if isinstance(a, N.Lit) and a.value == "*":
                raise PlanError("changed_cols(..., \"*\") needs a declared "
                                "schema — list the columns explicitly")
            fan = getattr(a, "_fanout_name", None)
            if fan is not None:
                # windowed star member: the facade watches the window
                # RESULT row's field (reference result-row key), so the
                # fan-out name is the field's OUTPUT name, not the
                # expression's rendering
                colname = fan
            elif isinstance(a, N.Col):
                # a source/table qualifier is scope resolution, not part
                # of the fan-out name: the reference names outputs
                # prefix+fieldName off the event map's bare keys
                # (analytic_acc.go:195-205).  If stripping would collide
                # with an earlier fan-out member (deviceId AND
                # m.deviceId both watched), the later member keeps its
                # dotted name — duplicate output names silently drop a
                # column in dict sinks (review find r11)
                parts = a.parts
                if len(parts) > 1 and str(parts[0]) in known_roots \
                        and f"{prefix}" + ".".join(
                            str(p) for p in parts[1:]) not in used_names:
                    parts = parts[1:]
                colname = ".".join(str(p) for p in parts)
            elif isinstance(a, N.Func):
                colname = a.name.lower()  # avg(t) → "avg" display name
            else:
                colname = render(a)
            if f"{prefix}{colname}" in used_names:
                # regardless of member ORDER: a bare member colliding
                # with an earlier stripped-qualifier member (w.region
                # then region) has no dotted fallback — two identical
                # output names silently drop a column in dict sinks,
                # so fail typed instead (ADVICE r12)
                raise PlanError(
                    f"changed_cols fan-out name {prefix}{colname!r} is "
                    "produced by more than one watched column — alias "
                    "the statement or drop the duplicate member")
            self._fanout_names.add(f"{prefix}{colname}")
            ph = f"__analytic_{len(self.analytics)}__"
            arg = self._lift_aggregates(a) if window_mode else a
            # thread the ignoreNull flag through (analytic_acc.go:168-185:
            # nil is skipped entirely — no emit, baseline kept)
            synth = N.Func(name="__changed_value__", args=[arg, call.args[1]])
            self.analytics.append(AnalyticSpec(
                ph, synth, part_sql, when_sql, window_output=window_mode))
            used_names.add(f"{prefix}{colname}")
            plan.outputs.append(OutputField(name=f"{prefix}{colname}", sql=ph))

    def _plan_direct(self, plan: QueryPlan) -> None:
        stmt = self.stmt
        for i, f in enumerate(stmt.fields):
            if isinstance(f.expr, N.Star):
                plan.outputs.append(OutputField(name="*", star=True,
                                                star_qualifier=f.expr.qualifier))
                continue
            if isinstance(f.expr, N.Func) and f.expr.name.lower() == "changed_cols":
                self._expand_changed_cols(plan, f.expr)
                continue
            e = self._lift_analytics(f.expr)
            name = f.alias or _default_name(f.expr, i)
            if isinstance(f.expr, N.Func) and f.expr.name.lower() in registry.MULTIROW_FUNCS:
                plan.outputs.append(OutputField(
                    name=f.alias or "unnest",
                    unnest_sql=render(f.expr.args[0]) if f.expr.args else None))
                continue
            plan.outputs.append(OutputField(name=name, sql=render(e)))
        for e, asc in stmt.order_by:
            plan.order_by.append((render(e), asc))

    def _plan_window(self, plan: QueryPlan) -> None:
        stmt = self.stmt
        # group keys: plain fields or scalar expressions (injected per-row,
        # stream/processor_field.go:208-226)
        for g in stmt.group_by:
            plan.group_sqls.append(render(g))

        for i, f in enumerate(stmt.fields):
            if isinstance(f.expr, N.Star):
                raise PlanError("SELECT * is not supported with GROUP BY/window aggregation")
            if isinstance(f.expr, N.Func) and f.expr.name.lower() == "changed_cols":
                self._expand_changed_cols(plan, f.expr, window_mode=True)
                continue
            e = f.expr
            if _has_analytic(e):
                # window-output analytic (state across windows,
                # stream/processor_data.go:443-453)
                e = self._lift_analytics(e, window_mode=True)
            e = self._lift_aggregates(e)
            name = f.alias or _default_name(f.expr, i)
            plan.outputs.append(OutputField(name=name, sql=render(e)))

        if stmt.having is not None:
            # HAVING may reference SELECT aliases (mapped back to their source
            # expressions, rsql/ast.go:561) and aggregates not in SELECT
            # (hidden __having_N__ fields in the reference, rsql/ast.go:561-623
            # — here they just become extra lifted AggSpecs never projected).
            alias_map = {f.alias.lower(): f.expr for f in stmt.fields if f.alias}

            def sub_alias(node: N.Expr) -> N.Expr:
                if isinstance(node, N.Col) and len(node.parts) == 1 \
                        and str(node.parts[0]).lower() in alias_map:
                    return alias_map[str(node.parts[0]).lower()]
                return node

            h = N.transform(stmt.having, sub_alias)
            h = self._lift_aggregates(h)
            plan.having_sql = render(h)
        for e, asc in stmt.order_by:
            e2 = self._lift_aggregates(e)
            plan.order_by.append((render(e2), asc))
        plan.agg_specs = self.agg_specs

    def _plan_cep(self, plan: QueryPlan) -> None:
        # outer SELECT over measure rows (stream/stream.go:400-409)
        stmt = self.stmt
        for i, f in enumerate(stmt.fields):
            if isinstance(f.expr, N.Star):
                plan.outputs.append(OutputField(name="*", star=True,
                                                star_qualifier=f.expr.qualifier))
            else:
                name = f.alias or _default_name(f.expr, i)
                plan.outputs.append(OutputField(name=name, sql=render(f.expr)))
        for e, asc in stmt.order_by:
            plan.order_by.append((render(e), asc))


def plan(stmt: N.SelectStmt) -> QueryPlan:
    return Planner(stmt).plan()
