"""MATCH_RECOGNIZE DEFINE / MEASURES compiled onto the pyeval core.

The reference evaluates them through the expression bridge its SELECT
uses (``functions/expr_bridge.go``); here they compile with the core
``emit_sync`` uses (:func:`..dialect.pyeval.compile_strict`), so every
operator, function and three-valued rule is pyeval's.  This module
only supplies the match-dependent leaves — symbol-qualified refs
(``cep/eval.go:362-380``), PREV/NEXT/FIRST/LAST, aggregates over bound
rows, CLASSIFIER(), MATCH_NUMBER(), FINAL/RUNNING — as pyeval ``Slot``
nodes that read one mutable :class:`MatchView`.
"""

from __future__ import annotations

from ..dialect import nodes as N
from ..dialect.pyeval import ExprError, Slot, compile_strict, sql_text

_AGGS = {"sum", "avg", "count", "min", "max"}


class NavOffsetCapError(ExprError):
    """A DYNAMIC PREV/NEXT offset evaluated beyond the declared
    MAXNAVOFFSET cap on the streaming kernel — raised typed instead of
    silently reading nil where the batch paths see a value (the
    kernel's context retention is sized by the cap)."""


class MatchView:
    """What a compiled expression reads: the partition rows, the
    bindings so far ``[(row index, symbol)]``, the row under evaluation
    (``pos``; None = FINAL, the whole match), the symbol being
    classified (DEFINE only) and the match number.  One per matcher,
    set before each evaluation."""

    __slots__ = ("rows", "bind", "pos", "sym", "mn")

    def __init__(self, rows):
        self.rows = rows
        self.bind: list = []
        self.pos = None
        self.sym = None
        self.mn = 0

    def row(self, i):
        if i is None or not 0 <= i < len(self.rows):
            return None
        return self.rows[i]

    def last(self):
        """The row under evaluation, else the match's last row."""
        if self.pos is not None:
            return self.pos
        return self.bind[-1][0] if self.bind else None

    def bound(self, members):
        """Rows bound to any of ``members`` (None = every symbol) —
        a symbol's rows INCLUDE the candidate under classification,
        which the reference treats as already carrying its tentative
        label (cep/eval.go rowsLabels appends ctx.candidate)."""
        if members is None:
            return [i for i, _ in self.bind]
        rows = [i for i, s in self.bind if s in members]
        p = self.pos
        if self.sym in members and p is not None \
                and (not rows or rows[-1] != p):
            rows.append(p)
        return rows

    def running(self, members):
        """:meth:`bound`, restricted to rows up to the current one."""
        rows = self.bound(members)
        if self.pos is not None:
            rows = [i for i in rows if i <= self.pos]
        return rows


def _nav_calls(exprs, fnames):
    """Calls named in ``fnames`` inside DEFINE conditions / MEASURES."""
    for e in exprs:
        for n in N.walk(getattr(e, "expr", e)):
            if isinstance(n, N.Func) and n.name.lower() in fnames:
                yield n


def nonliteral_nav_offset(exprs, fnames=("prev", "next")) -> str | None:
    """The name of the first call among ``fnames`` in ``exprs`` whose
    offset argument is not an integer literal, else None.  The batch
    and flush paths evaluate dynamic offsets per row, but the STREAMING
    kernel sizes its consumed-row context and tail-hold spans from the
    maximum literal offset — a dynamic offset would silently
    under-retain and diverge across micro-batch splits (review find
    r12), so the kernel refuses it typed unless the query declares a
    retention cap with the MAXNAVOFFSET option (r13)."""
    return next((f.name.upper() for f in _nav_calls(exprs, fnames)
                 if literal_offset(f) is None), None)


def literal_offset(f: N.Func) -> int | None:
    """A navigation call's offset when it is an integer literal (the
    default offset counts), else None (dynamic)."""
    if len(f.args) < 2:
        return 1
    a = f.args[1]
    return a.value if isinstance(a, N.Lit) and isinstance(a.value, int) \
        else None


def _field(row, path) -> object:
    if row is None:
        return None
    cur: object = row
    for p in path:
        if isinstance(p, N.MapKey):
            p = p.key
        if isinstance(cur, dict):
            cur = cur.get(p)
        elif isinstance(cur, (list, tuple)) and isinstance(p, int):
            # negative index counts from the end, same as the rendered
            # try_element_at path (reference fieldpath.go:242);
            # out-of-range either way -> None (nil-on-miss)
            cur = cur[p] if -len(cur) <= p < len(cur) else None
        else:
            return None
    return cur


def alphabet(spec: N.MatchSpec) -> frozenset:
    """Every symbol name a MATCH_RECOGNIZE expression can qualify with:
    pattern symbols, DEFINE names, SUBSET names and their members.
    ``X.col`` with X in here is symbol navigation (it shadows a join
    alias of the same name), even when X bound no rows."""
    syms = set(spec.defines) | set(spec.subsets)
    for members in spec.subsets.values():
        syms.update(members)
    stack = [spec.pattern]
    while stack:
        p = stack.pop()
        if isinstance(p, N.PSym):
            syms.add(p.name)
        stack.extend(getattr(p, "items", None) or ())
        if getattr(p, "item", None) is not None:
            stack.append(p.item)
    return frozenset(syms)


class Program:
    """One statement's DEFINE and MEASURES as compiled closures over a
    :class:`MatchView`.  Built once per statement on the driver and
    shipped to the kernels; ``zone`` is the session time zone the
    statement was planned under (``plan.zone``), ``nav_cap`` the
    streaming MAXNAVOFFSET (None = unbounded)."""

    def __init__(self, spec: N.MatchSpec, zone: str = "UTC",
                 nav_cap: int | None = None):
        self.zone = zone
        self.subsets = {k: frozenset(v) for k, v in spec.subsets.items()}
        self.nav_cap = nav_cap
        self.alphabet = alphabet(spec)

        def span(exprs, fname: str) -> int:
            """Rows ``fname``() reaches from the current one: the
            largest literal offset (each call at least 1; 0 = no call),
            inflated to the MAXNAVOFFSET cap when an offset is dynamic
            so tail-holds and context retention cover any legal one."""
            calls = list(_nav_calls(exprs, (fname,)))
            s = max([0] + [max(1, literal_offset(f) or 1) for f in calls])
            if nav_cap is not None and \
                    nonliteral_nav_offset(calls, (fname,)) is not None:
                s = max(s, nav_cap)
            return s
        # NEXT() in a DEFINE reads rows AFTER the one being classified:
        # a failed classification within the SYMBOL's span of the
        # buffer tail is INCONCLUSIVE for streaming (a future row could
        # flip it) — per symbol (r12), so a NEXT elsewhere does not
        # hold every tail failure.  NEXT() in MEASURES reads past the
        # MATCH: a match whose measures reach past the tail holds too.
        self.next_span = {sym: span([c], "next")
                          for sym, c in spec.defines.items()}
        self.measures_next = span(spec.measures, "next")
        self.future_nav = self.measures_next > 0 \
            or any(self.next_span.values())
        # PREV() reads consumed rows: the streaming kernel keeps this
        # many of them as navigation-only context
        self.prev_span = span([*spec.defines.values(), *spec.measures],
                              "prev")
        # AND TRUE: pyeval's three-valued AND admits only booleans and
        # NULL, so a non-boolean DEFINE fails typed instead of reading
        # as truthy
        self.defines = {
            sym: compile_strict(
                N.Bin("AND", self._rewrite(cond), N.Lit(True)),
                f"DEFINE {sym} AS {sql_text(cond)}", zone)
            for sym, cond in spec.defines.items()}
        self.measures = [
            (m.alias or f"m{j}",
             compile_strict(self._rewrite(m.expr),
                            f"MEASURES {sql_text(m.expr)}", zone))
            for j, m in enumerate(spec.measures)]

    # ------------------------------------------------------------ leaves
    def members(self, sym):
        """The symbols a qualifier stands for (None = every symbol)."""
        if sym is None:
            return None
        return self.subsets.get(sym, frozenset((sym,)))

    def _split(self, e) -> tuple:
        """``X.col`` → (X, X's members, path) when X is a pattern
        symbol, else (None, None, full path)."""
        parts = e.parts
        if len(parts) > 1 and isinstance(parts[0], str) \
                and parts[0] in self.alphabet:
            return parts[0], self.members(parts[0]), tuple(parts[1:])
        return None, None, tuple(parts)

    def _rewrite(self, e: N.Expr) -> N.Expr:
        return N.transform(e, lambda n: n, pre=self._leaf)

    def _sub(self, e: N.Expr, what: str):
        return compile_strict(self._rewrite(e), f"{what} {sql_text(e)}",
                              self.zone)

    def _leaf(self, e: N.Expr):
        """A Slot for a match-dependent node, else None (descend)."""
        if isinstance(e, N.Col):
            sym, members, path = self._split(e)

            def col(v):
                if sym is None or (v.sym == sym and v.pos is not None):
                    i = v.last()
                else:
                    rows = v.bound(members)
                    i = rows[-1] if rows else None
                return _field(v.row(i), path)
            return Slot(col)
        if not isinstance(e, N.Func):
            return None
        name = e.name.lower()
        if name == "__running__":
            return self._rewrite(e.args[0])
        if name == "__final__":
            inner = self._sub(e.args[0], "FINAL")

            def final(v):
                pos, sym = v.pos, v.sym
                v.pos = v.sym = None
                try:
                    return inner(v)
                finally:
                    v.pos, v.sym = pos, sym
            return Slot(final)
        if name == "classifier":
            def classifier(v):
                if v.pos is None:
                    return v.bind[-1][1] if v.bind else None
                if v.sym is not None:
                    return v.sym
                return next((s for i, s in v.bind if i == v.pos), None)
            return Slot(classifier)
        if name == "match_number":
            return Slot(lambda v: v.mn)
        if name in ("prev", "next", "first", "last"):
            return Slot(self._nav(name, e))
        if name in _AGGS:
            return Slot(self._agg(name, e))
        return None

    def _nav(self, name: str, e: N.Func):
        if not e.args or not isinstance(e.args[0], N.Col):
            raise ExprError(f"{name.upper()}() needs a column argument")
        _, members, path = self._split(e.args[0])
        off = self._sub(e.args[1], f"{name.upper()}() offset") \
            if len(e.args) > 1 else None
        if name in ("first", "last"):
            first = name == "first"

            def nav(v):
                n = 0 if off is None else off(v)
                if n is None:
                    return None
                rows = v.running(members)
                # bounds BEFORE indexing: an offset past the bound rows
                # is NULL (LAST(A.x, 3) with 2 A rows)
                k = int(n) if first else len(rows) - 1 - int(n)
                return _field(v.row(rows[k]), path) \
                    if 0 <= k < len(rows) else None
            return nav
        # INTEGER-literal offsets are covered by the streaming kernel's
        # span sizing (the predicate nonliteral_nav_offset uses); a
        # dynamic offset beyond the declared cap would read rows the
        # kernel no longer retains — fail typed, never read nil
        cap = self.nav_cap if literal_offset(e) is None else None
        sign = -1 if name == "prev" else 1

        def nav(v):
            n = 1 if off is None else off(v)
            if n is None:
                return None
            n = int(n)
            if cap is not None and n > cap:
                raise NavOffsetCapError(
                    f"{name}() dynamic offset {n} exceeds the declared "
                    f"MAXNAVOFFSET={cap} — raise the option to cover the "
                    "largest runtime offset")
            base = v.last()
            # PREV(X.col) navigates physically (reference
            # positionalField ignores the qualifier)
            return None if base is None \
                else _field(v.row(base + sign * n), path)
        return nav

    def _agg(self, name: str, e: N.Func):
        arg = e.args[0] if e.args else N.Star()
        if isinstance(arg, N.Star):
            if name != "count":
                raise ExprError(f"{name.upper()}(*) is not an aggregate")
            # COUNT(*) = all match rows; COUNT(X.*) = rows bound to X
            members = self.members(arg.qualifier)
            return lambda v: len(v.running(members))
        if not isinstance(arg, N.Col):
            raise ExprError(f"{name.upper()}() over a match takes a "
                            f"column argument, got {sql_text(arg)!r}")
        # symbol-qualified: ALWAYS that symbol's rows, the candidate
        # included, and the empty set for a valid-but-unbound symbol
        # (never a silent fallback to every match row)
        _, members, path = self._split(arg)

        def agg(v):
            vals = [x for x in (_field(v.row(i), path)
                                for i in v.running(members))
                    if x is not None]
            if name == "count":
                return len(vals)
            if not vals:
                return None
            vals = [int(x) if isinstance(x, bool) else x for x in vals]
            if name == "sum":
                return sum(vals)
            if name == "avg":
                return sum(vals) / len(vals)
            return min(vals) if name == "min" else max(vals)
        return agg
