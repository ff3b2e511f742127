"""AST node definitions for the StreamSQL dialect.

Tree-shaped IR replacing the reference's flat, string-rewritten
``types.Config`` (rulego/streamsql ``rsql/ast.go:19-54``).  All semantic
analysis (aggregate extraction, analytic-call extraction, post-agg
placeholder handling) happens on these trees in ``planner.py`` — the
Spark analog of what ``AST.ToStreamConfig`` does with string surgery.
"""

from __future__ import annotations

from dataclasses import dataclass, field


class Expr:
    """Base class for expression nodes."""

    def children(self) -> list["Expr"]:
        return []


@dataclass
class Lit(Expr):
    value: object  # int | float | str | bool | None
    is_string: bool = False


@dataclass(frozen=True)
class MapKey:
    """Bracket-string access marker: ``m['k']`` (vs dot-field ``s.k``)."""

    key: str


@dataclass
class Col(Expr):
    # path segments: strings for fields, ints for array indices,
    # ("key", str) handled as string segment following a map access.
    parts: tuple
    quoted: bool = False

    @property
    def name(self) -> str:
        return ".".join(str(p) for p in self.parts)

    @property
    def root(self) -> str:
        return str(self.parts[0])


@dataclass
class Star(Expr):
    qualifier: str | None = None


@dataclass
class OverSpec:
    """Reference OVER clause: PARTITION BY keys + optional WHEN gate.

    No ORDER BY / frame — the reference's analytic OVER is a state-machine
    spec, not a SQL window frame (``types/analytic.go:28-31``).
    """

    partition_by: list[Expr] = field(default_factory=list)
    when: Expr | None = None


@dataclass
class Func(Expr):
    name: str
    args: list[Expr] = field(default_factory=list)
    distinct: bool = False
    over: OverSpec | None = None

    def children(self) -> list[Expr]:
        return list(self.args)


@dataclass
class Bin(Expr):
    op: str  # = != <> < <= > >= + - * / % ^ AND OR ||
    left: Expr = None
    right: Expr = None

    def children(self) -> list[Expr]:
        return [self.left, self.right]


@dataclass
class Un(Expr):
    op: str  # NOT, -
    operand: Expr = None

    def children(self) -> list[Expr]:
        return [self.operand]


@dataclass
class Like(Expr):
    operand: Expr = None
    pattern: Expr = None
    negated: bool = False

    def children(self) -> list[Expr]:
        return [self.operand, self.pattern]


@dataclass
class IsNull(Expr):
    operand: Expr = None
    negated: bool = False

    def children(self) -> list[Expr]:
        return [self.operand]


@dataclass
class InList(Expr):
    operand: Expr = None
    items: list[Expr] = field(default_factory=list)
    negated: bool = False

    def children(self) -> list[Expr]:
        return [self.operand] + list(self.items)


@dataclass
class Between(Expr):
    operand: Expr = None
    low: Expr = None
    high: Expr = None
    negated: bool = False

    def children(self) -> list[Expr]:
        return [self.operand, self.low, self.high]


@dataclass
class Case(Expr):
    operand: Expr | None = None  # simple CASE when set
    whens: list[tuple] = field(default_factory=list)  # [(cond, value)]
    else_: Expr | None = None

    def children(self) -> list[Expr]:
        out = [] if self.operand is None else [self.operand]
        for c, v in self.whens:
            out += [c, v]
        if self.else_ is not None:
            out.append(self.else_)
        return out


# ---------------------------------------------------------------- statements


@dataclass
class SelectField:
    expr: Expr
    alias: str | None = None


@dataclass
class JoinSpec:
    kind: str  # inner | left | right | full | cross
    table: str
    alias: str | None = None
    on: Expr | None = None


@dataclass
class WindowSpec:
    """GROUP BY window function (reference ``rsql/parser.go:557-670``)."""

    kind: str  # tumbling | sliding | counting | session | global
    size: str | None = None   # duration literal e.g. '5s'
    slide: str | None = None
    gap: str | None = None
    count: int | None = None
    trigger_when: Expr | None = None  # global window TRIGGER WHEN predicate


# -------- MATCH_RECOGNIZE pattern tree (reference types/match_recognize.go)


class Pattern:
    pass


@dataclass
class PSym(Pattern):
    name: str
    excluded: bool = False


@dataclass
class PSeq(Pattern):
    items: list[Pattern] = field(default_factory=list)


@dataclass
class PAlt(Pattern):
    items: list[Pattern] = field(default_factory=list)


@dataclass
class PQuant(Pattern):
    item: Pattern = None
    min: int = 1
    max: int | None = 1  # None = unbounded
    greedy: bool = True


@dataclass
class PPermute(Pattern):
    items: list[Pattern] = field(default_factory=list)


@dataclass
class MatchSpec:
    partition_by: list[Expr] = field(default_factory=list)
    order_by: list[Expr] = field(default_factory=list)
    measures: list[SelectField] = field(default_factory=list)
    rows_per_match: str = "one"  # one | all
    after_match_skip: tuple = ("past_last_row",)  # or (to_next_row,)/(to_first,SYM)/(to_last,SYM)
    pattern: Pattern | None = None
    within: str | None = None
    defines: dict = field(default_factory=dict)  # symbol -> Expr
    subsets: dict = field(default_factory=dict)  # name -> [symbols]
    # AFTER MATCH SKIP TO FIRST/LAST re-anchor compat switch:
    # "inclusive" (default) = SQL-standard/Flink — the next match may
    # START on the target row; "exclusive" = reference parity — resume
    # at target row + 1 (cep/engine.go:593-605 skipTo returns
    # occurrence+1).  Observable only for patterns that re-match from
    # the target row; see README "CEP AFTER MATCH SKIP semantics".
    skip_anchor: str = "inclusive"  # inclusive | exclusive


@dataclass
class SelectStmt:
    fields: list[SelectField] = field(default_factory=list)
    distinct: bool = False
    source: str = "stream"
    source_alias: str | None = None
    joins: list[JoinSpec] = field(default_factory=list)
    where: Expr | None = None
    group_by: list[Expr] = field(default_factory=list)
    window: WindowSpec | None = None
    having: Expr | None = None
    order_by: list[tuple] = field(default_factory=list)  # [(Expr, asc: bool)]
    limit: int | None = None
    with_opts: dict = field(default_factory=dict)  # TIMESTAMP/TIMEUNIT/... upper-cased keys
    match: MatchSpec | None = None


def walk(e: Expr):
    """Pre-order traversal over an expression tree."""
    if e is None:
        return
    yield e
    for c in e.children():
        yield from walk(c)


def transform(e: Expr, fn, pre=None) -> Expr:
    """Bottom-up rebuild: apply ``fn`` to every node, children first.

    ``fn`` returns a replacement node or the node unchanged.  This is the
    tree analog of the reference's string-rewriting passes (HAVING alias
    substitution, analytic/post-agg placeholder extraction,
    rsql/ast.go:410-468, :1612-1724).  ``pre``, if given, sees each node
    first (top-down); a non-None result replaces the whole subtree.
    """
    if e is None:
        return None
    if pre is not None and (r := pre(e)) is not None:
        return r
    if isinstance(e, Func):
        e = Func(e.name, [transform(a, fn, pre) for a in e.args], e.distinct, e.over)
    elif isinstance(e, Bin):
        e = Bin(e.op, transform(e.left, fn, pre), transform(e.right, fn, pre))
    elif isinstance(e, Un):
        e = Un(e.op, transform(e.operand, fn, pre))
    elif isinstance(e, Like):
        e = Like(transform(e.operand, fn, pre), transform(e.pattern, fn, pre), e.negated)
    elif isinstance(e, IsNull):
        e = IsNull(transform(e.operand, fn, pre), e.negated)
    elif isinstance(e, InList):
        e = InList(transform(e.operand, fn, pre), [transform(i, fn, pre) for i in e.items], e.negated)
    elif isinstance(e, Between):
        e = Between(transform(e.operand, fn, pre), transform(e.low, fn, pre), transform(e.high, fn, pre), e.negated)
    elif isinstance(e, Case):
        e = Case(transform(e.operand, fn, pre),
                 [(transform(c, fn, pre), transform(v, fn, pre)) for c, v in e.whens],
                 transform(e.else_, fn, pre))
    return fn(e)
