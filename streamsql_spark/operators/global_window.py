"""GLOBAL WINDOW TRIGGER WHEN — general-predicate segmentation.

Reference: ``window/global_window.go:49-731`` — per group key, keep O(1)
running aggregates (no row buffer); when the TRIGGER WHEN predicate over
those running aggregates fires, emit the group's pending rows as one
window and purge (FIRE_AND_PURGE).  Rows after the last trigger stay
pending and are not emitted.

Spark realization: the segment boundary depends on running aggregates
that reset at each boundary — inherently sequential per key, so this is
an ``applyInPandas`` operator keyed by the group fields.  State stays
O(1) per key (running aggregates only); each pandas batch holds one
key's rows, ordered by event time.  At 100 TB this parallelizes across
keys exactly like the reference's per-partition state machine, with
Arrow-vectorized transfer; skew in a single key is the same bottleneck
the reference has (single-core per key, by semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..dialect import nodes as N
from ..dialect.pyeval import ExprError, Slot, compile_strict, sql_text
from ..streaming.aggutil import acc_new, acc_result, acc_update

# aggregates supported in running (O(1)) form — mirrors the reference's
# incremental trigger aggregates
_RUNNING_AGGS = {"count", "sum", "avg", "min", "max"}


class Trigger:
    """TRIGGER WHEN compiled onto the pyeval core, once per statement:
    each running aggregate becomes a Slot reading its accumulator
    (aggutil ``acc_*``), and the predicate around them is pyeval's —
    SQL three-valued logic, Spark arithmetic.  :meth:`fired` is the one
    running-aggregate step the batch segmenter and the streaming kernel
    share."""

    def __init__(self, trig: N.Expr):
        self.aggs: list[tuple[str, str | None]] = []  # (acc kind, column)

        def pre(e):
            if isinstance(e, N.Func) and e.name.lower() in _RUNNING_AGGS:
                arg = e.args[0] if e.args else N.Star()
                kind = e.name.lower()
                if isinstance(arg, N.Star) and kind == "count":
                    kind, col = "count_star", None
                elif isinstance(arg, N.Col):
                    col = arg.name
                else:
                    raise ExprError("TRIGGER WHEN aggregates support "
                                    "plain column args (and count(*))")
                k = len(self.aggs)
                self.aggs.append((kind, col))
                return Slot(lambda accs: acc_result(kind, accs[k]))
            if isinstance(e, N.Col):
                raise ExprError("TRIGGER WHEN may only reference "
                                f"aggregates, got column {e.name}")
            return None

        # AND TRUE: a non-boolean predicate fails typed (pyeval's AND
        # admits only booleans and NULL)
        self.pred = compile_strict(
            N.Bin("AND", N.transform(trig, lambda n: n, pre=pre),
                  N.Lit(True)),
            f"TRIGGER WHEN {sql_text(trig)}")
        self.columns = sorted({c for _, c in self.aggs if c is not None})

    def new(self) -> list:
        return [acc_new() for _ in self.aggs]

    def read(self, pdf) -> dict:
        """The aggregate argument columns of a pandas batch as Python
        lists, NULL (NaN/NaT/NA) as None."""
        return {c: pdf[c].astype(object).where(pdf[c].notna(), None)
                .tolist() for c in self.columns}

    def fired(self, accs: list, cols: dict, i: int) -> bool:
        """Fold row ``i`` of ``cols`` (column → values) into ``accs``;
        True when the predicate holds — the caller then emits the
        pending rows and starts fresh accumulators.  NULL (UNKNOWN)
        does not fire; a value outside the core raises ExprError."""
        for acc, (_, col) in zip(accs, self.aggs):
            acc_update(acc, None if col is None else cols[col][i])
        return self.pred(accs) is True


def segment_by_trigger(df: DataFrame, plan, ts_col: str) -> DataFrame:
    """Add ``__win_id__`` per completed trigger segment; drop pending rows."""
    trigger = plan.trigger  # compiled by the planner; never None here
    order_col = ts_col if ts_col in df.columns else None
    if order_col is None:
        # same typed refusal as the count-only fast path
        # (engine/batch.py _chunk_rows): without an event-time column
        # the running aggregates walk rows in physical/Arrow-batch
        # order, so window membership would change across repartitions
        raise ValueError(
            "global-trigger window needs an event-time column: declare "
            "one with TIMESTAMP(col) — without it trigger segmentation "
            "would depend on physical partition layout")
    key_sqls = list(plan.group_sqls)

    out_schema = StructType(df.schema.fields + [StructField("__win_id__", LongType())])

    def segment(pdf):
        pdf = pdf.sort_values(order_col, kind="mergesort")
        cols = trigger.read(pdf)
        assigned = [None] * len(pdf)
        accs, start, win = trigger.new(), 0, 0
        for i in range(len(pdf)):
            if trigger.fired(accs, cols, i):
                assigned[start:i + 1] = [win] * (i + 1 - start)
                accs, start, win = trigger.new(), i + 1, win + 1
        pdf = pdf.assign(__win_id__=assigned)
        pdf = pdf[pdf["__win_id__"].notna()]
        return pdf.assign(__win_id__=pdf["__win_id__"].astype("int64"))

    if key_sqls:
        keyed = df.groupBy(*[F.expr(s) for s in key_sqls])
    else:
        keyed = df.groupBy(F.lit(1).alias("__k__"))
    return keyed.applyInPandas(segment, schema=out_schema)
