"""CEP batch executor: MATCH_RECOGNIZE plan → DataFrame.

Partitions shuffle by PARTITION BY keys (one ``applyInPandas`` group
per key — the Spark analog of the reference's per-partition NFA
instances, ``stream/cep.go:32-48``), rows sort by ORDER BY inside the
kernel, the matcher emits measure rows, and the outer SELECT projects
them (``stream/stream.go:400-409``).

Scale: state is bounded per key exactly like the reference (whole-key
row buffers); keys parallelize across executors.  A streaming variant
holds the tail buffer in ``transformWithStateInPandas`` state with the
same matcher core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, DataType, DoubleType,
                               LongType, MapType, StringType, StructField,
                               StructType, TimestampNTZType, TimestampType)

from ..dialect import nodes as N
from ..dialect.render import render
from ..engine.batch import duration_to_seconds
from ..plans.plan import TIMEUNIT_PER_SECOND
from .engine import run_partition
from .program import Program, alphabet

# batch-kernel buffer flush threshold (rows): the pandas buffer drains at
# the next key boundary past this, bounding Python memory per task — the
# batch analog of the reference's run-row cap (cep/engine.go:17-23)
_TASK_CHUNK_ROWS = 65_536


class _LazyRows:
    """List-of-dicts façade over a pandas frame for the match kernel.

    The matcher and the compiled program touch only bound/navigated rows
    (with vectorized DEFINEs, a tiny fraction of the partition), so the
    per-row dict — and even the per-COLUMN python-object conversion —
    is deferred until first touch and cached (guide §4: the eager
    ``to_dict("records")`` + NaN fix-up was O(rows × cols) Python work
    per task regardless of match count).  Supports ``len``, integer
    indexing and contiguous slicing — the full access surface of
    ``Matcher``/``MatchView``.  Slices share the column cache and the
    absolute-index row cache with their parent.
    """

    __slots__ = ("_pdf", "_cols", "_rows", "_off", "_n")

    def __init__(self, pdf, off=0, n=None, cols=None, rows=None):
        self._pdf = pdf
        self._off = off
        self._n = len(pdf) - off if n is None else n
        self._cols = {} if cols is None else cols    # name -> list
        self._rows = {} if rows is None else rows    # abs index -> dict

    def __len__(self):
        return self._n

    def _column(self, name):
        vals = self._cols.get(name)
        if vals is None:
            import numpy as np

            col = self._pdf[name]
            vals = col.tolist()
            # NaN/NaT -> None: raw pandas NaN breaks SQL NULL semantics
            # in the compiled program (nan > 5 is False where SQL
            # says UNKNOWN; nan passes `is not None` and poisons
            # SUM/AVG measures)
            na = col.isna().to_numpy()
            if na.any():
                for j in np.flatnonzero(na).tolist():
                    vals[j] = None
            self._cols[name] = vals
        return vals

    def __getitem__(self, i):
        if isinstance(i, slice):
            lo, hi, step = i.indices(self._n)
            if step != 1:
                raise ValueError("_LazyRows supports contiguous slices only")
            return _LazyRows(self._pdf, self._off + lo, max(0, hi - lo),
                             self._cols, self._rows)
        if i < 0:
            i += self._n
        if not 0 <= i < self._n:
            raise IndexError(i)
        j = self._off + i
        r = self._rows.get(j)
        if r is None:
            r = {c: self._column(c)[j] for c in self._pdf.columns}
            self._rows[j] = r
        return r


def _descend_type(dt: DataType, segs: list) -> DataType:
    """Walk nested-path segments through a container DataType
    (render_col's try_element_at / dot-access chain)."""
    for p in segs:
        if isinstance(dt, MapType):
            dt = dt.valueType  # MapKey OR dotted key both index maps
        elif isinstance(dt, ArrayType) and isinstance(p, int):
            dt = dt.elementType
        elif isinstance(dt, StructType) and isinstance(p, str) \
                and p in dt.fieldNames():
            dt = dt[p].dataType
        else:
            return DoubleType()  # unknown shape: the legacy default
    return dt


def _measure_type(e: N.Expr, schema: dict[str, DataType]) -> DataType | None:
    """Type of a measure LEAF (literal, column, navigation, aggregate,
    CLASSIFIER, MATCH_NUMBER); None for any other node."""
    if isinstance(e, N.Lit):
        if isinstance(e.value, bool):
            return BooleanType()
        if isinstance(e.value, int):
            return LongType()
        if isinstance(e.value, float):
            return DoubleType()
        return StringType()
    if isinstance(e, N.Col):
        segs = list(e.parts)
        str_pos = [i for i, p in enumerate(segs) if isinstance(p, str)]
        # symbol-qualified → the underlying column's type; navigation
        # segments AFTER the column (m.thresholds['hi'], a map-typed
        # lookup column) descend into the container type — the measure
        # VALUE is the element, not the container.  Positions, not
        # .index(): a qualifier named like the column (v.v) would
        # otherwise resolve to the first occurrence and mis-descend
        for i in ((str_pos[-1], str_pos[0]) if str_pos else ()):
            if segs[i] in schema:
                return _descend_type(schema[segs[i]], segs[i + 1:])
        return DoubleType()
    if not isinstance(e, N.Func):
        return None
    name = e.name.lower()
    if name in ("__final__", "__running__"):
        return _measure_type(e.args[0], schema)
    if name in ("count", "match_number"):
        return LongType()
    if name == "classifier":
        return StringType()
    if name in ("avg", "sum"):
        return DoubleType()
    if name in ("min", "max", "first", "last", "prev", "next") and e.args:
        return _measure_type(e.args[0], schema)
    return None


def _measure_types(exprs: list, schema: dict[str, DataType],
                   spark: SparkSession) -> list[DataType]:
    """Output types of MEASURES: a leaf types directly; any other
    expression is typed by Catalyst with its leaves as typed columns —
    the type the SELECT path gives the same expression, with no
    second typing table to drift from the functions it covers."""
    leaves: list[DataType] = []

    def pre(n):
        if isinstance(n, N.Func) and n.name.lower() in ("__final__",
                                                         "__running__"):
            return N.transform(n.args[0], lambda x: x, pre=pre)
        if not isinstance(n, N.Lit):
            t = _measure_type(n, schema)
        elif isinstance(n.value, float):
            # Spark SQL reads `1.5` as DECIMAL; the program computes
            # it as a double, so the probe must type it that way
            t = DoubleType()
        else:
            t = None  # other literals stay foldable (round's scale)
        if t is None:
            return None
        leaves.append(t)
        return N.Col((f"__leaf{len(leaves) - 1}__",))

    out: list = [_measure_type(e, schema) for e in exprs]
    composite = {j: render(N.transform(e, lambda x: x, pre=pre))
                 for j, e in enumerate(exprs) if out[j] is None}
    if composite:
        probe = spark.range(0).select(
            *[F.lit(None).cast(t).alias(f"__leaf{i}__")
              for i, t in enumerate(leaves)],
        ).select(*[F.expr(sql) for sql in composite.values()])
        for j, f in zip(composite, probe.schema.fields):
            out[j] = f.dataType
    return out


def _referenced_columns(spec: N.MatchSpec, columns: list[str]) -> set[str]:
    """Input columns the pattern/measures actually read — the kernel
    prunes to these (column pruning can't see through applyInPandas,
    so we do it explicitly; at scale this keeps wide rows out of the
    Arrow transfer and the per-row Python dicts)."""
    symbols = alphabet(spec)
    refs: set[str] = set()

    def visit(e):
        for node in N.walk(e):
            if isinstance(node, N.Col):
                parts = [p for p in node.parts if isinstance(p, str)]
                if not parts:
                    continue
                if parts[0] in symbols and len(parts) > 1:
                    refs.add(parts[1])
                else:
                    refs.add(parts[0])

    for m in spec.measures:
        visit(m.expr)
    for cond in spec.defines.values():
        visit(cond)
    return {c for c in refs if c in set(columns)}


# DEFINE conditions built only from these nodes evaluate identically in
# Catalyst and in the compiled program (NULL → no-match), so they can be
# precomputed JVM-side as boolean columns — classification becomes an
# array lookup instead of a per-row closure call.  Division / modulo /
# power stay out (their zero/overflow corners are ANSI errors in
# Catalyst and typed errors in pyeval); navigation/aggregate functions
# are inherently row-context-dependent.
_VEC_BIN_OPS = {"=", "!=", "<", "<=", ">", ">=", "AND", "OR", "+", "-", "*"}
_VEC_FUNCS = {"abs", "round", "floor", "ceil", "ceiling", "sqrt",
              "upper", "lower", "length", "coalesce"}


def _vectorizable_define(cond: N.Expr, symbols: set[str]) -> bool:
    """True iff the DEFINE condition reads only the current row and maps
    1:1 onto Catalyst semantics."""
    for node in N.walk(cond):
        if isinstance(node, (N.Lit, N.IsNull, N.InList, N.Between,
                             N.Case, N.Un)):
            continue
        if isinstance(node, N.Col):
            root = node.parts[0]
            if isinstance(root, str) and root in symbols and len(node.parts) > 1:
                return False  # symbol-qualified ref → match-context-dependent
            continue
        if isinstance(node, N.Bin):
            if node.op not in _VEC_BIN_OPS:
                return False
            continue
        if isinstance(node, N.Func):
            if node.name.lower() not in _VEC_FUNCS:
                return False
            continue
        return False  # Star / unknown node
    return True


def _flatten_join_refs_cep(df: DataFrame, plan, spec: N.MatchSpec):
    """Flatten table-qualified refs for the CEP kernels over a joined
    stream (processCEP enriches before the NFA,
    stream/processor_data.go:112-141).  The Python matcher evaluates
    rows as flat dicts, so while join aliases are alive: source-alias
    refs drop to bare names (the stream side wins the duplicate-name
    dedupe), table refs materialize as hidden flat columns.  Pattern
    symbols shadow join aliases (A.temp stays a symbol navigation)."""
    from dataclasses import replace as _drep

    src = plan.source_alias or plan.source
    quals = ({j.table for j in plan.joins}
             | {j.alias for j in plan.joins if j.alias})
    syms = alphabet(spec)
    quals -= syms
    added: dict[str, str] = {}

    def xf(e):
        if isinstance(e, N.Col) and len(e.parts) == 2 \
                and all(isinstance(p, str) for p in e.parts):
            root, col = str(e.parts[0]), str(e.parts[1])
            if root in syms:
                return e
            if root == src:
                return N.Col((col,))
            if root in quals:
                name = added.setdefault(f"{root}.{col}", f"__q_{root}_{col}__")
                return N.Col((name,))
        return e

    spec = _drep(
        spec,
        partition_by=[N.transform(p, xf) for p in spec.partition_by],
        order_by=[N.transform(o, xf) for o in spec.order_by],
        measures=[_drep(m, expr=N.transform(m.expr, xf))
                  for m in spec.measures],
        defines={s: N.transform(c, xf) for s, c in spec.defines.items()},
    )
    for tok, name in added.items():
        df = df.withColumn(name, F.expr(tok))
    from ..streaming.stateful import _dedupe_columns
    return _dedupe_columns(df), spec


def build_cep_parts(df: DataFrame, plan) -> dict:
    """Shared MATCH_RECOGNIZE prep for the batch and streaming executors:
    WHERE pushdown, partition-key materialization, output schema, event
    time resolution."""
    spec: N.MatchSpec = plan.stmt.match
    if plan.where_sql:
        df = df.filter(F.expr(plan.where_sql))
    if plan.joins:
        df, spec = _flatten_join_refs_cep(df, plan, spec)

    part_sqls = [render(p) for p in spec.partition_by]
    order_sqls = [render(o) for o in spec.order_by]
    if not order_sqls:
        raise ValueError("MATCH_RECOGNIZE requires ORDER BY (event time first)")
    ts_col = order_sqls[0]

    in_schema = {f.name: f.dataType for f in df.schema.fields}
    if ts_col not in in_schema:
        raise ValueError(f"MATCH_RECOGNIZE ORDER BY column {ts_col!r} "
                         f"not found in input columns {sorted(in_schema)}")

    if spec.rows_per_match != "all":
        # ONE ROW PER MATCH exposes only measures — prune the kernel's
        # input to columns the pattern actually reads
        needed = _referenced_columns(spec, df.columns)
        needed.update(c for c in order_sqls if c in in_schema)
        needed.update(p for p in part_sqls if p in in_schema)
        keep = [c for c in df.columns if c in needed]
        if keep and len(keep) < len(df.columns):
            df = df.select(*keep)
            in_schema = {f.name: f.dataType for f in df.schema.fields}
    fields = []
    part_names = []
    for i, psql in enumerate(part_sqls):
        name = psql if psql in in_schema else f"__pk_{i}__"
        if psql not in in_schema:
            df = df.withColumn(name, F.expr(psql))
            in_schema[name] = df.schema[name].dataType
        part_names.append(name)
        fields.append(StructField(name, in_schema[name]))
    measure_aliases = {m.alias or f"m{j}" for j, m in enumerate(spec.measures)}
    if spec.rows_per_match == "all":
        # ALL ROWS PER MATCH: input columns + MEASURES (measures shadow)
        fields = [StructField(f.name, f.dataType) for f in df.schema.fields
                  if f.name not in measure_aliases]
    types = _measure_types([m.expr for m in spec.measures], in_schema,
                           df.sparkSession)
    for j, (m, t) in enumerate(zip(spec.measures, types)):
        fields.append(StructField(m.alias or f"m{j}", t))
    return {
        "spec": spec,
        "df": df,
        "out_schema": StructType(fields),
        "part_names": part_names,
        "ts_col": ts_col,
        "ts_is_time": isinstance(in_schema.get(ts_col),
                                 (TimestampType, TimestampNTZType)),
        "within": duration_to_seconds(spec.within) if spec.within else None,
        # numeric event-time columns carry plan.timeunit units
        # (reference default ms, window/factory.go:76-133) — WITHIN and
        # MAXOUTOFORDERNESS horizons must scale by the SAME factor the
        # pipeline's watermark uses, not assume ms. Units-per-second is
        # fractional for mi/hh/dd (rsql/parser.go:1149-1154), so keep
        # float math.
        "ts_ups": TIMEUNIT_PER_SECOND.get(plan.timeunit,
                                          TIMEUNIT_PER_SECOND["ms"]),
        # a declared MAXOUTOFORDERNESS signals event-time discipline:
        # NULL event-time rows drop on BOTH paths (the streaming
        # kernel's reorder horizon cannot order them; batch must agree
        # or a null-ts row would match here and never there)
        "drop_null_ts": any(k.upper() == "MAXOUTOFORDERNESS"
                            for k in plan.options),
        "order_cols": [c for c in order_sqls if c in in_schema],
    }


def execute_cep(spark: SparkSession, plan, source_df: DataFrame, executor) -> DataFrame:
    parts = build_cep_parts(source_df, plan)
    spec = parts["spec"]
    df = parts["df"]
    out_schema = parts["out_schema"]
    part_names = parts["part_names"]
    ts_col = parts["ts_col"]
    ts_is_time = parts["ts_is_time"]
    within_s = parts["within"]
    ts_ups = parts["ts_ups"]
    drop_null_ts = parts["drop_null_ts"]
    order_cols = parts["order_cols"]
    all_rows = spec.rows_per_match == "all"
    program = Program(spec, plan.zone)  # compiled once; closures ship by value

    names = [f.name for f in out_schema.fields]

    # Current-row-only DEFINE predicates evaluate in Catalyst (codegen)
    # before the shuffle; the kernel reads them as boolean arrays.  The
    # drive loop additionally jumps over start positions where no first
    # pattern symbol holds (Matcher._start_candidates) — at 100 TB the
    # Python matcher then only runs at candidate rows, not every row.
    symbols = alphabet(spec)
    pre_cols = {sym: f"__cls_{i}__"
                for i, (sym, cond) in enumerate(spec.defines.items())
                if _vectorizable_define(cond, symbols)}
    if pre_cols:
        df = df.select("*", *[
            F.expr(render(spec.defines[sym])).alias(c)
            for sym, c in pre_cols.items()])

    def _key_starts(pdf):
        """First row of every key group in a key-sorted frame (NaN-safe
        comparison; [0] when the frame is one key)."""
        import numpy as np

        change = np.zeros(len(pdf), dtype=bool)
        change[0] = True
        for c in part_names:
            col = pdf[c]
            same = col.eq(col.shift()) | (col.isna() & col.shift().isna())
            change |= ~same.to_numpy(dtype=bool)
        return np.flatnonzero(change)

    def run_task(pdf):
        """One sorted task frame (groups contiguous) → measure-row dicts.

        Column work happens ONCE per task, vectorized — class arrays,
        event-time seconds, the row-dict materialization — and each key
        group is then a zero-copy slice.  Splitting per group with
        pandas instead (frame copy + per-group conversions) costs ~1 ms
        per key, which at ~1M tiny keys would dwarf the matcher itself.
        """
        import numpy as np

        if drop_null_ts and ts_col in pdf.columns:
            # declared MAXOUTOFORDERNESS: NULL event-time rows drop on
            # both paths (streaming's reorder horizon can't order them)
            pdf = pdf[pdf[ts_col].notna()].reset_index(drop=True)
        n = len(pdf)
        pre_full = None
        if pre_cols:
            pre_full = {sym: pdf[c].eq(True).to_numpy(bool, na_value=False)
                        for sym, c in pre_cols.items()}
            pdf = pdf.drop(columns=list(pre_cols.values()))
        if ts_is_time:
            ints = pdf[ts_col].to_numpy(dtype="datetime64[ns]").astype("int64")
            nat = pdf[ts_col].isna().to_numpy()
            # object array of python floats (+ None at NaT): same values
            # the per-element list build produced, without the O(n)
            # python loop; slices below are zero-copy views
            ts_full = (ints / 1e9).astype(object)
            if nat.any():
                ts_full[nat] = None
            within = within_s
        else:
            ts_full = np.asarray(
                pdf[ts_col].tolist() if ts_col in pdf.columns else [None] * n,
                dtype=object)
            # numeric event time: scale per TIMEUNIT (default ms)
            within = within_s * ts_ups if within_s is not None else None
        # lazy row materialization: NaN→None fix-up and dict building
        # happen per TOUCHED row/column inside _LazyRows, not eagerly
        # over the whole partition
        rows = _LazyRows(pdf)

        if n == 0:
            bounds = []
        else:
            starts = _key_starts(pdf)
            bounds = list(zip(starts.tolist(), np.append(starts[1:], n).tolist()))

        outs = []
        for lo, hi in bounds:
            pre = ({sym: a[lo:hi] for sym, a in pre_full.items()}
                   if pre_full is not None else None)
            grows = rows[lo:hi]
            out = run_partition(spec, grows, ts_full[lo:hi], within,
                                pre_cls=pre, program=program)
            if not all_rows and out:
                head = {name: grows[0][name] for name in part_names}
                out = [{**head, **m} for m in out]
            outs.extend(out)
        return outs

    if part_names:
        # One shuffle co-locates each key's rows; mapInPandas then walks
        # MANY keys per Python roundtrip (vs applyInPandas' call-per-key
        # overhead — at 1M tiny keys that's the difference between a few
        # hundred pandas invocations and a million).  The buffer flushes
        # at key boundaries once it exceeds _TASK_CHUNK_ROWS, so Python
        # memory is bounded by the chunk size (or the largest single
        # key — whose rows ARE the match domain), not the partition.
        parted = (df.repartition(*[F.col(c) for c in part_names])
                    .sortWithinPartitions(*part_names,
                                          *(order_cols or [ts_col])))

        def map_groups(batch_iter):
            import pandas as pd

            pending: list = []
            n_pending = 0
            for p in batch_iter:
                if not len(p):
                    continue
                pending.append(p)
                n_pending += len(p)
                if n_pending < _TASK_CHUNK_ROWS:
                    continue
                pdf = pd.concat(pending, ignore_index=True)
                cut = int(_key_starts(pdf)[-1])  # the final key's first row
                if cut > 0:
                    outs = run_task(pdf.iloc[:cut].reset_index(drop=True))
                    if outs:
                        yield pd.DataFrame(outs, columns=names)
                    pdf = pdf.iloc[cut:].reset_index(drop=True)
                pending = [pdf]
                n_pending = len(pdf)
            if n_pending:
                pdf = pd.concat(pending, ignore_index=True)
                outs = run_task(pdf)
                if outs:
                    yield pd.DataFrame(outs, columns=names)

        matched = parted.mapInPandas(map_groups, schema=out_schema)
    else:
        def kernel(pdf):
            import pandas as pd

            pdf = pdf.sort_values(order_cols or [ts_col], kind="mergesort") \
                     .reset_index(drop=True)
            return pd.DataFrame(run_task(pdf), columns=names)

        matched = df.groupBy(F.lit(1).alias("__g__")) \
                    .applyInPandas(kernel, schema=out_schema)

    # outer SELECT over measure rows
    out_cols = []
    for out in plan.outputs:
        if out.star:
            out_cols.extend(F.col(c) for c in matched.columns)
        else:
            out_cols.append(F.expr(out.sql).alias(out.name))
    result = matched.select(*out_cols)
    if plan.order_by:
        exprs = [F.expr(s).asc() if asc else F.expr(s).desc()
                 for s, asc in plan.order_by]
        result = result.orderBy(*exprs)
    if plan.limit is not None:
        result = result.limit(plan.limit)
    return result
