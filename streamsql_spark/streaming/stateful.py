"""Custom stateful streaming operators on ``applyInPandasWithState``.

The four reference operators Spark has no built-in for (SURVEY §4):

- **counting window** (window/counting_window.go): per-key chunks of N
  rows, emit on the Nth row; partial chunks stay pending in state.
- **global window TRIGGER WHEN** (window/global_window.go): per-key
  running aggregates + predicate, FIRE_AND_PURGE on hit.
- **analytic state machine** (stream/analytic.go): lag/latest/
  had_changed/changed_col/acc_* with PARTITION BY + WHEN gating.
- **CEP MATCH_RECOGNIZE** (cep/engine.go): per-key tail buffer driving
  the batch matcher incrementally; matches that can no longer extend
  emit, the rest stay pending.

State is a single pickled blob per key (BinaryType) — schema-free, like
the reference's per-key Go structs.  Keys parallelize across executors;
within a key processing is sequential by construction (same as the
reference's per-partition goroutine).  Aggregate/analytic *arguments*
are pre-projected JVM-side; the expressions that must run per row
(TRIGGER WHEN, DEFINE/MEASURES) are pyeval closures compiled once.
"""

from __future__ import annotations

import math
import pickle

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, BooleanType, DataType,
                               DoubleType, LongType, StringType, StructField,
                               StructType, TimestampType)

from ..dialect import nodes as N
from ..dialect.render import render
from ..functions import registry
from .aggutil import (ALGEBRAIC_AGGS, acc_new, acc_result, acc_update,
                      py_aggregate)

_STATE_SCHEMA = StructType([StructField("blob", BinaryType())])


def _load_state(state):
    if state.exists:
        (blob,) = state.get
        if blob is not None:
            return pickle.loads(bytes(blob))
    return None


def _save_state(state, obj, ttl_ms: int | None = None) -> None:
    state.update((pickle.dumps(obj),))
    if ttl_ms is not None:
        state.setTimeoutDuration(ttl_ms)


def opt_duration_s(plan, key: str, default=None):
    """WITH-option duration in seconds (case-insensitive key) — one
    parse path for STATETTL/MAXOUTOFORDERNESS/... so option
    normalization can't drift between kernels."""
    from ..engine.batch import duration_to_seconds

    opts = {k.upper(): v for k, v in plan.options.items()}
    v = opts.get(key.upper())
    return duration_to_seconds(str(v)) if v is not None else default


def state_ttl_ms(plan) -> int | None:
    """STATETTL option → per-key state timeout (the reference reaps idle
    counting/global/analytic keys, types/config.go:135)."""
    v = opt_duration_s(plan, "STATETTL")
    return int(v * 1000) if v is not None else None


def _timeout_conf(ttl_ms: int | None) -> str:
    return "ProcessingTimeTimeout" if ttl_ms is not None else "NoTimeout"


def _sorted_batch(pdf_iter, order_cols: list[str]):
    import pandas as pd

    parts = [p for p in pdf_iter if len(p)]
    if not parts:
        return pd.DataFrame()
    pdf = pd.concat(parts, ignore_index=True)
    cols = [c for c in order_cols if c in pdf.columns]
    if cols:
        pdf = pdf.sort_values(cols, kind="mergesort")
    return pdf


def _clean(v):
    """numpy/pandas value → plain python, NaN → None (state must pickle
    small, and buffered values must be container-type-invariant: Arrow
    hands an array<...> column to the kernel as np.ndarray cells, which
    (a) blow up the generic `.item()` scalar unwrap for size>1 and
    (b) would silently UNWRAP a size-1 array to its scalar)."""
    import numpy as np
    import pandas as pd

    if v is None:
        return None
    if isinstance(v, np.ndarray):
        # tolist() recursively converts nested numpy scalars too
        return v.tolist()
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    if isinstance(v, pd.Timestamp):
        # keep the buffered type identical to what batch rows carry
        # (datetime), so repr-keyed dedup / stringification can't
        # split across paths
        return v.to_pydatetime()
    if hasattr(v, "item"):
        return v.item()
    if isinstance(v, (list, tuple)):
        return [_clean(x) for x in v]
    if isinstance(v, dict):
        return {k: _clean(x) for k, x in v.items()}
    return v


def _clean_int(v):
    v = _clean(v)
    return int(v) if isinstance(v, float) else v


def _clean_int_leaf(x):
    """Integral array element: Arrow float64-coerces the WHOLE chunk
    when any element anywhere in it is NULL, so ``5`` arrives as
    ``5.0`` chunk-dependently and a NULL element arrives as ``nan`` —
    restore int/None for micro-batch-split-invariance (same trap class
    as _clean_int, r7; elements beyond 2^53 in a null-bearing chunk
    are unrecoverable — float64 already lost the precision at the
    Arrow boundary)."""
    if x is None or (isinstance(x, float) and x != x):
        return None
    return int(x) if isinstance(x, float) else x


def _int_array_cleaner(dt):
    """Cell cleaner for (nested) arrays whose LEAF element type is
    integral, recursing through array<array<...>>; None when the type
    carries no integral leaf to restore (plain _clean suffices)."""
    from pyspark.sql.types import (ArrayType, ByteType, IntegerType,
                                   LongType, ShortType)
    if isinstance(dt.elementType, (ByteType, ShortType, IntegerType,
                                   LongType)):
        inner = _clean_int_leaf
    elif isinstance(dt.elementType, ArrayType):
        inner = _int_array_cleaner(dt.elementType)
        if inner is None:
            return None
    else:
        return None

    def f(v, inner=inner):
        v = _clean(v)
        if v is None:
            return None
        return [inner(x) for x in v]
    return f


def _map_cleaner(dt):
    """MAP-typed cell → plain dict.  Arrow hands a map column to the
    kernel as a LIST OF (key, value) TUPLES, whose Python equality is
    ORDER-SENSITIVE — two DeepEqual-equal maps delivered with
    different key orders would read as 'changed' in had_changed /
    changed_col and split repr-keyed dedup buffers.  A dict restores
    the reference's order-insensitive map semantics
    (schema/schema.go:70-95; reflect.DeepEqual row comparison), and
    Arrow accepts dicts back for MapType output columns."""
    from pyspark.sql.types import ArrayType, MapType

    from ..engine.batch import _contains_map as _has_map

    vt = dt.valueType
    if isinstance(vt, MapType):
        sub = _map_cleaner(vt)
    elif _has_map(vt):
        sub = _container_map_cleaner(vt)  # array/struct holding maps
    elif isinstance(vt, ArrayType):
        sub = _int_array_cleaner(vt) or _clean
    else:
        sub = _clean

    def cl(v):
        v = _clean(v)
        if v is None:
            return None
        if isinstance(v, dict):
            return {k: sub(x) for k, x in v.items()}
        return {k: sub(x) for k, x in v}  # list of (k, v) pairs

    return cl


def _container_map_cleaner(dt):
    """Cleaner for maps nested INSIDE arrays/structs (array<map>,
    struct<..., m: map>): the batch path canonicalizes maps anywhere
    in the type tree (engine.batch._contains_map), so the kernels must
    dict-restore them at every depth too, or change detection compares
    Arrow's (k,v)-tuple lists order-sensitively on one path only."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return _map_cleaner(dt)
    if isinstance(dt, ArrayType):
        sub = _container_map_cleaner(dt.elementType)

        def cl_arr(v):
            v = _clean(v)
            return None if v is None else [sub(x) for x in v]
        return cl_arr
    if isinstance(dt, StructType):
        subs = {f.name: _container_map_cleaner(f.dataType)
                for f in dt.fields}

        def cl_struct(v):
            v = _clean(v)
            if v is None:
                return None
            d = v if isinstance(v, dict) else v.asDict()
            return {k: (subs[k](x) if k in subs else x)
                    for k, x in d.items()}
        return cl_struct
    return _clean


def _cleaners(df, cols) -> dict:
    """Per-column cleaner map for kernel buffer ingestion: _clean, plus
    integral-type restoration.  pandas coerces a nullable int64 column
    chunk to float64 CHUNK-DEPENDENTLY (a chunk without NaN stays
    int64), so the same long column buffers as 5 from one micro-batch
    and 5.0 from another — repr-keyed ``deduplicate`` then splits them
    and ``merge_agg`` stringifies '5.0' where the batch path's CAST
    gives '5'.  Restoring the Spark type makes buffered values
    micro-batch-split-invariant.  Map columns restore dicts (see
    :func:`_map_cleaner`)."""
    from pyspark.sql.types import (ArrayType, ByteType, IntegerType,
                                   LongType, MapType, ShortType,
                                   StructType)
    from ..engine.batch import _contains_map as _contains_map_dt
    ints = (ByteType, ShortType, IntegerType, LongType)
    out = {}
    for c in cols:
        # no defensive except: every caller passes columns present in
        # its (pruned) df — a missing name is a plan-build bug that
        # must fail HERE, not silently get the wrong cleaner
        dt = df.schema[c].dataType
        if isinstance(dt, ints):
            out[c] = _clean_int
        elif isinstance(dt, MapType):
            out[c] = _map_cleaner(dt)
        elif isinstance(dt, (ArrayType, StructType)) \
                and _contains_map_dt(dt):
            out[c] = _container_map_cleaner(dt)
        elif isinstance(dt, ArrayType):
            out[c] = _int_array_cleaner(dt) or _clean
        else:
            out[c] = _clean
    return out


# --------------------------------------------------------------- agg prep

def _agg_parts(spec) -> tuple[str, str | None, object]:
    """AggSpec → (kernel agg name, arg SQL | None, extra literal)."""
    f: N.Func = spec.func
    name = f.name.lower()
    if name == "count":
        if not f.args or isinstance(f.args[0], N.Star):
            return "count_star", None, None
        return "count", render(f.args[0]), None
    if name == "percentile":
        # reference order percentile(p, col)
        p = f.args[0].value if isinstance(f.args[0], N.Lit) else 0.5
        return "percentile", render(f.args[1]), p
    if name == "nth_value":
        n = f.args[1].value if len(f.args) > 1 and isinstance(f.args[1], N.Lit) else 1
        return "nth_value", render(f.args[0]), n
    return name, (render(f.args[0]) if f.args else None), None


def _agg_out_type(kernel_name: str, arg_type: DataType | None) -> DataType:
    if kernel_name in ("count", "count_star"):
        return LongType()
    if kernel_name == "sum":
        # integer sums stay integer — the ALLOWEDLATENESS=0 path uses
        # Catalyst's native sum (LongType for integral columns), and the
        # same query must not flip output types when the option toggles
        from pyspark.sql.types import ByteType, IntegerType, ShortType
        if isinstance(arg_type, (LongType, IntegerType, ShortType, ByteType)):
            return LongType()
        return DoubleType()
    if kernel_name in ("avg", "stddev", "stddevs", "var", "vars",
                       "median", "percentile"):
        return DoubleType()
    if kernel_name in ("collect", "deduplicate"):
        return ArrayType(arg_type or StringType())
    if kernel_name == "merge_agg":
        return StringType()
    # min/max/first_value/last_value/nth_value keep the arg type
    return arg_type or DoubleType()


def _int_out_phs(out_schema: StructType) -> set[str]:
    """Placeholder columns declared integral in the kernel's output."""
    from pyspark.sql.types import ByteType, IntegerType, ShortType
    return {f.name for f in out_schema.fields
            if isinstance(f.dataType, (LongType, IntegerType, ShortType,
                                       ByteType))}


def _coerce_ints(out: dict, int_phs: set[str]) -> None:
    """pandas materializes nullable integer columns as float64, so an
    integer-typed aggregate can compute 9.0 — coerce to int so the
    Arrow cast back to the declared LongType is exact."""
    for k in int_phs:
        v = out.get(k)
        if isinstance(v, float) and not math.isnan(v):
            out[k] = int(v)


def _prep_agg_columns(df: DataFrame, plan):
    """Pre-project aggregate argument columns; return (df, kernel specs).

    kernel specs: [(placeholder, kernel_name, arg_col | None, extra)].
    """
    specs = []
    for i, s in enumerate(plan.agg_specs):
        kname, arg_sql, extra = _agg_parts(s)
        arg_col = None
        if arg_sql is not None:
            arg_col = f"__aa_{i}__"
            df = df.withColumn(arg_col, F.expr(arg_sql))
        specs.append((s.placeholder, kname, arg_col, extra))
    return df, specs


def _key_columns(df: DataFrame, plan) -> tuple[DataFrame, list[str]]:
    """Materialize group-key expressions as named columns."""
    names = []
    for i, gsql in enumerate(plan.group_sqls):
        if gsql in df.columns:
            names.append(gsql)
        else:
            name = f"__gk_{i}__"
            df = df.withColumn(name, F.expr(gsql))
            names.append(name)
    return df, names


def _field_type(df: DataFrame, col: str) -> DataType:
    return df.schema[col].dataType


_QREF = __import__("re").compile(
    r"\b([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)\b")
# string-literal spans (single OR double quoted, with ''/""/backslash
# escapes — Spark treats double-quoted text as a string literal by
# default): the qualified-ref rewrite must never touch text INSIDE a
# literal — 'see t.note here' would otherwise be corrupted into
# 'see __q_t_note__ here'
_SQL_LIT = __import__("re").compile(
    "('(?:[^'\\\\]|\\\\.|'')*'|\"(?:[^\"\\\\]|\\\\.|\"\")*\")")


def _sub_outside_literals(pattern, sub, sql: str) -> str:
    """Apply ``pattern.sub(sub, ...)`` only OUTSIDE string literals
    (odd split indices are the captured literal spans)."""
    return "".join(p if i % 2 else pattern.sub(sub, p)
                   for i, p in enumerate(_SQL_LIT.split(sql)))


def make_qref_rewriter(src: str, quals: set, mapping: dict):
    """Shared qualified-ref token rewriter: source-alias refs → bare
    names; table-qualified refs → ``__q_{alias}_{col}__`` flat names
    collected into ``mapping``.  ONE implementation: both the
    snapshot-join flatten (below) and the lookup-join enrichment
    (streaming/lookup.py) produce ``__qref_map__`` maps consumed by
    :func:`apply_qref_map` — a drift between two copies would silently
    desynchronize the two rewrite paths."""

    def rw(sql):
        if not sql:
            return sql

        def sub(m):
            q, c = m.group(1), m.group(2)
            if q == src:
                return c
            if q not in quals:
                return m.group(0)
            tok = f"{q}.{c}"
            mapping.setdefault(tok, f"__q_{q}_{c}__")
            return mapping[tok]

        return _sub_outside_literals(_QREF, sub, sql)

    return rw


def flatten_join_refs(df: DataFrame, plan):
    """Flatten alias-qualified refs for pass-through stateful kernels.

    ``applyInPandasWithState`` output is a fresh flat DataFrame — join
    aliases do not survive it, and duplicate column names (both sides'
    join keys) are rejected at its input.  So, while aliases are still
    alive: materialize every table-qualified ref the plan's expressions
    use as a hidden flat column and rewrite those expressions to the
    flat names; source-alias refs rewrite to bare names (the stream
    side wins the duplicate-name dedupe, mirroring enrichJoin keeping
    stream fields top-level, stream/join.go:35-67).  The Spark analog
    of the reference's rewriteQualifiedRefs
    (stream/processor_field.go:222-239).

    Returns (df-with-hidden-columns, rewritten-plan).  The kernel entry
    point dedupes the duplicate names (`_dedupe_columns`)."""
    from dataclasses import replace

    src = plan.source_alias or plan.source
    quals = {j.table for j in plan.joins} | \
            {j.alias for j in plan.joins if j.alias}
    added: dict[str, str] = {}
    rw = make_qref_rewriter(src, quals, added)

    analytics2 = [replace(a, partition_by=[rw(p) for p in a.partition_by],
                          when_sql=rw(a.when_sql)) for a in plan.analytics]
    plan2 = replace(
        plan,
        where_sql=rw(plan.where_sql),
        having_sql=rw(plan.having_sql),
        group_sqls=[rw(g) for g in plan.group_sqls],
        order_by=[(rw(s), asc) for s, asc in plan.order_by],
        outputs=[replace(o, sql=rw(o.sql)) for o in plan.outputs],
        analytics=analytics2,
        # MERGE an existing map (a lookup-enrichment stage may have
        # run first — same __q_{alias}_{col}__ convention, disjoint
        # alias sets) — overwriting would orphan its rewrites
        options={**plan.options,
                 "__qref_map__": {
                     **(plan.options.get("__qref_map__") or {}),
                     **added, "__src__": src}},
    )
    for tok, name in added.items():
        df = df.withColumn(name, F.expr(tok))
    return df, plan2


def apply_qref_map(sql: str, plan) -> str:
    """Apply a flatten_join_refs rewrite map to a late-rendered SQL
    fragment (analytic arguments are rendered inside the kernel prep)."""
    m = plan.options.get("__qref_map__") if plan.options else None
    if not m or not sql:
        return sql
    src = m.get("__src__")

    def sub(mt):
        q, c = mt.group(1), mt.group(2)
        if q == src:
            return c
        return m.get(f"{q}.{c}", mt.group(0))

    return _sub_outside_literals(_QREF, sub, sql)


def _dedupe_columns(df: DataFrame) -> DataFrame:
    """Drop later duplicates of a column name, keeping the first (the
    stream side — the left of the join) — stateful kernels reject
    duplicate input names."""
    seen: set[str] = set()
    names, drops = [], []
    for c in df.columns:
        if c in seen:
            alt = f"__dupdrop_{len(drops)}__"
            names.append(alt)
            drops.append(alt)
        else:
            seen.add(c)
            names.append(c)
    return df.toDF(*names).drop(*drops) if drops else df


def _prune_kernel_input(df: DataFrame, names, plan, ts_col: str | None,
                        extra=()) -> DataFrame:
    """Narrow a stateful kernel's input to the columns it reads.

    ``applyInPandasWithState`` rejects duplicate column names (a joined
    stream carries both sides' join keys), and the pruned projection
    shrinks the state-store shuffle to key + argument columns only."""
    keep = list(dict.fromkeys(
        [*names,
         *[c for c in df.columns if c.startswith("__aa_")],
         *extra,
         *([ts_col] if ts_col and ts_col in df.columns else [])]))
    return df.select(*keep)


# ---------------------------------------------------------------- counting

def counting_window_stream(df: DataFrame, plan, ts_col: str | None) -> DataFrame:
    """Streaming counting window: emit aggregated rows per N-row chunk;
    the partial chunk persists in state across micro-batches.

    Chunk keying mirrors the reference's FLAT row lookup (window/
    counting_window.go:330-356): plain columns and function-expression
    keys partition the state; qualified refs / nested paths do NOT key
    the window — their values ride along in the buffer and the fired
    chunk is sub-grouped by them on emission (the aggregator's job in
    stream/processor_data.go:383-418)."""
    from ..engine.batch import counting_key_sqls

    n = plan.window.count
    ttl_ms = state_ttl_ms(plan)
    src_cols = list(df.columns)
    df, names = _key_columns(df, plan)
    flat = set(counting_key_sqls(plan, src_cols))
    keys = [nm for gsql, nm in zip(plan.group_sqls, names) if gsql in flat]
    carries = [nm for gsql, nm in zip(plan.group_sqls, names)
               if gsql not in flat]
    df, agg_specs = _prep_agg_columns(df, plan)
    df = _prune_kernel_input(df, names, plan, ts_col)

    fields = [StructField(nm, _field_type(df, nm)) for nm in names]
    for ph, kname, arg_col, _ in agg_specs:
        at = _field_type(df, arg_col) if arg_col else None
        fields.append(StructField(ph, _agg_out_type(kname, at)))
    # opaque per-fire id (unique within a micro-batch): a chunk fire is
    # ONE reference sink batch — the per-emission tail (DISTINCT/ORDER
    # BY/LIMIT) partitions on it so two fires of the same key in one
    # trigger are never merged.  Deterministic (key + in-batch chunk
    # counter), dropped before the sink.
    fields.append(StructField("__fire_id__", StringType()))
    out_schema = StructType(fields)
    int_phs = _int_out_phs(out_schema)

    arg_cols = [c for _, _, c, _ in agg_specs if c is not None]
    order = [ts_col] if ts_col and ts_col in df.columns else []
    key_names = list(keys)
    carry_names = list(carries)
    ncarry = len(carry_names)
    clean_by = _cleaners(df, carry_names + arg_cols)

    def kernel(key, pdf_iter, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()  # STATETTL idle-key reap
            return
        pdf = _sorted_batch(pdf_iter, order)
        buf = _load_state(state) or []
        rows_out = []
        fire_no = 0
        if len(pdf):
            vals = {c: pdf[c].tolist() for c in carry_names + arg_cols}
            for i in range(len(pdf)):
                buf.append(tuple(clean_by[c](vals[c][i])
                                 for c in carry_names + arg_cols))
                if len(buf) >= n:
                    chunk = buf[:n]
                    buf = buf[n:]
                    # repr() is collision-free across composite string
                    # keys (a plain '|'.join would merge ("x|y","z")
                    # with ("x","y|z") into one fire); zero-padded seq
                    # so the carrier's LEXICOGRAPHIC order matches fire
                    # order past 10 fires/key/micro-batch
                    fid = repr(tuple(key)) + f"#{fire_no:09d}"
                    fire_no += 1
                    # sub-group the fired chunk by the carried group
                    # values (first-seen order, like the hash aggregator)
                    groups: dict[tuple, list[tuple]] = {}
                    for t in chunk:
                        groups.setdefault(tuple(t[:ncarry]), []).append(t[ncarry:])
                    for cvals, rows in groups.items():
                        out = dict(zip(key_names, key))
                        out.update(zip(carry_names, cvals))
                        for ph, kname, arg_col, extra in agg_specs:
                            if kname == "count_star":
                                out[ph] = len(rows)
                            else:
                                idx = arg_cols.index(arg_col)
                                out[ph] = py_aggregate(
                                    kname, [t[idx] for t in rows], extra)
                        _coerce_ints(out, int_phs)
                        out["__fire_id__"] = fid
                        rows_out.append(out)
        _save_state(state, buf, ttl_ms)
        if rows_out:
            yield pd.DataFrame(rows_out, columns=[f.name for f in out_schema.fields])

    # keyless → a synthetic constant key; the output schema need not
    # (and does not) include grouping columns
    grouped = df.groupBy(*[F.col(k) for k in keys]) if keys \
        else df.withColumn("__k__", F.lit(1)).groupBy("__k__")
    return grouped.applyInPandasWithState(
        kernel, out_schema, _STATE_SCHEMA, "append", _timeout_conf(ttl_ms))


# --------------------------------------------------------------- lateness

def lateness_window_stream(df: DataFrame, plan, ts_col: str) -> DataFrame:
    """Emit-then-update time windows for ALLOWEDLATENESS > 0
    (window/tumbling_window.go:596-674 handleLateData semantics):

    - a window fires ON TIME when the reference watermark
      (max event time − MAXOUTOFORDERNESS) passes its end;
    - a late row landing in an already-fired window within
      ALLOWEDLATENESS re-emits the FULL accumulated window;
    - window state purges once the lateness horizon passes
      (watermark ≥ end + lateness — rows later than that were already
      dropped by Spark's watermark filter, delay = MOO + lateness);
    - every emission carries a stable ``window_id``
      ("<start_ns>_<end_ns>", stream/processor_data.go:415-435
      stampWindowID) so sinks can dedup/replace across re-emits;
    - IDLETIMEOUT (window/watermark.go:100-127): when a key sees no
      data for the idle duration, the reference watermark advances on
      WALL CLOCK (now − MAXOUTOFORDERNESS) so pending windows still
      close.  The kernel then runs under ProcessingTimeTimeout (the
      only Spark timeout that fires without watermark movement) and
      persists the advanced watermark monotonically in state.

    Spark's own windowed aggregation cannot re-fire a closed window in
    append mode, so this runs as a per-key applyInPandasWithState kernel
    in UPDATE output mode; Spark's per-key state holds
    {slot_start: (buffered agg args, fired)}.  Slot fan-out (tumbling +
    sliding) happens JVM-side before the shuffle.
    """
    from ..dialect.planner import WINDOW_END_COL, WINDOW_START_COL
    from ..engine.batch import duration_to_seconds

    w = plan.window
    size_ms = int(duration_to_seconds(w.size) * 1000)
    slide_ms = int(duration_to_seconds(w.slide) * 1000) \
        if w.kind == "sliding" else size_ms
    al_ms = int(opt_duration_s(plan, "ALLOWEDLATENESS", 0.0) * 1000)
    idle_s = opt_duration_s(plan, "IDLETIMEOUT")
    idle_ms = int(idle_s * 1000) if idle_s is not None else None
    moo_ms = int(opt_duration_s(plan, "MAXOUTOFORDERNESS", 0.0) * 1000)

    df, names = _key_columns(df, plan)
    df, agg_specs = _prep_agg_columns(df, plan)
    ts_ms_col = "__ts_ms__"
    # unix_millis is EXACT for timestamps; the double route loses the
    # true millisecond for many values (2.3s -> 2299.999..ms -> slot
    # 2200 instead of 2300 — a boundary row in the wrong window)
    if isinstance(df.schema[ts_col].dataType, TimestampType):
        ms = F.unix_millis(F.col(ts_col))
    else:
        ms = F.round(F.col(ts_col).cast("double") * 1000).cast("long")
    df = df.withColumn(ts_ms_col, ms)
    if w.kind == "tumbling":
        df = df.withColumn(
            "__slot__", F.floor(F.col(ts_ms_col) / slide_ms) * slide_ms)
    else:
        nslots = (size_ms + slide_ms - 1) // slide_ms
        base = F.floor(F.col(ts_ms_col) / slide_ms) * slide_ms
        df = (df.withColumn("__off__",
                            F.explode(F.sequence(F.lit(0), F.lit(nslots - 1))))
                .withColumn("__slot__", base - F.col("__off__") * F.lit(slide_ms))
                .where(F.col("__slot__") + F.lit(size_ms) > F.col(ts_ms_col))
                .drop("__off__"))
    df = _prune_kernel_input(df, names, plan, ts_col,
                             extra=("__slot__", ts_ms_col))

    fields = [StructField(nm, _field_type(df, nm)) for nm in names]
    for ph, kname, arg_col, _ in agg_specs:
        at = _field_type(df, arg_col) if arg_col else None
        fields.append(StructField(ph, _agg_out_type(kname, at)))
    fields.append(StructField(WINDOW_START_COL, TimestampType()))
    fields.append(StructField(WINDOW_END_COL, TimestampType()))
    fields.append(StructField("window_id", StringType()))
    out_schema = StructType(fields)
    int_phs = _int_out_phs(out_schema)

    arg_cols = [c for _, _, c, _ in agg_specs if c is not None]
    key_names = list(names)
    algebraic = all(kname in ALGEBRAIC_AGGS for _, kname, _, _ in agg_specs)
    clean_by = _cleaners(df, arg_cols)

    def kernel(key, pdf_iter, state):
        from datetime import datetime, timezone

        import pandas as pd

        # Spark watermark = max_ts − (MOO + lateness) = the reference's
        # lateness drop horizon; the reference watermark (max_ts − MOO)
        # = spark_wm + lateness.  0 means "no watermark yet" (first
        # batches) — nothing fires or drops then.
        wm = state.getCurrentWatermarkMs()
        ref_wm = wm + al_ms if wm > 0 else None
        blob = _load_state(state) or {}
        adv_ref = blob.pop("__adv__", 0) if isinstance(blob, dict) else 0
        if idle_ms is not None and state.hasTimedOut:
            # idle source: advance the reference watermark on wall
            # clock (window/watermark.go:110-117) — monotonic via state
            import time as _time
            adv_ref = max(adv_ref, int(_time.time() * 1000) - moo_ms)
        if adv_ref:
            ref_wm = max(ref_wm or 0, adv_ref)
            wm = max(wm, ref_wm - al_ms)
        # slots: {slot_start_ms: [fired, window-agg state]}.  When every
        # aggregate is algebraic the window state is a fixed-size
        # partial accumulator per spec (constant memory per window no
        # matter how many rows it holds — the scale-relevant case);
        # holistic aggregates (median/percentile/collect/nth) fall back
        # to buffering the argument tuples, like the reference's
        # snapshotData (tumbling_window.go:617-674).
        slots = blob
        touched = set()
        # the kernel is only invoked for keys present in the batch — an
        # event-time timeout at the next fire/purge point wakes idle
        # keys when the watermark alone advances past it
        pdf = pd.DataFrame() if state.hasTimedOut \
            else _sorted_batch(pdf_iter, [ts_ms_col])
        if len(pdf):
            vals = {c: pdf[c].tolist()
                    for c in arg_cols + ["__slot__", ts_ms_col]}
            for i in range(len(pdf)):
                ts_v = _clean(vals[ts_ms_col][i])
                if ts_v is None:
                    # NULL event time can't be windowed: drop, never
                    # int(NaN)-crash the query (the same null-row drop
                    # every time-window path applies)
                    continue
                if wm > 0 and int(ts_v) < wm:
                    # beyond the lateness horizon (IsEventTimeLate,
                    # window/watermark.go:199-213): dropped, no
                    # re-emission — arbitrary stateful ops don't get
                    # Spark's automatic late-row filter, so enforce it
                    continue
                slot = int(vals["__slot__"][i])
                if algebraic:
                    ent = slots.setdefault(
                        slot, [False, [acc_new() for _ in agg_specs]])
                    for k, (ph, kname, arg_col, extra) in enumerate(agg_specs):
                        v = _clean(vals[arg_col][i]) if arg_col else None
                        acc_update(ent[1][k], v)
                else:
                    ent = slots.setdefault(slot, [False, []])
                    ent[1].append(tuple(clean_by[c](vals[c][i])
                                        for c in arg_cols))
                touched.add(slot)
        rows_out = []

        def emit(slot, ent):
            out = dict(zip(key_names, key))
            for k, (ph, kname, arg_col, extra) in enumerate(agg_specs):
                if algebraic:
                    out[ph] = acc_result(kname, ent[1][k])
                elif kname == "count_star":
                    out[ph] = len(ent[1])
                else:
                    idx = arg_cols.index(arg_col)
                    out[ph] = py_aggregate(
                        kname, [t[idx] for t in ent[1]], extra)
            end = slot + size_ms
            out[WINDOW_START_COL] = datetime.fromtimestamp(
                slot / 1000, tz=timezone.utc).replace(tzinfo=None)
            out[WINDOW_END_COL] = datetime.fromtimestamp(
                end / 1000, tz=timezone.utc).replace(tzinfo=None)
            out["window_id"] = f"{slot * 1_000_000}_{end * 1_000_000}"
            _coerce_ints(out, int_phs)
            rows_out.append(out)

        for slot in sorted(slots):
            ent = slots[slot]
            end = slot + size_ms
            if not ent[0] and ref_wm is not None and ref_wm >= end:
                emit(slot, ent)      # on-time fire at the reference watermark
                ent[0] = True
            elif ent[0] and slot in touched:
                emit(slot, ent)      # accumulating late re-emit, same window_id
            if wm > 0 and wm >= end:  # lateness horizon passed — purge
                del slots[slot]
        if slots:
            if adv_ref:
                slots = dict(slots)
                slots["__adv__"] = adv_ref
            _save_state(state, slots)
            if idle_ms is not None:
                # ProcessingTimeTimeout: wake after the idle duration
                # even if the Spark watermark never moves again
                state.setTimeoutDuration(idle_ms)
            else:
                # next wake-up: earliest pending on-time fire (end − lateness,
                # when the spark watermark reaches the reference fire point)
                # or purge point (end) — clamped above the current watermark
                nxt = min(s + size_ms - (0 if ent[0] else al_ms)
                          for s, ent in slots.items()
                          if not isinstance(s, str))
                state.setTimeoutTimestamp(max(nxt, wm + 1))
        else:
            state.remove()
        if rows_out:
            yield pd.DataFrame(rows_out,
                               columns=[f.name for f in out_schema.fields])

    grouped = df.groupBy(*[F.col(k) for k in key_names]) if key_names \
        else df.withColumn("__k__", F.lit(1)).groupBy("__k__")
    return grouped.applyInPandasWithState(
        kernel, out_schema, _STATE_SCHEMA, "update",
        "ProcessingTimeTimeout" if idle_ms is not None else "EventTimeTimeout")


# ----------------------------------------------------------------- global

def _legacy_trigger_accs(trigger, old: dict, counts: dict) -> list:
    """Trigger accumulators from a checkpoint written before TRIGGER
    WHEN ran on aggutil accumulators.  That layout kept
    ``{"_a<k>": value}`` (avg as ``(sum, n)``) plus ``{"_a<k>": n}``
    counts for the k-th running aggregate, numbered in the same
    left-to-right order as ``trigger.aggs``."""
    accs = trigger.new()
    for k, ((kind, _), acc) in enumerate(zip(trigger.aggs, accs)):
        var = f"_a{k}"
        if kind in ("count", "count_star"):
            acc[0] = acc[1] = counts.get(var, 0)
        elif old.get(var) is not None:
            v = old[var]
            acc[0] = acc[1] = acc[2] = 1
            if kind == "avg":
                acc[3], acc[2] = v
            elif kind == "sum":
                acc[3] = v
            else:  # min / max
                acc[6 if kind == "min" else 7] = v
    return accs


def global_window_stream(df: DataFrame, plan, ts_col: str | None) -> DataFrame:
    """Streaming GLOBAL WINDOW TRIGGER WHEN: per-key buffered arg values +
    running trigger aggregates; on predicate hit emit + purge."""
    trigger = plan.trigger  # compiled by the planner
    ttl_ms = state_ttl_ms(plan)

    df, keys = _key_columns(df, plan)
    df, agg_specs = _prep_agg_columns(df, plan)
    for c in trigger.columns:
        if c not in df.columns:
            raise ValueError(f"TRIGGER WHEN references unknown column {c}")
    df = _prune_kernel_input(df, keys, plan, ts_col, extra=trigger.columns)

    fields = [StructField(k, _field_type(df, k)) for k in keys]
    for ph, kname, arg_col, _ in agg_specs:
        at = _field_type(df, arg_col) if arg_col else None
        fields.append(StructField(ph, _agg_out_type(kname, at)))
    # per-fire id: each trigger hit is one reference sink batch (see
    # counting kernel) — two fires of one key in a micro-batch must
    # stay distinct through the per-emission DISTINCT/LIMIT tail
    fields.append(StructField("__fire_id__", StringType()))
    out_schema = StructType(fields)
    int_phs = _int_out_phs(out_schema)

    arg_cols = [c for _, _, c, _ in agg_specs if c is not None]
    order = [ts_col] if ts_col and ts_col in df.columns else []
    key_names = list(keys)
    # all-algebraic output aggregates → O(1) partials per key instead of
    # buffering every row until the trigger fires (a global window is
    # unbounded by definition — constant state is the scale-safe shape);
    # holistic aggregates keep the buffer, like the reference's window
    # data (window/global_window.go:49-731)
    algebraic = all(kname in ALGEBRAIC_AGGS for _, kname, _, _ in agg_specs)
    clean_by = _cleaners(df, arg_cols)

    def kernel(key, pdf_iter, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()  # STATETTL idle-key reap
            return
        pdf = _sorted_batch(pdf_iter, order)
        if algebraic:
            st = _load_state(state) or {
                "accs": [acc_new() for _ in agg_specs],
                "trig": trigger.new()}
            accs = st["accs"]
            buf = None
        else:
            st = _load_state(state) or {"buf": [], "trig": trigger.new()}
            buf = st["buf"]
        taccs = st["trig"]
        if isinstance(taccs, dict):  # pre-accumulator checkpoint
            taccs = _legacy_trigger_accs(trigger, taccs,
                                         st.pop("counts", {}))
        rows_out = []
        fire_no = 0
        if len(pdf):
            vals = {c: pdf[c].tolist() for c in arg_cols}
            tvals = trigger.read(pdf)
            for i in range(len(pdf)):
                if algebraic:
                    for k, (ph, kname, arg_col, extra) in enumerate(agg_specs):
                        v = _clean(vals[arg_col][i]) if arg_col else None
                        acc_update(accs[k], v)
                else:
                    buf.append(tuple(clean_by[c](vals[c][i]) if c else None
                                     for c in arg_cols))
                if trigger.fired(taccs, tvals, i):
                    out = dict(zip(key_names, key))
                    if algebraic:
                        for k, (ph, kname, arg_col, extra) in enumerate(agg_specs):
                            out[ph] = acc_result(kname, accs[k])
                        for k in range(len(accs)):
                            accs[k] = acc_new()
                    else:
                        for ph, kname, arg_col, extra in agg_specs:
                            if arg_col is None:
                                out[ph] = len(buf) if kname == "count_star" \
                                    else py_aggregate(
                                        kname, [None] * len(buf), extra)
                            else:
                                idx = arg_cols.index(arg_col)
                                out[ph] = py_aggregate(
                                    kname, [t[idx] for t in buf], extra)
                        buf.clear()
                    _coerce_ints(out, int_phs)
                    # repr(): collision-free across composite keys;
                    # zero-padded seq keeps lexicographic = fire order
                    out["__fire_id__"] = \
                        repr(tuple(key)) + f"#{fire_no:09d}"
                    fire_no += 1
                    rows_out.append(out)
                    taccs = trigger.new()
        st["trig"] = taccs  # accs / buf are updated in place
        _save_state(state, st, ttl_ms)
        if rows_out:
            yield pd.DataFrame(rows_out, columns=[f.name for f in out_schema.fields])

    # keyless → a synthetic constant key; the output schema need not
    # (and does not) include grouping columns
    grouped = df.groupBy(*[F.col(k) for k in keys]) if keys \
        else df.withColumn("__k__", F.lit(1)).groupBy("__k__")
    return grouped.applyInPandasWithState(
        kernel, out_schema, _STATE_SCHEMA, "append", _timeout_conf(ttl_ms))


# -------------------------------------------------------------- analytics

_LAG_CAP = 64  # ring buffer bound per lag() call

from decimal import Decimal as _Decimal  # noqa: E402 — hot-path import

_SCALARS = frozenset((int, float, str, bool, bytes, type(None)))


def copy_state(v):
    """Fast deep copy for analytic state snapshots.

    Built-in analytic states are small dicts/lists of scalars;
    ``copy.deepcopy``'s generic dispatch + memo dominated the per-event
    direct path (~70% of its time).  This specialized copier handles
    the container shapes directly — scalar elements are copied without
    a recursive call (the lag ring buffer is a 64-scalar list) — and
    defers to deepcopy only for exotic values a custom
    ``AnalyticState`` might hold."""
    t = type(v)
    if t in _SCALARS:
        return v
    if t is dict:
        return {k: (x if type(x) in _SCALARS else copy_state(x))
                for k, x in v.items()}
    if t is list:
        return [x if type(x) in _SCALARS else copy_state(x) for x in v]
    if t is tuple:
        return tuple(x if type(x) in _SCALARS else copy_state(x)
                     for x in v)
    import copy

    return copy.deepcopy(v)


def copy_builtin_state(st: dict) -> dict:
    """One-level copy for BUILT-IN analytic state snapshots — valid
    because the built-in steps (lag/latest/had_changed/changed_col/
    acc_*) only ever store scalars, flat lists of scalars (the lag
    ring, the had_changed baseline), or the acc_avg (total, count)
    tuple: ``list.copy()`` is a C-speed deep copy for those shapes,
    where :func:`copy_state`'s per-element dispatch cost ~5 µs/event
    on the direct path.  Custom ``AnalyticState`` objects must go
    through :func:`copy_state` instead."""
    out = {}
    for k, x in st.items():
        out[k] = x.copy() if type(x) is list else x
    return out


def analytic_step(p, s, argv, gate):
    nm = p["name"]
    if nm == "lag":
        # WHEN-gated rows don't update state; every row reads the
        # last gated values (stream/analytic.go WHEN semantics).
        # 4th arg ignoreNull defaults TRUE: nil never enters the
        # history (functions_analytical.go lagState)
        n = int(argv[1]) if len(argv) > 1 and argv[1] is not None else 1
        default = argv[2] if len(argv) > 2 else None
        ignore_null = bool(argv[3]) if len(argv) > 3 \
            and argv[3] is not None else True
        buf = s.setdefault("buf", [])
        out = buf[-n] if len(buf) >= n else default
        if gate and not (ignore_null and argv[0] is None):
            buf.append(argv[0])
            # ring sized to the LARGEST offset this state has ever
            # been asked for: a fixed cap below n would answer the
            # default forever, and trimming to the CURRENT row's n
            # would let a small-offset row starve a larger one when
            # the offset is a per-row expression
            cap = max(_LAG_CAP, n, s.get("cap", 0))
            s["cap"] = cap
            del buf[:-cap]
        return out  # default covers missing history only (lagState)
    if nm == "latest":
        default = argv[1] if len(argv) > 1 else None
        if gate and argv[0] is not None:
            s["v"] = argv[0]
        return s.get("v", default)
    if nm == "had_changed":
        # hadChangedState (functions_analytical.go:170-207):
        # first row always true; ignoreNull+nil neither triggers
        # nor overwrites the per-column baseline
        ignore_null = bool(argv[0]) if argv else False
        values = list(argv[1:]) if len(argv) > 1 else list(argv[:1])
        prev = s.get("prev")
        if prev is None:
            s["prev"] = values
            return True
        changed = False
        new_prev = list(prev) + [None] * max(0, len(values) - len(prev))
        for i, v in enumerate(values):
            if ignore_null and v is None:
                continue
            new_prev[i] = v
            if i >= len(prev) or prev[i] != v:
                changed = True
        s["prev"] = new_prev
        return changed
    if nm == "changed_col":
        # changedColState (functions/analytic_acc.go:125-154):
        # new value on change (first row counts), None otherwise;
        # ignoreNull skips nulls without touching state
        ignore_null = bool(argv[0]) if argv else False
        val = argv[1] if len(argv) > 1 else None
        if ignore_null and val is None:
            return None
        had = s.get("has", False)
        prev = s.get("prev")
        s["prev"] = val
        s["has"] = True
        return val if (not had or prev != val) else None
    if nm == "__changed_value__":
        # ignoreNull+nil: no emit, baseline kept (analytic_acc.go:168-185)
        if len(argv) > 1 and bool(argv[1]) and argv[0] is None:
            return None
        prev = s.get("prev", ...)
        s["prev"] = argv[0]
        return argv[0] if (prev is ... or prev != argv[0]) else None
    if nm.startswith("acc_"):
        # acc_x(expr[, startCond, resetCond]) — conditions are
        # pre-evaluated into argv[1]/argv[2]; a literal start arg is
        # ignored, matching the batch path (analytic_acc.go:8-122).
        # A WHEN-gated-out row touches no state at all (not even
        # reset); a reset row zeroes state WITHOUT accumulating its
        # own value and clears the start latch (accState.Apply).
        if gate and len(argv) > 2 and argv[2]:
            s.pop("acc", None)
            s.pop("started", None)
        elif gate:
            has_start = len(p["args"]) > 1 and p["args"][1] is not None
            if has_start:
                if not s.get("started") and argv[1]:
                    s["started"] = True
                started = s.get("started", False)
            else:
                started = True
            v = argv[0]
            # numeric-TYPE gate (analytic_state.go:80-92
            # toFloat64Generic: int/float only — strings never convert,
            # bools/datetimes skip): a non-numeric value is NOT
            # accumulated and must not crash the step; acc_count alone
            # counts any non-nil value (analytic_acc.go acc_count
            # branch).  Spark DECIMAL columns are numeric (a type the
            # reference lacks): accumulate as float like the batch path.
            if isinstance(v, _Decimal):
                v = float(v)
            numeric = isinstance(v, (int, float)) \
                and not isinstance(v, bool)
            if started and v is not None \
                    and (numeric or nm == "acc_count"):
                acc = s.get("acc")
                if nm == "acc_sum":
                    s["acc"] = (acc or 0) + v
                elif nm == "acc_count":
                    s["acc"] = (acc or 0) + 1
                elif nm == "acc_min":
                    s["acc"] = v if acc is None else min(acc, v)
                elif nm == "acc_max":
                    s["acc"] = v if acc is None else max(acc, v)
                elif nm == "acc_avg":
                    tot, cnt = acc or (0.0, 0)
                    s["acc"] = (tot + v, cnt + 1)
        acc = s.get("acc")
        if nm == "acc_avg":
            if acc is None:
                return None
            tot, cnt = acc
            return tot / cnt if cnt else None
        return acc

    custom = p.get("custom")
    if custom is not None:
        # custom AnalyticState surface (functions/analytic_state.go):
        # the state OBJECT itself lives in the pickled per-key state,
        # so it survives micro-batch boundaries; WHEN-gated-out rows
        # don't touch it and re-emit the last value
        obj = s.get("obj")
        if obj is None:
            obj = s["obj"] = custom[0]()
        if gate:
            s["last"] = obj.apply(argv)
        return s.get("last")

    raise ValueError(f"unsupported streaming analytic: {nm}")


def analytic_stream(df: DataFrame, plan, ts_col: str | None) -> DataFrame:
    """Streaming analytic state machine: appends one placeholder column
    per analytic call; state persists across micro-batches per partition
    key (stream/analytic.go:125-234 semantics, WHEN gating included)."""
    df = _dedupe_columns(df)
    specs = plan.analytics
    ttl_ms = state_ttl_ms(plan)
    part_sqls = specs[0].partition_by if specs else []
    for s in specs:
        if s.partition_by != part_sqls:
            # Spark allows ONE applyInPandasWithState per streaming
            # query ("Multiple applyInPandasWithStates are not
            # supported"), and a single kernel groups by one key set —
            # chained kernels were tried (r9) and rejected at analysis.
            # The per-event and batch paths DO support mixed keys.
            raise ValueError(
                "streaming analytics require a common OVER (PARTITION "
                "BY ...) across calls — Spark permits one stateful "
                "analytic kernel per streaming query; split the query, "
                "or use the batch/emit paths (which support mixed "
                "partition keys)")

    # materialize partition key / WHEN / argument columns JVM-side
    key_cols = []
    for i, psql in enumerate(part_sqls):
        name = psql if psql in df.columns else f"__ak_{i}__"
        if name not in df.columns:
            df = df.withColumn(name, F.expr(psql))
        key_cols.append(name)

    prep = []  # per spec: dict describing kernel work
    for i, s in enumerate(specs):
        f = s.func
        name = f.name.lower()
        info = {"name": name, "ph": s.placeholder, "args": [], "lits": [],
                # custom-analytic factory snapshot: the registry is
                # driver-side module state — capture here so it ships
                # inside the pickled kernel closure to the workers
                "custom": registry.custom_analytic(name)}
        when_col = None
        earlier = {p.placeholder for p in specs[:i]}
        if s.when_sql and s.when_sql in earlier:
            # lifted WHEN had_changed(...): the gate IS an earlier
            # spec's placeholder, stepped per-row inside the kernel —
            # not a pre-computable column expression
            info["when_ph"] = s.when_sql
        elif s.when_sql:
            when_col = f"__aw_{i}__"
            df = df.withColumn(when_col, F.expr(s.when_sql))
        info["when"] = when_col
        for j, a in enumerate(f.args):
            if isinstance(a, N.Star) or (isinstance(a, N.Lit) and a.value == "*"):
                # had_changed(true, *): whole row by name
                # (hadChangedState.ApplyNamed, stream/analytic.go:155-156);
                # the event-time column is ordering metadata, not data
                from ..engine.batch import event_time_name
                ts_name = event_time_name(df.columns, plan)
                for c in list(df.columns):
                    if not c.startswith("__") and c != ts_name:
                        info["args"].append(c)
                        info["lits"].append(None)
            elif isinstance(a, N.Lit):
                info["lits"].append(a.value)
                info["args"].append(None)
            else:
                c = f"__aarg_{i}_{j}__"
                df = df.withColumn(c, F.expr(apply_qref_map(render(a), plan)))
                info["args"].append(c)
                info["lits"].append(None)
        prep.append(info)

    def ph_type(info) -> DataType:
        nm = info["name"]
        custom = registry.custom_analytic(nm)
        if custom is not None:
            return custom[1]
        if nm == "had_changed":
            return BooleanType()
        if nm == "acc_count":
            return LongType()
        if nm in ("acc_sum", "acc_avg"):
            return DoubleType()
        first_arg = next((c for c in info["args"] if c), None)
        return _field_type(df, first_arg) if first_arg else DoubleType()

    out_schema = StructType(list(df.schema.fields)
                            + [StructField(p["ph"], ph_type(p)) for p in prep])
    order = [ts_col] if ts_col and ts_col in df.columns else []
    all_cols = df.columns
    # dtype-aware cleaners: map cells arrive as (k, v) tuple lists and
    # must compare order-insensitively (see _map_cleaner)
    need_cols = sorted({c for p in prep
                        for c in ([p["when"]] if p["when"] else [])
                        + [a for a in p["args"] if a]})
    clean_by = _cleaners(df, need_cols)

    def kernel(key, pdf_iter, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()  # STATETTL idle-key reap
            return
        pdf = _sorted_batch(pdf_iter, order)
        st = _load_state(state) or {}
        outs = {p["ph"]: [] for p in prep}
        if len(pdf):
            # only the columns the step functions read — converting the
            # whole frame costs one list per column PER KEY GROUP
            vals = {c: pdf[c].tolist() for c in need_cols}
            for i in range(len(pdf)):
                for p in prep:
                    nm, ph = p["name"], p["ph"]
                    s = st.setdefault(ph, {})
                    gate = True
                    if p["when"] is not None:
                        gate = bool(_clean(vals[p["when"]][i]))
                    elif p.get("when_ph") is not None:
                        # earlier spec's value for THIS row (prep order
                        # puts the lifted inner analytic first)
                        gate = bool(_clean(outs[p["when_ph"]][i]))
                    argv = [clean_by[c](vals[c][i]) if c else p["lits"][j]
                            for j, c in enumerate(p["args"])]
                    outs[ph].append(analytic_step(p, s, argv, gate))
        _save_state(state, st, ttl_ms)
        if len(pdf):
            for ph, col in outs.items():
                pdf[ph] = col
            yield pdf[[f.name for f in out_schema.fields]]


    kernel._step = analytic_step  # noqa — exposed for unit tests

    # keyless → a synthetic constant key; the output schema need not
    # (and does not) include grouping columns
    grouped = df.groupBy(*[F.col(c) for c in key_cols]) if key_cols \
        else df.withColumn("__k__", F.lit(1)).groupBy("__k__")
    return grouped.applyInPandasWithState(
        kernel, out_schema, _STATE_SCHEMA, "append", _timeout_conf(ttl_ms))


# -------------------------------------------------------------------- CEP

_CEP_MAX_BUFFER = 10_000  # reference maxRunRows default (cep/engine.go:17-23)


def cep_flush_outputs(st: dict, spec, ts_col: str, ts_is_time: bool,
                      within, ts_ups, part_names, key,
                      all_rows_mode: bool, program=None) -> list[dict]:
    """STATETTL reap = this kernel's ``Engine.Flush()``/``Stop()`` analog
    (cep/engine.go:238-267,321): emit everything the reference's Flush
    would — completed matches still held inside the reorder horizon AND
    still-open greedy matches (an unbounded ``A+`` tail) — before the
    key's state is destroyed.  The reference's own STATETTL is a
    counting-window-only reap-without-emit (types/config.go:135);
    applying it to MATCH_RECOGNIZE is this engine's documented
    end-of-stream flush route (Spark streams have no final-watermark
    advance), so it carries full Flush semantics: dropping a match the
    eager pass was still holding would lose output the reference's
    Stop() delivers.  WITHIN expiry still applies — ``flush`` releases
    the could-still-extend hold, it does not resurrect expired spans."""
    from ..cep.engine import Matcher

    rows = st["rows"]
    if not rows:
        return []
    w = within * ts_ups if within is not None and not ts_is_time \
        else within
    matcher = Matcher(spec, rows, _cep_times(rows, ts_col, ts_is_time), w,
                      program=program)
    return _cep_drive(matcher, st["mn"], key, part_names, all_rows_mode,
                      True, st.get("ctx", 0))[0]


def _cep_times(rows, ts_col: str, ts_is_time: bool) -> list:
    """Buffered rows' event times as numbers (timestamps → epoch s)."""
    if ts_is_time:
        return [r[ts_col].timestamp() if r.get(ts_col) is not None
                else None for r in rows]
    return [r.get(ts_col) for r in rows]


def _cep_drive(matcher, mn: int, key, part_names, all_rows_mode: bool,
               flush: bool, start_at: int):
    """Emit what ``find_emittable`` releases from one key's buffer →
    (measure rows, last match number, consumed-upto)."""
    matcher.match_number = mn
    matches, consumed = matcher.find_emittable(flush=flush,
                                               start_at=start_at)
    head = {} if all_rows_mode else dict(zip(part_names, key))
    outs = []
    for bindings in matches:
        mn += 1
        outs.extend({**head, **m} for m in matcher.measure_rows(bindings, mn))
    return outs, mn, consumed


def cep_stream(spark, plan, df: DataFrame):
    """Streaming MATCH_RECOGNIZE: per-key row tail buffer in state; the
    batch matcher runs incrementally, emitting matches that can no longer
    extend (see Matcher.find_emittable)."""
    from ..cep.executor import build_cep_parts

    ttl_ms = state_ttl_ms(plan)
    parts = build_cep_parts(df, plan)
    spec = parts["spec"]
    out_schema = parts["out_schema"]
    part_names = parts["part_names"]
    ts_col = parts["ts_col"]
    ts_is_time = parts["ts_is_time"]
    within = parts["within"]
    df = parts["df"]
    order_cols = parts["order_cols"]
    all_rows_mode = spec.rows_per_match == "all"
    # declared MAXOUTOFORDERNESS: hold a reorder horizon before the
    # matcher consumes — a row within the bound may still be displaced
    # into the held region by a later micro-batch, so consuming past
    # it would lose the late row (the window kernels hold the same
    # watermark; without the option, moo=0 keeps the eager
    # pending-tail-reorder behavior unchanged)
    moo_s = opt_duration_s(plan, "MAXOUTOFORDERNESS", 0.0)
    ts_ups = parts["ts_ups"]  # numeric event-time units per second

    from ..cep.engine import Matcher
    from ..cep.program import Program, nonliteral_nav_offset

    # PREV() in DEFINE/MEASURES navigates PHYSICALLY over partition
    # rows — consumed rows must stay readable behind the matchable
    # region or PREV at the trimmed buffer's head reads nil where the
    # batch paths see the real predecessor (r12 CEP-fuzz find).  Keep
    # program.prev_span already-consumed rows as navigation-only
    # context.  Spans come from LITERAL offsets; a dynamic offset would
    # silently under-retain, so it fails typed here without a declared
    # cap (batch/flush support it).
    from ..engine.batch import ExecError
    opts_up = {k.upper(): v for k, v in plan.options.items()}
    nav_cap_raw = opts_up.get("MAXNAVOFFSET")
    nav_cap = None
    if nav_cap_raw is not None:
        try:
            nav_cap = int(str(nav_cap_raw))
        except ValueError:
            raise ExecError(
                f"MAXNAVOFFSET expects an integer row count, got "
                f"{nav_cap_raw!r}") from None
        if nav_cap < 1:
            raise ExecError("MAXNAVOFFSET must be >= 1")
    bad_nav = nonliteral_nav_offset([*spec.defines.values(),
                                     *spec.measures])
    if bad_nav is not None and nav_cap is None:
        raise ExecError(
            f"{bad_nav}() with a non-literal offset needs a declared "
            "retention cap on streams: the kernel sizes its navigation "
            "context and tail-hold spans from the maximum literal "
            "offset, so a dynamic offset would silently under-retain "
            "across micro-batch splits. Declare WITH "
            "(MAXNAVOFFSET='<max rows any runtime offset can reach>') "
            "— a runtime offset beyond the cap then fails typed — or "
            "run this statement on the batch path")
    program = Program(spec, nav_cap)  # compiled once; ships by value

    # typed cleaners: the buffered row dicts feed DEFINE/MEASURES
    # evaluation, so an int column must not arrive as 5 from one
    # micro-batch and 5.0 from another (pandas null-coercion is
    # chunk-dependent) — same split-invariance fix as the window
    # kernels' buffer ingestion
    cep_clean_by = _cleaners(df, list(df.columns))

    def kernel(key, pdf_iter, state):
        import pandas as pd

        if state.hasTimedOut:
            # STATETTL idle-key reap = this key's Engine.Flush()
            st = _load_state(state) or {"rows": [], "mn": 0}
            outs = cep_flush_outputs(st, spec, ts_col, ts_is_time,
                                     within, ts_ups, part_names, key,
                                     all_rows_mode, program)
            state.remove()
            if outs:
                yield pd.DataFrame(
                    outs, columns=[f.name for f in out_schema.fields])
            return
        pdf = _sorted_batch(pdf_iter, order_cols)
        st = _load_state(state) or {"rows": [], "mn": 0}
        # split off the navigation-only context prefix: the reorder,
        # null-drop and held-split below apply to MATCHABLE rows only
        ctx_n = st.get("ctx", 0)
        ctx_rows = st["rows"][:ctx_n]
        rows, mn = st["rows"][ctx_n:], st["mn"]
        if len(pdf):
            n_pending = len(rows)
            for r in pdf.to_dict("records"):
                rows.append({k: cep_clean_by.get(k, _clean)(v)
                             for k, v in r.items()})
            if moo_s:
                # a NULL event time cannot be ordered against the
                # horizon — drop BEFORE the reorder (a null inside the
                # buffer would disable the sort while the horizon split
                # still consumed out-of-order rows); the batch matcher
                # applies the same option-conditional drop.  Same
                # null-row policy as every time-window path.
                rows = [r for r in rows if r.get(ts_col) is not None]
                n_pending = min(n_pending, len(rows))
            # cross-batch ORDER BY: a late row (MAXOUTOFORDERNESS
            # source) must interleave into the PENDING tail by the FULL
            # ORDER BY key (ts plus secondary tie-breakers — sorting by
            # ts alone would let an equal-ts late row land after
            # previously-buffered rows regardless of the secondary key,
            # diverging from the batch path) — the matcher and the
            # WITHIN expiry both assume this order.  (Rows already
            # consumed by an emitted match are gone — that is the
            # lateness bound, same as the reference's arrival-order
            # NFA.)  Stable, and only when every key value is present.
            keys = [c for c in order_cols if rows and c in rows[0]] \
                or [ts_col]
            if n_pending and ts_col in (rows[0] if rows else {}):
                # full ORDER BY key when every value is present; a None
                # in a SECONDARY key must not disable reordering
                # entirely — fall back to the ts-only sort (the old
                # guarantee) so a late row still interleaves by time
                key_seq = [tuple(r.get(c) for c in keys) for r in rows]
                if not all(all(v is not None for v in k)
                           for k in key_seq):
                    keys = [ts_col]
                    key_seq = [(r.get(ts_col),) for r in rows]
                if all(all(v is not None for v in k) for k in key_seq) \
                        and any(key_seq[i] > key_seq[i + 1]
                                for i in range(len(key_seq) - 1)):
                    order = sorted(range(len(rows)),
                                   key=lambda i: key_seq[i])
                    rows = [rows[i] for i in order]
        if len(rows) > _CEP_MAX_BUFFER:
            rows = rows[-_CEP_MAX_BUFFER:]
        ts_vals = _cep_times(rows, ts_col, ts_is_time)
        if ts_is_time:
            w = within
            moo = moo_s
        else:
            # numeric event time: scale per TIMEUNIT, like the
            # pipeline's watermark (r7 review: assuming ms made the
            # horizon 1000x off under TIMEUNIT='s')
            w = within * ts_ups if within is not None else None
            moo = moo_s * ts_ups

        held = []
        if moo:
            # monotone per-key watermark over ALL rows ever seen
            wm = st.get("wm")
            batch_max = max((t for t in ts_vals if t is not None),
                            default=None)
            if batch_max is not None:
                wm = batch_max if wm is None else max(wm, batch_max)
            if wm is not None:
                horizon = wm - moo
                k = len(rows)
                for i, t in enumerate(ts_vals):
                    # >=, not >: Spark's watermark ADMITS a late row
                    # whose lateness equals the bound, and it must
                    # still interleave before an equal-ts row — so
                    # equal-ts rows stay held (r7 review)
                    if t is not None and t >= horizon:
                        k = i
                        break
                held, rows, ts_vals = rows[k:], rows[:k], ts_vals[:k]
        else:
            wm = None

        rows = ctx_rows + rows
        ts_vals = _cep_times(ctx_rows, ts_col, ts_is_time) + ts_vals
        matcher = Matcher(spec, rows, ts_vals, w, program=program)
        outs, mn, consumed = _cep_drive(matcher, mn, key, part_names,
                                        all_rows_mode, False, len(ctx_rows))
        keep_from = max(0, consumed - program.prev_span)
        st = {"rows": rows[keep_from:] + held, "mn": mn,
              "ctx": consumed - keep_from}
        if wm is not None:
            st["wm"] = wm
        _save_state(state, st, ttl_ms)
        if outs:
            yield pd.DataFrame(outs, columns=[f.name for f in out_schema.fields])

    grouped = df.groupBy(*[F.col(c) for c in part_names]) if part_names \
        else df.withColumn("__g__", F.lit(1)).groupBy("__g__")
    matched = grouped.applyInPandasWithState(
        kernel, out_schema, _STATE_SCHEMA, "append", _timeout_conf(ttl_ms))
    return matched
