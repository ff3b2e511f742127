"""Worker-side lookup-join enrichment (streaming AND batch).

The reference enriches each event by calling a user TableSource's
``Lookup(key)`` inline on the ingest path (stream/join.go:35-67 over
stream/table_store.go:18-23), source-agnostic for every downstream
mode (stream/processor_data.go:94-141 enriches before windows AND
before the CEP NFA).  A driver-side per-key probe loop does not scale
with stream-key cardinality, so this realization ships the source TO
THE WORKERS: a ``mapInPandas`` stage probes ``lookup`` once per
DISTINCT key per Arrow batch and merges the found columns — the
scalable lookup-join shape (no driver involvement, parallel across
partitions, per-batch key dedup).  The same stage serves

- streaming queries (StreamingExecutor.build), and
- batch queries (StreamSQL.query routes every picklable,
  schema()-declaring source here; the driver probe in
  ``api.facade._lookup_tables`` remains only as the bounded fallback
  for sources that cannot ship).

Contract (on top of the batch-path TableSource protocol):
- the source must be PICKLABLE (it is serialized into the stage); open
  connections LAZILY/IDEMPOTENTLY — ``init()`` is re-invoked once per
  worker process (module-level memo), and there is no worker-side
  ``close()`` hook (Spark tears workers down opaquely; driver-side
  ``close()`` still runs on ``stop()``);
- it must declare ``schema()`` (StructType or DDL string) for its row
  columns: Spark needs the enriched column types up front, where the
  reference's open maps don't;
- ``lookup`` must be concurrency-safe (the reference documents the same,
  streamsql.go:517-519).

ON-clause support: a CONJUNCTION whose equality conjuncts with one
table-qualified side define the probe keys (exactly the Lookup-key
contract); remaining conjuncts ride as a RESIDUAL predicate applied
after enrichment — INNER drops residual-failing rows, LEFT keeps them
with the enriched columns nulled (standard SQL ON semantics, matching
the batch driver-probe path's real join).  OR / NOT anywhere raises:
probing only one arm would silently drop the other arm's matches.
A raising ``lookup`` resolves that key as not-found (J2 ingest
recovery).

``SELECT *`` materializes every schema() column under its REAL name
(stream columns win a name collision — the reference keeps stream
fields top-level, stream/join.go:41-46); ``alias.*`` expands to the
schema columns.  Star-watched change detection (``had_changed(true,
*)`` / ``changed_cols(..., "*")``) binds AFTER enrichment (r11): the
star expands over stream columns PLUS every joined source's schema()
columns, and the stage materializes them all — matching the
reference's open-map ``*`` (enriched fields are ordinary map keys,
stream/join.go:41-46).  A source with no usable schema() cannot be
enumerated at bind time; its columns are watchable only explicitly
(tests/test_streaming.py::test_lookup_star_watch_sees_enriched_columns).
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from ..dialect import nodes as N
from ..dialect.render import render
from ..engine.batch import ExecError
from .stateful import make_qref_rewriter


def source_schema(src) -> StructType:
    sch = getattr(src, "schema", None)
    sch = sch() if callable(sch) else sch
    if isinstance(sch, str):
        sch = StructType.fromDDL(sch)
    if not isinstance(sch, StructType):
        raise ExecError(
            "a worker-side lookup table source must declare schema() "
            "(StructType or DDL string) — enriched column types cannot "
            "be inferred from an unbounded stream")
    return sch


def equi_pairs(j, allow_residual: bool = False):
    """Extract the Lookup probe keys from a join's ON tree.

    ON must be a CONJUNCTION; each key-defining conjunct is an equality
    with exactly one table-qualified side → (stream-side expr AST, table
    key field) pairs.  Other conjuncts (literal filters, non-key
    comparisons) pass through as ``residual`` AST exprs when
    ``allow_residual`` — the caller re-applies them after enrichment —
    else raise.  An OR / NOT anywhere raises on BOTH paths: probing
    only one arm would silently drop the other arm's matches.
    """
    pairs: list[tuple[object, str]] = []
    residual: list = []

    def walk_and(e):
        if isinstance(e, N.Bin) and e.op == "AND":
            walk_and(e.left)
            walk_and(e.right)
            return
        if isinstance(e, N.Bin) and e.op == "=":
            def table_side(n):
                return isinstance(n, N.Col) and len(n.parts) == 2 \
                    and str(n.parts[0]) in (j.alias, j.table)

            for side, opp in ((e.left, e.right), (e.right, e.left)):
                # exactly ONE table-qualified side makes a probe key;
                # table-col = table-col (o.lo = o.hi) is a row filter —
                # it falls through to residual/raise below
                if table_side(side) and not any(
                        table_side(n) for n in N.walk(opp)):
                    pairs.append((opp, str(side.parts[1])))
                    return
        if allow_residual and not any(
                isinstance(n, N.Bin) and n.op in ("OR",)
                or isinstance(n, N.Un) and n.op == "NOT"
                for n in N.walk(e)):
            residual.append(e)
            return
        raise ExecError(
            "lookup-source joins support conjunctions of equality ON "
            f"conditions (the Lookup-key contract); got: {render(e)}")

    walk_and(j.on)
    if not pairs:
        raise ExecError("a lookup-source join needs at least one "
                        "equality ON condition against the table's "
                        "key fields")
    return (pairs, residual) if allow_residual else pairs


def plan_watches_bare_star(plan) -> bool:
    """True when the plan carries a bare ``SELECT *`` output or a
    ``had_changed(..., '*')`` analytic — the shapes whose star
    expansion must surface enriched columns under REAL names.  Shared
    by apply_lookup_joins (its bare_star materialization + prejoin
    guard) and facade._split_lookup_sources (the demotion decision);
    the two MUST agree or a demote-vs-typed-raise mismatch appears."""
    return (any(o.star and not o.star_qualifier for o in plan.outputs)
            or any(a.func.name.lower() == "had_changed"
                   and any(isinstance(x, N.Star)
                           or (isinstance(x, N.Lit) and x.value == "*")
                           for x in a.func.args)
                   for a in plan.analytics))


def apply_lookup_joins(df: DataFrame, plan, sources: dict,
                       via: str = "stage", tables: dict | None = None):
    """Replace every join against a registered lookup source with a
    worker-side mapInPandas enrichment stage.

    Qualified refs to those tables rewrite to flat hidden columns
    (``__q_{alias}_{col}__``, the same convention as the snapshot-join
    flatteners, so the maps merge); joins against OTHER tables
    (snapshots, driver-probed sources) stay in the plan and apply
    afterwards — the reference registers any mix
    (streamsql.go:503-534).  Works for direct, window, analytic and
    CEP plans; bare ``*`` and ``alias.*`` outputs materialize the
    schema columns under their real names.  Returns (df, plan2);
    ``plan`` and its statement are never mutated (the per-event sync
    path keeps executing the original plan with real joins).

    ``via`` picks the physical shape:

    - ``"stage"`` (streaming): the source rides inside a mapInPandas
      pass over the FULL frame — the only shape a micro-batch
      pipeline allows (a streaming frame cannot be distinct-ed and
      re-joined mid-plan in append mode).
    - ``"join"`` (batch): distinct keys JVM-side → probe ONLY the
      keys in Python → JVM join back.  Arrow traffic ∝ distinct
      keys, not rows × columns; the fact table never leaves the JVM,
      so column pruning / codegen survive, and AQE broadcast-joins
      the (dim-bounded) hit set.
    """
    lookups = [j for j in plan.joins if j.table in sources]
    rest = [j for j in plan.joins if j.table not in sources]
    if not lookups:
        return df, plan

    src_name = plan.source_alias or plan.source

    # ---- chained probe keys that read a SNAPSHOT table's columns
    # (JOIN snap ... JOIN w ON snap.region = w.k): the snapshot must
    # join BEFORE w's probe stage or the key expression is unresolved
    # (r13 join-fuzz find — only worker-on-worker chains worked).
    # Walk the join list backwards collecting, transitively, every
    # non-lookup join some later lookup probe references; those dims
    # PRE-JOIN (broadcast, columns flattened to __q_{alias}_{col}__)
    # at their statement position and leave the residual plan.  A
    # stream-static broadcast join is legal on both batch and
    # streaming frames, and reordering independent enrichments is
    # result-preserving (each ON reads only the stream and EARLIER
    # tables).  Worker sources depending on DRIVER-probed sources
    # never reach here (facade._split_lookup_sources demotes them).
    ast_joins = {(aj.table, aj.alias): aj for aj in plan.stmt.joins}
    ref_of = {}  # join identity (table, alias) -> its ON's root quals
    pos_of = {}
    for idx, j in enumerate(plan.joins):
        pos_of[(j.table, j.alias)] = idx
        aj = ast_joins.get((j.table, j.alias))
        roots = set()
        if aj is not None and aj.on is not None:
            for node in N.walk(aj.on):
                if isinstance(node, N.Col) and len(node.parts) >= 2 \
                        and isinstance(node.parts[0], str):
                    roots.add(str(node.parts[0]))
        ref_of[(j.table, j.alias)] = roots
    by_ref = {}  # qualifier (alias or table name) -> join identity
    for j in plan.joins:
        by_ref[j.alias or j.table] = (j.table, j.alias)
        by_ref.setdefault(j.table, (j.table, j.alias))
    lookup_ids = {(j.table, j.alias) for j in lookups}
    needed: set = set()
    for j in reversed(plan.joins):
        jid = (j.table, j.alias)
        if jid in lookup_ids or jid in needed:
            for root in ref_of[jid]:
                dep = by_ref.get(root)
                if dep is None or dep == jid:
                    continue
                if pos_of[dep] > pos_of[jid] and jid in lookup_ids:
                    raise ExecError(
                        f"lookup source {j.table!r}'s probe keys "
                        f"reference table {root!r} joined LATER in the "
                        "statement — forward references (including "
                        "probe-key cycles) have no enrichment order. "
                        "Reorder the joins or break the cycle.")
                if dep not in lookup_ids:
                    needed.add(dep)
    prejoin_ids = set()
    for jid in needed:
        tname = jid[0]
        if tables is None or tname not in tables:
            raise ExecError(
                f"table {tname!r} is referenced by a lookup source's "
                "probe keys but is not a registered snapshot table — "
                "register_table it (or make the chain read a lookup "
                "source's column).")
        prejoin_ids.add(jid)
    rest = [r for r in rest if (r.table, r.alias) not in prejoin_ids]
    prejoin_quals = {jid[1] or jid[0] for jid in prejoin_ids} \
        | {jid[0] for jid in prejoin_ids}

    quals = {j.table for j in lookups} | {j.alias for j in lookups
                                          if j.alias} | prejoin_quals
    shadow: frozenset = frozenset()
    if plan.mode == "cep" and plan.stmt.match is not None:
        # pattern symbols shadow join aliases (A.temp stays navigation)
        from ..cep.program import alphabet
        shadow = alphabet(plan.stmt.match)
    quals -= shadow
    mapping: dict[str, str] = {}
    # source-qualifier stripping is CONDITIONAL on whether downstream
    # joins remain: with none, the enriched frame is never re-aliased,
    # so src refs must flatten to bare names — but when snapshot /
    # driver-probed joins follow, the executor re-aliases the frame
    # (engine/batch._apply_joins) and src refs must KEEP the qualifier,
    # else a stream column sharing a dim column's name (deviceId =
    # o.deviceId) turns ambiguous post-join.  Probe pairs and residuals
    # always strip: they evaluate on the frame BEFORE any alias.
    strip_src = not rest
    rw = make_qref_rewriter(src_name if strip_src else "", quals, mapping)

    def _mk_xf(strip: bool):
        def xf(e):
            """AST twin of ``rw`` sharing ``mapping`` — for expressions
            the engines render late (CEP measures/defines, analytic
            args).  Handles paths of ANY depth: ``m.payload['k']``
            parses as a 3-part Col whose first two segments are the
            qualifier and the enriched column — the rewrite keeps the
            trailing path segments (``__q_m_payload__['k']``), matching
            what ``rw`` produces on the rendered string."""
            if isinstance(e, N.Col) and len(e.parts) >= 2 \
                    and isinstance(e.parts[0], str) \
                    and isinstance(e.parts[1], str):
                root, col = str(e.parts[0]), str(e.parts[1])
                if root in shadow:
                    return e
                if root == src_name:
                    return N.Col(tuple(e.parts[1:]), e.quoted) \
                        if strip else e
                if root in quals:
                    tok = f"{root}.{col}"
                    mapping.setdefault(tok, f"__q_{root}_{col}__")
                    return N.Col((mapping[tok], *e.parts[2:]), e.quoted)
            return e
        return xf

    xf = _mk_xf(strip_src)   # plan expressions (post-alias surfaces)
    xf_pre = _mk_xf(True)    # probe pairs / residuals (pre-alias)

    # ---- pass 1: extract every join's probe pairs + residual FIRST,
    # so chained lookups (JOIN a ... JOIN b ON a.region = b.region)
    # register their cross-table refs in `mapping` before the plan/want
    # snapshots — table a's enrichment then materializes
    # __q_a_region__ for b's probe, and the __qref_map__ is complete.
    # a bare SELECT * — or a plan that WATCHES the whole row with
    # had_changed(true, *) (which expands over df.columns at kernel
    # build time) — materializes every schema() column under its real
    # name: the reference's `*` is the event map AFTER enrichment
    # wrote into it (stream/join.go:41-46 precedes analytics).
    # (changed_cols '*' needs no flag: its facade-time expansion
    # produces alias-qualified refs that register in `mapping`.)
    bare_star = plan_watches_bare_star(plan)
    if bare_star and prejoin_ids:
        # the pre-join flattens dim columns to hidden names that a
        # bare `*` must not surface; the facade demotes the chained
        # worker source to the driver rounds for this shape — a
        # direct caller gets the typed boundary instead of wrong cols
        raise ExecError(
            "a lookup source chained on a snapshot table cannot run "
            "worker-side together with a bare SELECT * — route it "
            "through the driver-probe path (batch) or project "
            "explicit columns.")
    per_join = []
    # pre-register the pre-joined snapshots' PROBE-KEY tokens (their
    # other refs register via the plan rewrites below); dim column
    # renames happen in pass 2 at the scheduled position
    for j in lookups:
        ast_j = ast_joins.get((j.table, j.alias))
        if ast_j is None or ast_j.on is None:
            raise ExecError("a lookup-source join needs an ON clause")
        pairs, residual = equi_pairs(ast_j, allow_residual=True)
        pairs = [(render(N.transform(s, xf_pre)), k) for s, k in pairs]
        res_sqls = [render(N.transform(r, xf_pre)) for r in residual]
        res_sql = " AND ".join(f"({r})" for r in res_sqls) or None
        per_join.append((j, pairs, res_sql))
    per_join_by_id = {(j.table, j.alias): (pairs, res)
                      for j, pairs, res in per_join}
    # the PRE-JOINED dims' ONs must register their cross-table tokens
    # in pass 1 as well (review find r13): a prejoin ON reading an
    # EARLIER lookup's column (JOIN w1 ... JOIN snap ON snap.k = w1.r)
    # otherwise registers `w1.r` only at its pass-2 render — after
    # w1's stage computed `want` — so the flat column never
    # materializes; same for table-name refs to an aliased dim, which
    # the pass-2 duplicate-column step can only see if already mapped
    for pj in plan.joins:
        if (pj.table, pj.alias) in prejoin_ids:
            ast_j = ast_joins.get((pj.table, pj.alias))
            if ast_j is not None and ast_j.on is not None:
                N.transform(ast_j.on, xf_pre)  # token registration only

    # alias.* outputs expand to the schema columns (under hidden names
    # aliased back — collision-proof); register their refs now
    outputs2 = []
    for o in plan.outputs:
        if o.star and o.star_qualifier and o.star_qualifier in quals:
            pj = next((jid for jid in prejoin_ids
                       if o.star_qualifier in (jid[1], jid[0])), None)
            if pj is not None:
                # star over a PRE-JOINED snapshot: expand over the
                # dim DataFrame's columns
                for cname in tables[pj[0]].columns:
                    tok = f"{o.star_qualifier}.{cname}"
                    mapping.setdefault(
                        tok, f"__q_{o.star_qualifier}_{cname}__")
                    outputs2.append(replace(
                        o, star=False, star_qualifier=None,
                        name=cname, sql=mapping[tok]))
                continue
            j = next(jj for jj in lookups
                     if o.star_qualifier in (jj.alias, jj.table))
            for fld in source_schema(sources[j.table]).fields:
                tok = f"{o.star_qualifier}.{fld.name}"
                mapping.setdefault(tok, f"__q_{o.star_qualifier}_{fld.name}__")
                outputs2.append(replace(o, star=False, star_qualifier=None,
                                        name=fld.name, sql=mapping[tok]))
        else:
            outputs2.append(replace(o, sql=rw(o.sql)))

    # analytic args/when render inside the kernels — rewrite the ASTs
    # (the batch engine renders them with no qref map) and register
    # their refs so the columns they read get enriched
    analytics2 = [replace(
        a,
        func=N.Func(a.func.name,
                    [N.transform(x, xf) for x in a.func.args],
                    a.func.distinct, a.func.over),
        partition_by=[rw(p) for p in a.partition_by],
        when_sql=rw(a.when_sql),
        when_ast=(N.transform(a.when_ast, xf)
                  if a.when_ast is not None else None))
        for a in plan.analytics]

    stmt2 = plan.stmt
    if plan.mode == "cep" and plan.stmt.match is not None:
        spec = plan.stmt.match
        spec2 = replace(
            spec,
            partition_by=[N.transform(p, xf) for p in spec.partition_by],
            order_by=[N.transform(ob, xf) for ob in spec.order_by],
            measures=[replace(m, expr=N.transform(m.expr, xf))
                      for m in spec.measures],
            defines={s: N.transform(c, xf)
                     for s, c in spec.defines.items()},
        )
        stmt2 = replace(plan.stmt, match=spec2)

    # remaining (snapshot / driver-probed) joins apply AFTER the
    # enrichment: their ON may reference enriched lookup columns
    rest2 = [replace(r, on_sql=rw(r.on_sql)) for r in rest]

    plan2 = replace(
        plan,
        stmt=stmt2,
        joins=rest2,
        where_sql=rw(plan.where_sql),
        having_sql=rw(plan.having_sql),
        group_sqls=[rw(g) for g in plan.group_sqls],
        order_by=[(rw(s), asc) for s, asc in plan.order_by],
        outputs=outputs2,
        agg_specs=[replace(s, sql=rw(s.sql)) for s in plan.agg_specs],
        analytics=analytics2,
        options={**plan.options,
                 "__qref_map__": {
                     **(plan.options.get("__qref_map__") or {}),
                     **mapping, "__src__": src_name},
                 # only tables ALL of whose join entries were
                 # consumed: one joined again under another alias
                 # must stay registered for the executor's real join
                 "__prejoined__": tuple(sorted(
                     {jid[0] for jid in prejoin_ids}
                     - {r.table for r in rest})),
                 # QUALIFIERS of every consumed join entry (alias, or
                 # table name when fully consumed): a driver source
                 # whose ON reads one of these must probe the
                 # enriched frame with the qref map even when the
                 # TABLE survives under another alias (review r13)
                 "__prejoined_quals__": tuple(sorted(
                     {jid[1] or jid[0] for jid in prejoin_ids}
                     | ({jid[0] for jid in prejoin_ids}
                        - {r.table for r in rest})))},
    )

    # ---- pass 2: enrich in STATEMENT order, interleaving the
    # pre-joined snapshot dims at their position so a later probe's
    # chained key (`__q_{alias}_{col}__`) exists when its stage
    # builds; each table's `want` comes from the now-complete
    # mapping, plus real-named schema columns for a bare SELECT *
    # (stream columns win a name collision)
    for pj in plan.joins:
        jid = (pj.table, pj.alias)
        if jid in prejoin_ids:
            al = pj.alias or pj.table
            dim = tables[pj.table]
            ren = dim
            for c in dim.columns:
                tok = f"{al}.{c}"
                mapping.setdefault(tok, f"__q_{al}_{c}__")
                ren = ren.withColumnRenamed(c, mapping[tok])
            # refs written with the TABLE name while an alias exists
            # flatten to a different hidden name — duplicate those
            if pj.alias:
                for c in dim.columns:
                    tok2 = f"{pj.table}.{c}"
                    if tok2 in mapping:
                        ren = ren.withColumn(
                            mapping[tok2], F.col(f"__q_{al}_{c}__"))
            ast_j = ast_joins.get(jid)
            if ast_j is None or ast_j.on is None:
                df = df.crossJoin(F.broadcast(ren))
            else:
                if pj.kind not in ("inner", "left", "cross"):
                    raise ExecError(
                        f"snapshot table {pj.table!r} feeding a lookup "
                        f"probe key supports INNER/LEFT/CROSS joins, "
                        f"got {pj.kind!r}")
                on_sql = render(N.transform(ast_j.on, xf_pre))
                df = df.join(F.broadcast(ren), F.expr(on_sql),
                             pj.kind if pj.kind != "cross" else "inner")
            continue
        if jid not in per_join_by_id:
            continue  # stays in the residual plan (executor applies)
        j = pj
        pairs, res_sql = per_join_by_id[jid]
        src = sources[j.table]
        sch = source_schema(src)
        by_name = {f.name: f for f in sch.fields}
        alias = j.alias or j.table
        key_fields = {k for _, k in pairs}
        want = [(flat, tok.split(".", 1)[1])
                for tok, flat in mapping.items()
                if tok.split(".", 1)[0] in (alias, j.table)]
        for _, col in want:
            if col not in by_name and col not in key_fields:
                raise ExecError(
                    f"lookup source {j.table!r} schema() does not "
                    f"declare referenced column {col!r}")
        if bare_star:
            taken = set(df.columns) | {flat for flat, _ in want}
            want += [(f.name, f.name) for f in sch.fields
                     if f.name not in taken]
        df = _enrich(df, src, pairs, want, by_name, j.kind, res_sql,
                     via=via)
    return df, plan2


# per-WORKER-PROCESS init memo: mapInPandas unpickles a fresh copy of
# the stage closure for every task, so an instance attribute cannot
# dedupe init() calls — this module-level set (keyed by source name)
# lives in the Python worker process and survives across tasks.
# Worker-side close() has no hook at all (Spark tears workers down
# opaquely): sources must open connections lazily/idempotently.
_WORKER_INITED: set[str] = set()


def _enrich(df: DataFrame, src, pairs, want, by_name, how,
            residual_sql: str | None = None,
            via: str = "stage") -> DataFrame:
    if how not in ("inner", "left"):
        raise ExecError(f"worker-side lookup joins support INNER/LEFT, "
                        f"got {how!r}")
    key_cols = [f"__lkkey_{i}__" for i in range(len(pairs))]
    probe = df
    for (sql, _), kc in zip(pairs, key_cols):
        probe = probe.withColumn(kc, F.expr(sql))
    key_types = {k: probe.schema[kc].dataType
                 for (_, k), kc in zip(pairs, key_cols)}
    if via == "join":
        return _enrich_via_join(probe, src, pairs, want, by_name,
                                key_types, key_cols, how, residual_sql)

    def out_type(col):
        # a referenced KEY field needn't be in schema(): its value is
        # the probe key itself, typed from the stream side (the batch
        # driver path materializes the same, api.facade._lookup_tables)
        f = by_name.get(col)
        return f.dataType if f is not None else key_types[col]

    out_fields = list(probe.schema.fields) + \
        [StructField(flat, out_type(col)) for flat, col in want]
    inner = how == "inner"
    keep_hit = residual_sql is not None and not inner
    if keep_hit:
        out_fields.append(StructField("__hit__", BooleanType()))
    out_schema = StructType(out_fields)
    want_cols = [col for _, col in want]
    flat_names = [flat for flat, _ in want]
    key_field_order = [k for _, k in pairs]
    nkeys = len(key_cols)
    import uuid
    src_name = src.name() if callable(getattr(src, "name", None)) \
        else getattr(src, "name", "")
    # unique per enrichment STAGE: a restarted stream shipping a NEW
    # source instance under the same table name must re-init on warm
    # workers (init is idempotent-by-contract, so a fresh token per
    # build only costs one extra call per worker)
    init_token = f"{src_name}#{uuid.uuid4().hex}"
    # dtype-restoring cleaners: a nullable int64 key column arrives
    # float64-coerced from Arrow (5 -> 5.0, NULL -> NaN) chunk-
    # dependently — the probe must see the EXACT key values the batch
    # path's Row collect sees, or str(key)/typed backends miss
    from .stateful import _cleaners
    clean_by = _cleaners(probe, key_cols)
    cleaners = [clean_by[c] for c in key_cols]
    _MISS = object()

    def gen(batches):
        import pandas as pd

        init = getattr(src, "init", None)
        if callable(init) and init_token not in _WORKER_INITED:
            _WORKER_INITED.add(init_token)
            init()  # once per worker process per stage
        cache: dict[tuple, object] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            # one Python step per DISTINCT key; the per-ROW fan-out is
            # a vectorized pandas merge (the row loop was the stage's
            # bottleneck at scale — 1.6M rows / 24k keys)
            recs = []
            for raw in pdf[key_cols].drop_duplicates() \
                    .itertuples(index=False, name=None):
                hit = cache.get(raw, _MISS)
                if hit is _MISS:
                    # exact Spark-typed key values: Arrow float64-
                    # coerces nullable int columns (42 -> 42.0)
                    kt = tuple(cl(v) for cl, v in zip(cleaners, raw))
                    arg = kt[0] if nkeys == 1 else list(kt)
                    try:
                        got = src.lookup(arg)
                    except Exception:
                        got = None  # J2 recovery: resolves not-found
                    row, found = got if isinstance(got, tuple) \
                        else (got, got is not None)
                    if found:
                        # ({}, True) IS a hit — an existence-only
                        # source returns found with no extra columns;
                        # a referenced key field the row omits fills
                        # from the probe key (parity with the driver
                        # path's key materialization)
                        hit = dict(zip(key_field_order, kt))
                        hit.update(row or {})
                    else:
                        hit = None
                    cache[raw] = hit
                recs.append(
                    dict(zip(key_cols, raw), __hit__=hit is not None,
                         **{f: (hit.get(c) if hit is not None else None)
                            for f, c in zip(flat_names, want_cols)}))
            lk = pd.DataFrame(recs,
                              columns=key_cols + ["__hit__"] + flat_names)
            out = pdf.merge(lk, on=key_cols, how="left")
            if inner:
                out = out[out["__hit__"]]
            if not keep_hit:
                out = out.drop(columns="__hit__")
            if len(out):
                yield out

    enriched = probe.mapInPandas(gen, out_schema)
    if residual_sql is not None:
        if inner:
            enriched = enriched.filter(F.expr(residual_sql))
        else:
            # LEFT: a residual-failing match NULL-extends instead of
            # dropping the row (standard SQL ON semantics — parity
            # with the driver path's real LEFT JOIN).  The verdict
            # materializes FIRST: the residual reads enriched columns,
            # so nulling them in sequence must not re-evaluate it
            enriched = enriched.withColumn(
                "__lkok__", F.col("__hit__") & F.expr(residual_sql))
            for flat in flat_names:
                enriched = enriched.withColumn(
                    flat, F.when(F.col("__lkok__"), F.col(flat)))
            enriched = enriched.drop("__hit__", "__lkok__")
    return enriched.drop(*key_cols)


def _enrich_via_join(probe: DataFrame, src, pairs, want, by_name,
                     key_types, key_cols, how,
                     residual_sql: str | None) -> DataFrame:
    """Batch shape: distinct keys JVM-side → Python probes ONLY the
    keys → JVM join back.  The wide fact frame never crosses Arrow
    (column pruning and codegen survive around the stage), the probe
    stage parallelizes over shuffle partitions, and the HIT set —
    bounded by the dimension's cardinality — feeds a join AQE can
    broadcast.  One NULL-key delta vs the stage path, shared with the
    driver-probe fallback: SQL join equality never matches NULL keys,
    while the in-stage pandas merge (and the reference's in-process
    Lookup(nil)) can."""
    keydf = probe.select(*key_cols).distinct()
    hit_fields = [StructField(kc, key_types[k])
                  for (_, k), kc in zip(pairs, key_cols)]
    for flat, col in want:
        f = by_name.get(col)
        hit_fields.append(StructField(
            flat, f.dataType if f is not None else key_types[col]))
    hit_schema = StructType(hit_fields)
    want_cols = [col for _, col in want]
    flat_names = [flat for flat, _ in want]
    key_field_order = [k for _, k in pairs]
    nkeys = len(key_cols)
    import uuid
    src_name = src.name() if callable(getattr(src, "name", None)) \
        else getattr(src, "name", "")
    init_token = f"{src_name}#{uuid.uuid4().hex}"
    from .stateful import _cleaners
    clean_by = _cleaners(probe, key_cols)
    cleaners = [clean_by[c] for c in key_cols]

    def gen_hits(batches):
        import pandas as pd

        init = getattr(src, "init", None)
        if callable(init) and init_token not in _WORKER_INITED:
            _WORKER_INITED.add(init_token)
            init()
        for pdf in batches:
            recs = []
            for raw in pdf[key_cols].itertuples(index=False, name=None):
                kt = tuple(cl(v) for cl, v in zip(cleaners, raw))
                arg = kt[0] if nkeys == 1 else list(kt)
                try:
                    got = src.lookup(arg)
                except Exception:
                    continue  # J2 recovery: resolves not-found
                row, found = got if isinstance(got, tuple) \
                    else (got, got is not None)
                if not found:
                    continue
                hit = dict(zip(key_field_order, kt))
                hit.update(row or {})
                recs.append(dict(zip(key_cols, raw),
                                 **{f: hit.get(c) for f, c
                                    in zip(flat_names, want_cols)}))
            if recs:
                yield pd.DataFrame(recs, columns=key_cols + flat_names)

    hits = keydf.mapInPandas(gen_hits, hit_schema)
    inner = how == "inner"
    out = probe.join(hits, on=key_cols, how="inner" if inner else "left")
    if residual_sql is not None:
        if inner:
            out = out.filter(F.expr(residual_sql))
        else:
            # a LEFT miss is simply absent from the hit set (flats
            # already NULL); a hit failing the residual NULL-extends
            out = out.withColumn("__lkok__", F.expr(residual_sql))
            for flat in flat_names:
                out = out.withColumn(
                    flat, F.when(F.col("__lkok__"), F.col(flat)))
            out = out.drop("__lkok__")
    return out.drop(*key_cols)
