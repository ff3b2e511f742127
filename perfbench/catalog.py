"""The batch-query phase of the ``edge`` workload: entries of the
operator catalog over seeded parquet tables, each forced with a noop
write as ``bench.py`` does.

This phase is the benchmark's only load on the engine over parquet, the
CEP batch kernel and the dedup/text operators.  A checked pass (every
entry against its DuckDB oracle, the comparison ``tests/oracle_check.py``
makes) warms the JVM and the Python workers before the timed pass.

The entries are a fixed subset of the catalog, small enough for a run to
fit the benchmark's time budget, with each layer in it: engine
(projection with CASE/LIKE/IN, hash aggregation, analytic functions),
cep (the adjacent-pair sweep) and operators (MinHash dedup, text quality
and PII).  The streaming replays are left out: the ``stream`` workload
covers that layer with generated input.
"""

from __future__ import annotations

import os
import time

from perfbench.common import job_group, oracle_check_module

ENTRIES = ("filter_project", "agg_tpch_q1", "analytic_lag_changed",
           "cep_adjacent_within", "dedup_minhash_lsh", "text_quality_pii")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def load(ctx, spark, tables: str, k: int) -> str:
    """``load_tables`` through a fresh path (a link to the generated
    tables), so that the session's DataFrame memo cannot answer it."""
    from streamsql_spark.session import load_tables

    sf_dir = os.path.join(ctx.work, f"sf{k}")
    os.symlink(tables, sf_dir)
    with ctx.tracer.span("session.load_tables"):
        load_tables(spark, sf_dir)
    return sf_dir


def dialect_sqls() -> list[str]:
    """The StreamSQL statements of the entries built by the catalog's
    dialect helper (held in the run function's closure)."""
    from streamsql_spark.catalog import CATALOG

    out = []
    for name in ENTRIES:
        run = CATALOG[name].run
        if run.__qualname__.startswith("_dialect."):
            out += [c.cell_contents for c in run.__closure__
                    if isinstance(c.cell_contents, str)
                    and "SELECT" in c.cell_contents.upper()]
    return out


def check(ctx, spark, tables: str, sf_dir: str) -> list:
    """Every entry against its DuckDB oracle."""
    import duckdb
    from streamsql_spark.catalog import CATALOG

    oc = oracle_check_module(ctx.root)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    job_group(spark, "pb:verify")
    try:
        return [(name, *oc.check_query(spark, con, name, CATALOG[name],
                                       sf_dir)) for name in ENTRIES]
    finally:
        con.close()


def timed_pass(ctx, spark, sf_dir: str) -> tuple[dict, dict]:
    """One pass: each entry's DataFrame built (``entry.run()``) and
    forced with a noop write, timed apart.  Returns the build and the
    execution seconds per entry."""
    from streamsql_spark.catalog import CATALOG

    build, exe = {}, {}
    with ctx.tracer.span("bench.edge.catalog"):
        for name in ENTRIES:
            job_group(spark, f"pb:edge:catalog:{name}")
            t0 = time.perf_counter()
            with ctx.tracer.span("engine.build", name):
                df = CATALOG[name].run(spark, sf_dir)
            t1 = time.perf_counter()
            with ctx.tracer.span("engine.exec", name):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            build[name], exe[name] = t1 - t0, t2 - t1
    return build, exe
