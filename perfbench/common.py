"""Pieces shared by the workloads: the run context, the Spark
session start, percentiles, peak memory, statement compile timing and
the row comparison used by every output check."""

from __future__ import annotations

import functools
import math
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

# set-ups per run; setup_s is their median
SETUPS = 3


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    work: str          # scratch directory inside the checkout
    root: str          # checkout root
    tracer: object = None
    spark: object = None
    layer: dict = field(default_factory=dict)   # per-layer metrics
    notes: dict = field(default_factory=dict)   # written with the trace
    t0: float = field(default_factory=time.perf_counter)

    def mark(self, label: str) -> None:
        """Seconds since the run began, per stage, for the run summary."""
        self.notes.setdefault("marks", {})[label] = round(
            time.perf_counter() - self.t0, 2)


@dataclass
class Result:
    attempted: int
    failed: int
    metrics: dict          # end-to-end metrics (value only)
    checks: list = field(default_factory=list)  # (name, ok, detail)


def start_session(ctx: Ctx):
    """Launch the JVM through the repository's session builder."""
    from streamsql_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    ctx.layer["session.start_s"] = time.perf_counter() - t0
    ctx.spark = spark
    ctx.mark("session")
    return spark


def job_group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    return float(s[max(0, math.ceil(q / 100.0 * len(s)) - 1)])


def median(xs) -> float:
    """Median of a sample; 0 for an empty one (a layer not reached)."""
    return float(statistics.median(xs)) if len(xs) else 0.0


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(ctx, spark) -> float:
    """Peak resident memory of this Python driver plus the JVM, from
    /proc (psutil is not available)."""
    py, jv = _hwm_kb("self") / 1024.0, _hwm_kb(_jvm_pid(spark)) / 1024.0
    ctx.notes["rss_mb"] = {"python": py, "jvm": jv}
    return py + jv


def compile_statement(ctx: Ctx, spark, sql: str):
    """``StreamSQL(spark).execute(sql)``, timed into ``api.execute_ms``."""
    import streamsql_spark as ss

    t0 = time.perf_counter()
    with ctx.tracer.span("api.execute"):
        q = ss.StreamSQL(spark).execute(sql)
    ctx.layer.setdefault("_api.execute_ms", []).append(
        (time.perf_counter() - t0) * 1e3)
    return q


def time_frontend(ctx: Ctx, sqls, reps: int = 5) -> None:
    """The dialect front-end (parse, then plan) per statement, through
    the package's public functions; median over ``reps`` rounds."""
    import streamsql_spark as ss

    for _ in range(reps):
        for sql in sqls:
            t0 = time.perf_counter()
            stmt = ss.parse(sql)
            t1 = time.perf_counter()
            ss.plan(stmt)
            t2 = time.perf_counter()
            ctx.layer.setdefault("_dialect.parse_us", []).append((t1 - t0) * 1e6)
            ctx.layer.setdefault("_dialect.plan_us", []).append((t2 - t1) * 1e6)


@functools.cache
def oracle_check_module(root: str):
    """The repository's catalog oracle check (tests/oracle_check.py); its
    row normalisation is the comparison every output check here uses."""
    sys.path.insert(0, os.path.join(root, "tests"))
    import oracle_check
    return oracle_check


def compare(root: str, got: list[dict], want: list[dict],
            cols: list[str] | None = None) -> tuple[int, str]:
    """Order-insensitive multiset comparison of two row lists over
    ``cols`` (default: the union of keys).  Returns the number of rows
    on the larger side of the difference (0 when equal) and a detail."""
    oc = oracle_check_module(root)
    if cols is None:
        cols = sorted({k for r in got + want for k in r})
    a = oc.rows_to_multiset(cols, [[r.get(c) for c in cols] for r in got])
    b = oc.rows_to_multiset(cols, [[r.get(c) for c in cols] for r in want])
    bad = max(sum((a - b).values()), sum((b - a).values()))
    if not bad:
        return 0, f"{len(got)} rows"
    return bad, (f"{len(got)} vs {len(want)} rows; only-got="
                 f"{list((a - b).items())[:2]} only-want="
                 f"{list((b - a).items())[:2]}")


def events_df(spark, events: list[dict], schema: str):
    """A DataFrame of generated events (through pandas and Arrow, which
    is much faster than a list of dicts)."""
    import pandas as pd

    cols = [c.split()[0] for c in schema.split(", ")]
    return spark.createDataFrame(pd.DataFrame(events, columns=cols), schema)


def rows_of(df) -> list[dict]:
    """A DataFrame's rows as dicts, through Arrow; SQL NULL becomes None
    as in the rows the facade delivers."""
    pdf = df.toPandas()
    return pdf.astype(object).where(pdf.notna(), None).to_dict("records")
