"""Benchmark harness (driver contract).

Runs the operator catalog at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is forced to full execution with a noop write (no driver
collect — measures the distributed pipeline, not result transfer).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _force(df) -> int:
    # noop datasource: full execution, zero sink cost
    df.write.format("noop").mode("overwrite").save()
    return 0


def _wait_for_idle(max_wait_s: float = 180.0) -> None:
    """Bench hygiene (r7: a snapshot taken right after a pytest/Spark
    suite inflated every entry ~20% and faked a regression).  Wait,
    bounded, for the 1-minute load average to fall below ~35% of the
    benchmark's CPU budget before timing anything; if the machine stays
    busy, run anyway but leave a machine-state marker on stderr (the
    stdout JSON line is driver-parsed from a bounded tail buffer and
    must stay compact)."""
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count()
        target = max(2.0, 0.35 * cpus)
        t0 = time.time()
        while os.getloadavg()[0] > target:
            if time.time() - t0 >= max_wait_s:
                print(json.dumps({
                    "warning": "bench started on a busy machine — "
                               "timings may be inflated",
                    "load1": round(os.getloadavg()[0], 1),
                    "target": round(target, 1)}), file=sys.stderr)
                return
            time.sleep(5)
        waited = time.time() - t0
        if waited > 1:
            print(json.dumps({"idle_wait_s": round(waited, 1)}),
                  file=sys.stderr)
    except OSError:
        pass  # no loadavg on this platform — run as before


def _cal_stream(spark) -> float:
    """Fixed-work TRIGGER-LOOP calibration (r12 brief #1).  The
    streaming_*_replay entries are multi-trigger scheduling-bound at
    sf0.1 — wall time is dominated by micro-batch startup, offset/state
    commits, and Python-worker round trips, none of which the CPU
    calibrations (cal/cal_py) model; normalizing their drift by a CPU
    constant is what left two replay entries unadjudicated in r10/r11.
    This job measures exactly that loop and nothing else: an 8-file
    parquet input (fixed 16k rows, data-independent) replayed one file
    per trigger through a trivial applyInPandasWithState count kernel
    into a memory sink, availableNow, best-of-3 — the same machinery
    class (and the same shuffle-partition right-sizing and tmpfs
    checkpoint placement) as the replay entries themselves."""
    import shutil
    import tempfile
    import uuid

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from streamsql_spark.catalog import _replay_ckpt, _replay_partitions

    in_dir = tempfile.mkdtemp(prefix="cal_stream_in_")
    try:
        for i in range(8):
            (spark.range(i * 2000, (i + 1) * 2000)
             .selectExpr("id % 16 AS k", "id AS v").coalesce(1)
             .write.mode("append").parquet(in_dir))

        def count_kernel(key, pdf_iter, state):
            n = state.get[0] if state.exists else 0
            for pdf in pdf_iter:
                n += len(pdf)
            state.update((n,))
            yield pd.DataFrame({"k": [key[0]], "n": [n]})

        def run_once() -> float:
            name = "cal_stream_" + uuid.uuid4().hex[:8]
            with _replay_ckpt("cal_stream_ck_") as ckpt:
                t0 = time.perf_counter()
                st = (spark.readStream.schema("k long, v long")
                      .option("maxFilesPerTrigger", 1).parquet(in_dir))
                out = st.groupBy("k").applyInPandasWithState(
                    count_kernel, "k long, n long", "n long",
                    "update", GroupStateTimeout.NoTimeout)
                w = (out.writeStream.format("memory").queryName(name)
                     .outputMode("update").trigger(availableNow=True))
                if ckpt is not None:
                    w = w.option("checkpointLocation", ckpt)
                q = w.start()
                try:
                    if not q.awaitTermination(300):
                        q.stop()
                        raise RuntimeError("cal_stream replay overran 300s")
                    return time.perf_counter() - t0
                finally:
                    spark.catalog.dropTempView(name)

        with _replay_partitions(spark, 8):
            return min(run_once() for _ in range(3))
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)


def main() -> None:
    _wait_for_idle()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    from streamsql_spark.catalog import CATALOG
    from streamsql_spark.session import get_spark, load_tables

    spark = get_spark("streamsql-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the session + parquet footers so query timings measure the
    # pipelines, not JVM startup
    load_tables(spark, sf_dir)
    # ... and the execution machinery itself (whole-stage codegen, the
    # shuffle subsystem, the noop writer, the Arrow/Python worker pool) —
    # otherwise the first catalog entry pays one-time JIT cost
    _force(spark.range(10000)
           .selectExpr("id % 7 AS k", "id * 1.0 AS v")
           .groupBy("k").sum("v"))
    _force(spark.range(1000).toDF("x").mapInPandas(
        lambda it: it, schema="x long"))

    # Machine-state calibration (r9: untouched entries drifted a
    # uniform ~1.2× on byte-identical code round-to-round, costing
    # real effort to separate real regressions from machine state).
    # Two FIXED-WORK jobs — data-independent, same process, same JVM —
    # timed best-of-3 right before the catalog: a Catalyst hash-agg
    # (JVM/codegen path) and an Arrow mapInPandas identity (Python
    # worker path).  Cross-round entry ratios divide by the matching
    # calibration ratio to normalize machine state; details on stderr,
    # one compact "cal" field on the stdout line (tail-buffer budget).
    def _best_of(k, job):
        best = float("inf")
        for _ in range(k):
            t0 = time.perf_counter()
            _force(job())
            best = min(best, time.perf_counter() - t0)
        return best

    cal_jvm = _best_of(3, lambda: spark.range(30_000_000).selectExpr(
        "id % 97 AS k", "(id * 2654435761) % 1000003 AS v")
        .groupBy("k").agg({"v": "sum", "*": "count"}))
    cal_py = _best_of(3, lambda: spark.range(2_000_000)
                      .selectExpr("id AS x", "id * 1.0 AS y")
                      .mapInPandas(lambda it: it, schema="x long, y double"))
    try:
        cal_stream = _cal_stream(spark)
    except Exception as e:  # noqa: BLE001 — calibration is advisory;
        # a failed streaming calibration must never abort the bench
        # (the payload line is the round's only record — review r12)
        cal_stream = None
        print(json.dumps({"cal_stream_failed": str(e)[:200]}),
              file=sys.stderr)
    print(json.dumps({"calibration": {"jvm": round(cal_jvm, 3),
                                      "py": round(cal_py, 3),
                                      "stream": round(cal_stream, 3)
                                      if cal_stream else None}}),
          file=sys.stderr)

    # Each entry runs three times; the best WARM run is reported.  The
    # first run pays one-time Catalyst analysis + codegen JIT (~1-4 s
    # per query shape) — constant cost, irrelevant at scale where a
    # query runs for minutes; the warm minimum measures pipeline
    # throughput (what scales with data volume) with GC noise damped.
    # Sub-half-second entries are startup-jitter-bound at sf0.1 (best-
    # of-3 has shown phantom 2× cross-round swings on unchanged code),
    # so they get extra repeats until the floor stabilizes.  Long
    # (>1.5 s) pipeline-bound entries get best-of-5: their best-of-3
    # floor still swung 20-31% round-to-round on byte-identical code
    # (r8 text_quality_pii/dedup_minhash_lsh) — two more samples tighten
    # the min-statistic at a bounded wall cost.
    timings: dict[str, float] = {}
    repeats: dict[str, int] = {}
    total = 0.0
    for name, entry in CATALOG.items():
        try:
            dt, n = float("inf"), 0
            while n < 3 or (dt < 0.5 and n < 7) or (dt > 1.5 and n < 5):
                t0 = time.perf_counter()
                _force(entry.run(spark, sf_dir))
                dt = min(dt, time.perf_counter() - t0)
                n += 1
        except Exception:  # noqa: BLE001 — a failing query counts as missing
            dt, n = -1.0, 0
        timings[name] = round(dt, 3)
        repeats[name] = n
        if dt > 0:
            total += dt

    # Repeat counts go to stderr: the driver parses the single stdout
    # JSON line from a bounded tail buffer, so that line must stay
    # compact (r5's repeats_per_entry map pushed it past the buffer and
    # the round's bench went unparsed).
    print(json.dumps({"repeats_per_entry": repeats}), file=sys.stderr)
    payload = {
        "metric": "catalog_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # fixed-work machine-state constants (see calibration above):
        # divide a cross-round entry ratio by the matching cal ratio
        # (streaming_*_replay entries normalize by cal_stream)
        "cal": round(cal_jvm, 3),
        "cal_py": round(cal_py, 3),
    }
    if cal_stream:
        payload["cal_stream"] = round(cal_stream, 3)
    # normalized cross-round comparison vs the newest BENCH_r*.json
    # (stderr; r11 brief #4): entries are flagged only when NEITHER
    # calibration ratio explains their slowdown — the phantom-
    # regression adjudication becomes a one-line read.  Emitted
    # BEFORE the payload: the driver tails a bounded buffer of the
    # run's output, and anything printed after the payload line can
    # push its head out of that buffer (BENCH_r11.json recorded
    # parsed=null exactly this way) — the stdout JSON line must be
    # the LAST thing this process writes.
    try:
        sys.path.insert(0, os.path.join(os.path.dirname(
            os.path.abspath(__file__)), "tools"))
        from bench_compare import emit_comparison
        emit_comparison(payload)
    except Exception as e:  # noqa: BLE001 — advisory output only
        print(json.dumps({"bench_compare_skipped": str(e)}),
              file=sys.stderr)
    sys.stderr.flush()
    print(json.dumps(payload))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
