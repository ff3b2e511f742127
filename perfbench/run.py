"""Benchmark entry point.

    python3 perfbench/run.py --workload edge|stream|all \\
        --seed N --seconds S --trace 0|1

Runs one workload (or both, each in its own process) against the
``streamsql_spark`` package in this checkout and prints, as the last
line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` the per-layer metrics.  Metrics of a layer the workload
does not reach read 0.  Machine state goes to standard error.  See
perfbench/README.md for the workloads, the metrics and what each
per-layer metric should move.

Everything the run writes stays inside the checkout, under
``.perfbench_work/`` (removed at exit) and, for traced runs, the report
directory ``--out`` (default ``.perfbench_out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("edge", "stream")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _machine() -> dict:
    return {"nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "load1": os.getloadavg()[0]}


def _environment(work: str, trace: bool) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout,
    size local mode to the cores this process may use, and turn on the
    uncompressed event log for traced runs.  Must run before pyspark is
    imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["TMPDIR"] = tmp
    # pandas deprecation noise from Spark's own Python workers
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    confs = [f"spark.sql.warehouse.dir={work}/warehouse",
             f"spark.sql.streaming.checkpointLocation={work}/ckpt"]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        confs += ["spark.eventLog.enabled=true",
                  "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false",
                  f"spark.eventLog.dir=file://{work}/eventlog"]
    args = " ".join(f"--conf {c}" for c in confs)
    # the heap starts at its full size: whether and when the JVM grew it
    # otherwise set the peak RSS of a run, by about 200 MB either way
    java = (f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
            "-XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'{args} --driver-java-options "{java}" '
        + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell"))


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM to exit.  The JVM ends itself
    when its stdin closes, which otherwise happens only once this
    process has exited."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _run_all(args) -> int:
    """Each workload in its own process (a fresh JVM); the last line
    merges them with ``<workload>.`` metric prefixes."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--out", args.out]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        print("\n".join(lines[:-1] + [f"{w}: " + (lines[-1] if lines else "")]))
        if p.returncode != 0 or not lines:
            return p.returncode or 1
        r = json.loads(lines[-1])
        merged["correct"] &= r["correct"]
        merged["attempted"] += r["attempted"]
        merged["failed"] += r["failed"]
        merged["metrics"].update({f"{w}.{k}": v
                                  for k, v in r["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_out"),
                    help="directory for each run's result line and the "
                         "traced run's report")
    args = ap.parse_args()
    if os.environ.get("PYTHONHASHSEED") != "0":
        # fixed string hashing: dict and set layouts, and with them the
        # speed of the per-event Python path, then do not vary between
        # runs of the same input
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)
    if args.workload == "all":
        return _run_all(args)

    # fail fast, before any Spark start, when the program is not here
    sys.path.insert(0, ROOT)
    try:
        import streamsql_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    spec = _spec()

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    _environment(work, bool(args.trace))
    machine = {"start": _machine()}
    from perfbench import common, edge, stream, tracing

    ctx = common.Ctx(seed=args.seed, seconds=args.seconds,
                     trace=bool(args.trace), work=work, root=ROOT)
    ctx.tracer = tracing.Tracer(ctx.trace)
    mod = {"edge": edge, "stream": stream}[args.workload]
    try:
        res = mod.run(ctx)
        ctx.spark.stop()  # flushes the event log
        machine["end"] = _machine()
        if ctx.trace:
            ctx.notes["machine"] = machine
            tracing.finish(ctx, args.workload, args.out, res.metrics)
    finally:
        if ctx.spark is not None:
            _stop_jvm(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    ctx.mark("end")
    print(json.dumps({"machine": machine, "marks": ctx.notes["marks"],
                      "rss_mb": ctx.notes.get("rss_mb"),
                      "counts": ctx.notes.get("counts"),
                      **ctx.notes.get("flags", {}), "checks": res.checks}),
          file=sys.stderr)

    if ctx.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = ctx.layer
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = res.metrics
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]}
               for n in names}
    correct = res.failed == 0 and all(ok for _, ok, _ in res.checks)
    line = json.dumps({"correct": correct, "attempted": res.attempted,
                       "failed": res.failed, "metrics": metrics})
    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        f.write(line + "\n")
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
