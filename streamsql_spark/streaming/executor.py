"""Structured Streaming execution of a QueryPlan.

The streaming analog of ``engine.batch.BatchExecutor``: the same plan
compiles onto ``readStream`` sources.  Catalyst-native pieces (filter,
projection, stream-static broadcast join, time windows + watermark,
HAVING) stay declarative; the reference's four custom operators run as
``applyInPandasWithState`` kernels (``streaming.stateful``).

Pipeline mirror of the reference (stream/processor_data.go:383-493):

    readStream → [join static] → [analytic state] → WHERE
      → window agg | stateful window | CEP
      → HAVING → foreachBatch { DISTINCT → ORDER BY → LIMIT → sinks }

Event time & watermark (window/watermark.go):
- ``WITH (TIMESTAMP='f', TIMEUNIT='ms')`` selects event time; the
  watermark delay is MAXOUTOFORDERNESS + ALLOWEDLATENESS (Spark folds
  allowed-lateness into the watermark, SURVEY §2.5 delta note).
- Append output emits a window once the watermark passes its end —
  the analog of the reference's watermark ≥ window-end trigger.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.batch import (_TS, BatchExecutor, ExecError, _event_time_col,
                            duration_to_seconds)
from .stateful import (analytic_stream, cep_stream, counting_window_stream,
                       flatten_join_refs, global_window_stream,
                       lateness_window_stream)


def _hidden_cols(columns) -> list[str]:
    """Helper placeholders and fire-identity carriers are
    __dunder__-named by construction — the ONE hidden-column rule both
    sink paths share.  (NOT "anything outside plan.outputs": star
    outputs carry o.name=None and would make every column hidden.)"""
    return [c for c in columns
            if c.startswith("__") and c.endswith("__")]


class StreamingExecutor:
    """Compile a QueryPlan against a streaming DataFrame."""

    def __init__(self, spark: SparkSession,
                 tables: dict[str, DataFrame] | None = None,
                 lookup_sources: dict | None = None):
        self.spark = spark
        self.tables = tables or {}
        # custom lookup-backed dims (register_table_source): joined via
        # a worker-side mapInPandas probe stage (streaming/lookup.py)
        self.lookup_sources = lookup_sources or {}
        self._batch = BatchExecutor(spark, tables)

    # ------------------------------------------------------------- build
    def build(self, plan, stream_df: DataFrame) -> DataFrame:
        """Streaming DataFrame with all pre-sink transformations applied.

        ORDER BY / LIMIT / DISTINCT are per-emission semantics in the
        reference and belong in the sink stage — use ``post_batch_fn``
        inside ``foreachBatch`` (or ``start()`` which wires both).
        """
        df = stream_df
        ts = _event_time_col(df, plan)
        if ts is not None:
            df = df.withColumn(_TS, ts)
            delay = self._watermark_seconds(plan)
            if delay is not None:
                df = df.withWatermark(_TS, f"{delay} seconds")

        if self.lookup_sources:
            from .lookup import apply_lookup_joins
            df, plan = apply_lookup_joins(df, plan, self.lookup_sources,
                                          tables=self._batch.tables)
        df = self._batch._apply_joins(df, plan)

        if plan.mode == "cep":
            matched = cep_stream(self.spark, plan, df)
            # outer SELECT over measure rows (stream/stream.go:400-409
            # projectCep); hidden partition-key columns drop here
            if any(o.star for o in plan.outputs):
                return matched.drop(*[c for c in matched.columns
                                      if c.startswith("__")])
            return matched.select(*[F.expr(o.sql).alias(o.name)
                                    for o in plan.outputs])

        if any(a.window_output for a in plan.analytics):
            raise ExecError(
                "analytics over window-emission rows (e.g. lag(avg(x))) "
                "are batch-only for now — in streaming, apply them in a "
                "foreachBatch stage over the windowed output")
        # WHERE vs analytics ordering: filter FIRST unless the WHERE
        # references an analytic placeholder (CDC mode)
        from ..plans.plan import where_filters_first
        where_first = where_filters_first(plan)
        if plan.analytics:
            if plan.joins:
                # the analytic kernel passes the whole row through a
                # flat DataFrame — flatten qualified refs first
                df, plan = flatten_join_refs(df, plan)
            if where_first:
                df = df.filter(F.expr(plan.where_sql))
            df = analytic_stream(df, plan, _TS if _TS in df.columns else None)
        if plan.where_sql and not (where_first and plan.analytics):
            df = df.filter(F.expr(plan.where_sql))

        if plan.mode == "window":
            return self._window_stream(df, plan)
        return self._batch._project_direct(df, plan)

    def _watermark_seconds(self, plan) -> float | None:
        from .stateful import opt_duration_s
        total = 0.0
        found = False
        for key in ("MAXOUTOFORDERNESS", "ALLOWEDLATENESS"):
            v = opt_duration_s(plan, key)
            if v is not None:
                total += v
                found = True
        if found:
            return total
        # event-time windows need a watermark for append-mode emission
        return 0.0 if plan.mode in ("window", "cep") else None

    def _window_stream(self, df: DataFrame, plan) -> DataFrame:
        w = plan.window
        if w is not None and w.kind == "counting":
            agged = counting_window_stream(df, plan, _TS if _TS in df.columns else None)
            return self._project_stateful(agged, plan)
        if w is not None and w.kind == "global":
            agged = global_window_stream(df, plan, _TS if _TS in df.columns else None)
            return self._project_stateful(agged, plan)
        if w is not None and w.kind in ("tumbling", "sliding", "session") \
                and _TS not in df.columns:
            raise ExecError(f"{w.kind} window requires an event-time column")
        if w is not None and w.kind in ("tumbling", "sliding") \
                and (self._allowed_lateness_ms(plan) > 0
                     or self._idle_timeout_ms(plan) is not None):
            # ALLOWEDLATENESS > 0: emit-then-update re-emission with a
            # stable window_id (tumbling_window.go:596-674) — Spark's
            # native windowed agg cannot re-fire a closed window in
            # append mode, so this runs on the stateful lateness kernel.
            # IDLETIMEOUT also routes here: Spark's native windowed agg
            # only fires on watermark movement, while the kernel can
            # advance the reference watermark on wall clock when the
            # source goes idle (window/watermark.go:100-127).
            agged = lateness_window_stream(df, plan, _TS)
            return self._project_stateful(agged, plan)
        # time windows / plain aggregates are Catalyst-native — reuse the
        # batch compilation verbatim (same plan, streaming source)
        return self._batch._apply_window_agg(df, plan)

    @staticmethod
    def _allowed_lateness_ms(plan) -> int:
        from .stateful import opt_duration_s
        return int(opt_duration_s(plan, "ALLOWEDLATENESS", 0.0) * 1000)

    @staticmethod
    def _idle_timeout_ms(plan) -> int | None:
        from .stateful import opt_duration_s
        v = opt_duration_s(plan, "IDLETIMEOUT")
        return int(v * 1000) if v is not None else None

    def _project_stateful(self, agged: DataFrame, plan) -> DataFrame:
        """HAVING + output projection over a stateful kernel's
        placeholder columns (post-aggregation expressions included).

        Group keys the kernel materialized under injected names
        (qualified refs / expression keys → ``__gk_i__``) are mapped
        back on exact match, mirroring the batch engine's ``injected``
        handling."""
        from ..engine.batch import replace_ref_tokens

        colmap = {}
        for i, gsql in enumerate(plan.group_sqls):
            nm = f"__gk_{i}__"
            if gsql not in agged.columns and nm in agged.columns:
                colmap[gsql] = nm
        if plan.having_sql:
            agged = agged.filter(
                F.expr(replace_ref_tokens(plan.having_sql, colmap)))
        out_cols = []
        for out in plan.outputs:
            if out.sql in colmap:
                out_cols.append(F.col(colmap[out.sql]).alias(out.name))
            else:
                out_cols.append(F.expr(out.sql).alias(out.name))
        if "window_id" in agged.columns \
                and not any(o.name == "window_id" for o in plan.outputs):
            # lateness kernel emissions carry a stable window_id for
            # sink dedup (stream/processor_data.go:415-435) — keep it
            out_cols.append(F.col("window_id"))
        from ..dialect.planner import WINDOW_START_COL
        from ..engine.batch import FIRE_COL_PREFIX
        if plan.order_by or plan.limit is not None or plan.distinct:
            # per-fire post-stages (DISTINCT/ORDER BY/LIMIT) need the
            # fire identity past the projection — post_batch_fn
            # partitions on the hidden carrier and drops it before the
            # sink.  Counting/global kernels stamp each emission with
            # an opaque per-fire id; the lateness (time window) kernel
            # fires one batch per window close → window_start IS the
            # identity.  Hidden dunder naming: a user output aliased
            # 'window_start' must never be mistaken for the carrier.
            if "__fire_id__" in agged.columns:
                out_cols.append(
                    F.col("__fire_id__").alias(f"{FIRE_COL_PREFIX}0__"))
            elif WINDOW_START_COL in agged.columns:
                out_cols.append(
                    F.col(WINDOW_START_COL).alias(f"{FIRE_COL_PREFIX}0__"))
        return agged.select(*out_cols)

    # ----------------------------------------------------------- sinks
    def post_batch_fn(self, plan) -> Callable[[DataFrame], DataFrame]:
        """Per-emission tail: DISTINCT → ORDER BY → LIMIT
        (stream/processor_data.go:438-493 order).  On windowed queries
        ORDER BY/LIMIT apply PER FIRE — the reference's emission unit
        (one window close / session expiry / chunk fire), and a
        micro-batch may carry several — so the limit partitions on the
        hidden ``__fire_k__`` carriers the build stage attached,
        mirroring the batch path.  Hidden helper columns (ORDER BY-only
        aggregate placeholders, the fire-identity carriers) never reach
        the sink."""
        from ..engine.batch import fire_cols_in, per_window_topk

        def fn(batch_df: DataFrame) -> DataFrame:
            df = batch_df
            fire = fire_cols_in(df.columns)
            hidden = _hidden_cols(df.columns)
            if plan.distinct:
                # DISTINCT applies per fire: the fire identity joins
                # the dedup keys (identical rows from two fires both
                # survive); true helper placeholders min-elect
                helpers = [c for c in hidden if c not in fire]
                vis = [c for c in df.columns if c not in helpers]
                if helpers:
                    df = df.groupBy(*[F.col(c) for c in vis]).agg(
                        *[F.min(c).alias(c) for c in helpers])
                else:
                    df = df.dropDuplicates(vis)
            exprs = [F.expr(s).asc() if asc else F.expr(s).desc()
                     for s, asc in plan.order_by] if plan.order_by else []
            if fire and plan.limit is not None:
                return per_window_topk(df, fire, exprs, plan.limit,
                                       drop_cols=hidden)
            if exprs:
                df = df.orderBy(
                    *[F.col(c).asc() for c in fire] + exprs)
            if hidden:
                df = df.drop(*hidden)
            if plan.limit is not None:
                df = df.limit(plan.limit)
            return df
        return fn

    @staticmethod
    def _guard_sink_dir_mode(sink_path: str | None, native: bool) -> None:
        """Refuse to MIX sink modes on one directory: reads of a dir
        holding _spark_metadata trust that log as the source of truth
        and SILENTLY drop files foreachBatch appended outside it (and
        vice versa, native writes into a dir of plain files leave the
        old files invisible to log-aware reads).  Local paths only —
        remote URIs (s3://...) skip the check rather than pay a
        driver-side FS roundtrip."""
        import os
        if sink_path is None or "://" in sink_path:
            return
        p = sink_path[5:] if sink_path.startswith("file:") else sink_path
        meta = os.path.join(p, "_spark_metadata")
        if not native and os.path.isdir(meta):
            raise ExecError(
                f"sink_path {sink_path!r} holds a native file-sink "
                "_spark_metadata log, but this query routes through "
                "foreachBatch (callback/post-stage/update mode/no "
                "checkpoint) — its appends would be INVISIBLE to "
                "log-aware reads. Use a fresh directory.")
        if native and os.path.isdir(p) and not os.path.isdir(meta) \
                and any(not e.startswith(".") for e in os.listdir(p)):
            raise ExecError(
                f"sink_path {sink_path!r} already holds non-logged "
                "files; the native file sink's _spark_metadata log "
                "would hide them from log-aware reads. Use a fresh "
                "directory.")

    def start(self, plan, stream_df: DataFrame,
              sink: Callable[[list[dict]], None] | None = None,
              trigger: dict | None = None,
              checkpoint: str | None = None,
              query_name: str = "streamsql",
              sink_path: str | None = None,
              sink_format: str = "parquet",
              sink_row_limit: int = 100_000,
              on_output: Callable[[int], None] | None = None,
              progress=None):
        """Wire build() into a writeStream with the reference's sink
        semantics: each emission batch is post-processed then delivered
        to the sink callback as list[dict] (AddSink analog).

        Sink contract at scale: the in-process callback collects each
        emission batch to the driver — it is for small/aggregated
        outputs (alerts, window rollups, test harnesses), the same
        in-process delivery the reference's AddSink does.  For
        row-volume outputs pass ``sink_path``: each batch is written
        DISTRIBUTED (``foreachBatch`` append to parquet/any format, no
        driver collect), and the callback — if also given — receives at
        most ``sink_row_limit`` rows per batch as a bounded preview of
        what landed on disk.  ``progress`` (the caller's
        :class:`.progress.ProgressTotals`) gets each batch's progress."""
        import uuid as _uuid

        # per-batch source row counts via a named observation — the file
        # source's numInputRows reads 0 under AvailableNow, so GetStats
        # (api/facade.py) folds observedMetrics["streamsql_source_*"] in
        stream_df = stream_df.observe(
            "streamsql_source_" + _uuid.uuid4().hex[:8],
            F.count(F.lit(1)).alias("rows"))
        out = self.build(plan, stream_df)
        # driver-collect delivery counts output rows EXACTLY in handle()
        # (after the DISTINCT/ORDER/LIMIT post stage — on_output); the
        # distributed sink path keeps the observation, which counts rows
        # entering the post stage — for plans with a post-stage LIMIT or
        # DISTINCT it can exceed what lands on disk (documented in
        # GetStats), but it needs no extra per-batch action at scale
        collect_delivery = sink_path is None and (sink is not None
                                                  or on_output is not None)
        if not collect_delivery:
            out = out.observe("streamsql_output_" + _uuid.uuid4().hex[:8],
                              F.count(F.lit(1)).alias("rows"))

        # EXACTLY-ONCE file output (r11): a bare sink_path with no
        # callback, no post stage, and an explicit checkpoint routes
        # through Spark's NATIVE file sink — its _spark_metadata
        # transaction log skips committed batches on restart, where
        # the foreachBatch append below is at-least-once (a batch
        # re-run after a crash appends its files again).  Plans with
        # DISTINCT/ORDER/LIMIT or UPDATE emission keep the
        # foreachBatch path (the post stage and update re-emission
        # need it); so does a checkpoint-less call (the native sink
        # REQUIRES checkpointLocation, foreachBatch auto-creates a
        # temp one).  Never mix the two paths on one directory —
        # _spark_metadata-aware reads silently drop non-logged files
        # (guarded below for local paths).
        native = (sink_path is not None and sink is None
                  and on_output is None and checkpoint is not None
                  and not plan.distinct and not plan.order_by
                  and plan.limit is None
                  and self._output_mode(plan) == "append"
                  and sink_format in ("parquet", "orc", "json", "csv"))
        self._guard_sink_dir_mode(sink_path, native)
        if native:
            hidden = _hidden_cols(out.columns)
            if hidden:
                out = out.drop(*hidden)
            writer = (out.writeStream.format(sink_format)
                      .option("path", sink_path)
                      .option("checkpointLocation", checkpoint)
                      .queryName(query_name).outputMode("append"))
            writer = writer.trigger(**(trigger or {"availableNow": True}))
            if progress is not None:
                progress.listen(self.spark)  # no foreachBatch drain here
            return writer.start()
        post = self.post_batch_fn(plan)

        # GetStats totals must not depend on ASYNC listener delivery:
        # Spark's listener bus may drop events under load, and with a
        # small numRecentProgressUpdates cap a dropped progress event is
        # unrecoverable.  Micro-batches run sequentially and batch N-1's
        # progress is posted in the stream-execution thread BEFORE batch
        # N starts, so draining ONE lastProgress at the top of every
        # foreachBatch invocation observes every progress entry exactly
        # once regardless of the retention cap (the final batch is
        # drained by GetStats itself); a listener is needed only on the
        # native-file-sink path, which has no foreachBatch hook.
        # lastProgress, NOT recentProgress: the
        # full list is one py4j+JSON fetch of up to 100 entries per
        # trigger — O(batches²) marshalling that measurably slowed
        # multi-trigger replays (r13 bench: streaming_cep_replay +40%).
        query_ref: list = []

        def _drain_progress() -> None:
            if query_ref and progress is not None:
                try:
                    p = query_ref[0].lastProgress
                    if p:
                        progress.ingest(p)
                except Exception:
                    pass  # metrics must never break the stream

        def handle(batch_df: DataFrame, _batch_id: int):
            _drain_progress()
            done = post(batch_df)
            if sink_path is not None:
                # distributed write path — executors write, the driver
                # never materializes the batch; persist so the preview
                # collect reuses the computed batch instead of
                # re-executing the pipeline (and can't diverge from
                # what was written)
                if sink is not None:
                    done = done.persist()
                try:
                    (done.write.format(sink_format)
                         .mode("append").save(sink_path))
                    if sink is not None:
                        from ..api.facade import row_to_dict
                        rows = [row_to_dict(r)
                                for r in done.limit(sink_row_limit).collect()]
                        if rows:
                            sink(rows)
                finally:
                    if sink is not None:
                        done.unpersist()
            elif sink is not None or on_output is not None:
                from ..api.facade import row_to_dict
                rows = [row_to_dict(r) for r in done.collect()]
                if on_output is not None:
                    on_output(len(rows))
                if rows and sink is not None:
                    sink(rows)

        writer = out.writeStream.foreachBatch(handle).queryName(query_name)
        writer = writer.outputMode(self._output_mode(plan))
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        trigger = trigger or {"availableNow": True}
        writer = writer.trigger(**trigger)
        query = writer.start()
        query_ref.append(query)
        return query

    @staticmethod
    def _output_mode(plan) -> str:
        if plan.mode == "window":
            w = plan.window
            if w is not None and w.kind in ("tumbling", "sliding") \
                    and (StreamingExecutor._allowed_lateness_ms(plan) > 0
                         or StreamingExecutor._idle_timeout_ms(plan)
                         is not None):
                return "update"  # lateness kernel re-emits fired windows
            if w is not None and w.kind in ("counting", "global"):
                return "append"  # stateful kernels emit final rows
            return "append"      # windows emit on watermark close
        return "append"
