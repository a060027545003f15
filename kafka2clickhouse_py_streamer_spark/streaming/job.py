"""Streaming shell: micro-batch driver loop with sink + DLQ routing and
schema-drift retry.

Reference parity (re-expressed on Structured Streaming):

- C1 schema cache + drift-retry state machine (main.py:394-466): schema
  is fetched lazily and cached driver-side; on sink failure the schema is
  re-fetched, the batch re-validated and re-cast, and the write retried
  once; a second failure routes the batch's valid rows to the DLQ with
  the error string. Invalid rows always go to the DLQ.
- C3 at-least-once commit (main.py:525-526): Structured Streaming's
  checkpoint WAL commits offsets after the foreachBatch body returns —
  the same at-least-once contract as the reference's manual post-batch
  commit (a failed batch is replayed wholesale; duplicates possible —
  documented, not fought; SURVEY.md §7).
- C4 driver loop (main.py:468-534): ``writeStream.foreachBatch(...)
  .start()`` replaces the infinite poll loop.
- Empty-batch short-circuit (main.py:254-255, 337-339).
- Pre-insert valid/invalid counts (main.py:429 logs "Valid: n,
  Invalid: m" before the insert): the per-trigger count job below is
  that same step, and doubles as the emptiness check plus the exact
  DLQ-write sizing.
- DLQ push (main.py:458-462): the reference pushes invalid rows after
  the insert; here the DLQ write runs concurrently with the insert
  (see :meth:`PipelineJob._deliver`).

The sink is a plain callable — no Catalyst extension needed (SURVEY.md
§4). A ClickHouse-compatible deployment passes a JDBC writer with the
async-insert URL settings (main.py:329-335); tests pass in-memory
writers.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, wait
from typing import Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka2clickhouse_py_streamer_spark.pipeline.core import (
    dlq_condition,
    split_tagged,
    tag_errors,
    typed_valid,
)
from kafka2clickhouse_py_streamer_spark.schema.model import TableSchema

# DLQ writes at or below this row count collapse to ONE task
# (repartition(1), not coalesce — see _send_dlq): a micro-batch DLQ
# split is a per-trigger minority, and |partitions| tiny files/commits
# per trigger is the pathology. 500k rows × ~200 B/record ≈ 100 MB —
# comfortably one task's work — while anything larger keeps the full
# write width.
DLQ_SINGLE_TASK_MAX_ROWS = 500_000

# Session conf keys PipelineJob.start turns off for its own query only.
_INGEST_CONF_OFF = (
    "spark.sql.adaptive.enabled",
    "spark.sql.inMemoryColumnarStorage.compressed",
)


class SchemaProvider(Protocol):
    """Fetches the sink table's schema (the reference's DESCRIBE TABLE,
    main.py:29-60). Called lazily; re-called on sink failure (drift)."""

    def fetch(self) -> TableSchema: ...


Sink = Callable[[DataFrame], None]


class PipelineJob:
    """validate → cast → sink, with DLQ + drift retry. The foreachBatch
    body is exposed as :meth:`run_batch` so batch mode and tests share
    the exact code path (SURVEY.md §3.2).

    Within a trigger the valid sink and the DLQ sink may be called
    concurrently from two threads. Every sink in ``sinks.py`` is safe
    under that: each call issues its own write, and
    ``clickhouse_connect_sink`` opens its own client."""

    def __init__(
        self,
        schema_provider: SchemaProvider,
        sink: Sink,
        dlq_sink: Sink,
        value_col: str = "value",
    ) -> None:
        self._provider = schema_provider
        self._sink = sink
        self._dlq_sink = dlq_sink
        self._value_col = value_col
        self._schema: TableSchema | None = None  # driver-side cache
        # ONE worker reused across triggers for the valid-plan build
        # and the overlapped DLQ write (see _deliver): a fresh Thread
        # per trigger would churn a py4j connection per batch in a
        # long-running service. No thread starts until the first
        # submit.
        self._dlq_pool = ThreadPoolExecutor(
            max_workers=1, thread_name_prefix="dlq-overlap"
        )

    def _get_schema(self) -> TableSchema:
        if self._schema is None:  # lazy build + cache (main.py:423-425)
            self._schema = self._provider.fetch()
        return self._schema

    def invalidate_schema(self) -> None:
        """Drop the cached schema (main.py:437)."""
        self._schema = None

    def run_batch(self, batch_df: DataFrame, batch_id: int = 0) -> None:
        # One persist per trigger — the TAGGED frame (post fan-out,
        # post validator). Every action of the trigger (count job,
        # valid write, DLQ write, drift re-validation) reads that
        # cache; the count job's shuffle-map stage is the trigger's
        # single source scan (Spark reuses the registered map outputs
        # across the later writes — against a real broker the Kafka
        # fetch is paid exactly once).
        #
        # Empty-before-schema-fetch order (main.py:254-255, 337-339):
        # only the FIRST non-cached-schema trigger needs a probe ahead
        # of the DESCRIBE — a limit-1 scan, no persist (reads ~one
        # page / one Kafka record). Once the schema is cached the
        # emptiness check rides the count job.
        if self._schema is None and batch_df.isEmpty():
            return
        work_df = self._fan_out(batch_df)
        tagged = self._tag(work_df)
        try:
            # Build the (lazy) valid-side plan CONCURRENTLY with the
            # count job: _plan_valid is ~40 ms of driver-side Catalyst
            # analysis (eager per Dataset op) while the count job has
            # the driver parked in a py4j recv — py4j serves threads
            # over separate connections, so the two overlap cleanly.
            # The pool is the same single reused worker the DLQ write
            # uses; the plan future is resolved before that submit.
            plan_fut = self._dlq_pool.submit(self._plan_valid, tagged)
            try:
                n_rows, n_dlq = self._count_tagged(tagged)
            finally:
                # resolved on every path, so a schema/analysis error —
                # on an all-tombstone batch too — surfaces HERE, not
                # swallowed until a later nonempty batch misattributes
                # it
                wait([plan_fut])
            typed = plan_fut.result()
            if n_rows > 0:
                self._deliver(tagged, typed, n_dlq, n_rows)
        finally:
            tagged.unpersist()

    def _count_tagged(self, tagged: DataFrame) -> tuple[int, int]:
        """(total rows, DLQ rows) in ONE job — the reference's own
        pre-insert "Valid: n, Invalid: m" step (main.py:429), which
        here also materializes the whole tagged cache with every core
        participating, answers the empty-batch check, and sizes the
        DLQ write exactly.

        Deliberately a full aggregate rather than ``isEmpty``: a
        limit-1 probe on the persisted frame still builds partition 0
        wholesale but SERIALLY, and measures ~25% slower than this
        all-partition count at the 25 k parity shape (402 ms vs
        317 ms, r9b profile) — the cache has to be built for the
        writes anyway, so the fastest probe is the one that builds it
        in parallel."""
        row = tagged.select(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(dlq_condition(), 1)).alias("n_dlq"),
        ).first()
        return int(row["n_rows"]), int(row["n_dlq"])

    def _deliver(
        self, tagged: DataFrame, typed: DataFrame, n_dlq: int,
        n_rows: int,
    ) -> None:
        """The valid insert, with the DLQ write OVERLAPPED against it.

        The DLQ split is a per-batch minority and its write is a fixed
        ~130 ms job at the reference's 25 k-row trigger — hidden
        behind the (longer) valid write when run concurrently; both
        jobs read the already-built tagged cache, so no work
        duplicates. Ordering vs the reference: main.py pushes invalid
        rows AFTER the insert; the two writes land on different
        systems (ClickHouse vs the DLQ topic), so their relative order
        is unobservable, and a failed trigger is replayed wholesale
        under the at-least-once checkpoint contract, which duplicates
        DLQ rows either way.

        Drift caveat (documented, rare): if the valid sink fails and
        re-validation under the re-fetched schema RECLASSIFIES rows,
        rows invalid-under-old-but-valid-under-new have already been
        DLQ'd here and are then also inserted by the retry — an
        at-least-once superset. Rows invalid under both schemas are
        written once (the retry anti-joins them away) but carry the
        OLD schema's error string. With an unchanged schema (sink
        failures that are not drift) every row is delivered exactly
        once."""
        fut = None
        if n_dlq > 0:
            # Under pinned-thread mode (PYSPARK_PIN_THREAD, the
            # default) each Python thread maps to its own JVM thread,
            # so a plain pool worker starts with EMPTY JVM local
            # properties: the DLQ job would escape the streaming
            # query's job group (query.stop() couldn't cancel it) and
            # lose its scheduler-pool attribution. Copy the trigger
            # thread's properties into the worker per submit — the
            # same mechanism pyspark.InheritableThread uses — captured
            # here because the job group is (re)set per trigger.
            props = None
            sc = tagged.sparkSession.sparkContext
            try:
                props = sc._jsc.sc().getLocalProperties().clone()
            except Exception:  # pragma: no cover - py4j internals moved
                pass

            def _dlq_task() -> None:
                if props is not None:
                    try:
                        sc._jsc.sc().setLocalProperties(props)
                    except Exception:  # pragma: no cover
                        pass
                self._send_dlq(split_tagged(tagged, self._value_col)[1], n_dlq)

            fut = self._dlq_pool.submit(_dlq_task)
        sink_exc = None
        try:
            self._sink(typed)
        except Exception as exc:
            sink_exc = exc
        except BaseException:
            # fatal interrupts (KeyboardInterrupt, py4j fatal errors)
            # bypass the Exception arm — still await the in-flight DLQ
            # write before propagating, else run_batch's finally
            # unpersists the tagged cache under a running job
            if fut is not None:
                wait([fut])
            raise
        # raises if DLQ delivery failed → fail the batch (replayed
        # wholesale under the at-least-once checkpoint contract);
        # always awaited — on every exception type — so no trigger
        # returns with a write in flight
        if fut is not None:
            try:
                fut.result()
            except Exception as dlq_exc:
                if sink_exc is not None:
                    # both writes failed: surface the DLQ error (it
                    # aborts the batch) with the sink failure chained
                    # as its cause so neither root cause is lost
                    raise dlq_exc from sink_exc
                raise
        if sink_exc is not None:
            self._retry_after_failure(
                tagged, invalid_already_written=fut is not None,
                n_rows=n_rows,
            )

    def _send_dlq(self, dlq: DataFrame, max_rows: int) -> None:
        """Deliver a DLQ frame of at most ``max_rows`` rows. A minority
        split goes out as ONE write task instead of |tagged partitions|
        tiny files. repartition, NOT coalesce: coalesce(1) pulls the
        whole tagged scan onto one core (~10% on 250k-row bulk
        batches); the exchange moves only the filtered minority rows."""
        if max_rows <= DLQ_SINGLE_TASK_MAX_ROWS:
            dlq = dlq.repartition(1)
        self._dlq_sink(dlq)

    def _retry_after_failure(
        self, tagged: DataFrame, invalid_already_written: bool,
        n_rows: int,
    ) -> None:
        """Schema drift suspected: re-fetch, re-validate, retry the
        insert once; on a second failure the valid rows join the DLQ
        with the insert error (main.py:433-456).

        Re-validation reads the raw messages back out of the TAGGED
        cache (``tagged.select(value_col)``) — the source is not
        re-fetched even in the drift path, and the width set by the
        fan-out carries over."""
        self.invalidate_schema()
        rework = tagged.select(self._value_col)
        tagged2 = self._tag(rework)
        try:
            typed2 = self._plan_valid(tagged2)
            failed = None
            try:
                self._sink(typed2)
            except Exception as exc:
                # second failure → only the VALID rows go to the DLQ
                # with the insert error; invalid rows keep their
                # validation error (main.py:446-456)
                valid_raw, _ = split_tagged(tagged2, self._value_col)
                failed = valid_raw.select(
                    F.col(self._value_col).alias("row"),
                    F.lit(f"insert failed after retry: {exc}").alias(
                        "error"
                    ),
                )
            _, dlq2 = split_tagged(tagged2, self._value_col)
            dlq_final = (
                dlq2 if failed is None else dlq2.unionByName(failed)
            )
            if invalid_already_written:
                # _deliver already wrote every row invalid under the
                # OLD schema — deliver only rows it has not written:
                # newly-invalid ones, and failed valid ones that were
                # not old-invalid. Invalidity is a function of the
                # message text, so the value anti-join removes exactly
                # the already-written rows; applying it AFTER the union
                # also covers the double-failure arm's reclassified
                # rows (invalid-under-old, valid-under-new), which
                # would otherwise reach the DLQ twice with
                # contradictory errors. Each message lands exactly once
                # per attempt; under reclassifying drift the delivered
                # error string is the old schema's (see _deliver).
                _, dlq1 = split_tagged(tagged, self._value_col)
                dlq_final = dlq_final.join(
                    dlq1.select("row"), on="row", how="left_anti"
                )
            # an all-tombstone batch has an empty union and must NOT
            # invoke the DLQ sink with an empty frame; dlq_final is a
            # union of disjoint subsets of the batch, so n_rows bounds
            # it without an extra count job
            if not dlq_final.isEmpty():
                self._send_dlq(dlq_final, n_rows)
        finally:
            tagged2.unpersist()

    def _fan_out(self, batch_df: DataFrame) -> DataFrame:
        """Spread a narrow micro-batch across cores before the
        validate/cast pipeline. The reference is single-threaded by
        construction; a 1-partition topic otherwise pins the engine to
        one core per trigger too (the parity_1p regime of ``git show
        6969692:THROUGHPUT_r08.json`` — ~200 ms UDF + ~300 ms from_json
        + casts all serial). A local round-robin exchange of a 25 k-row
        batch costs ~100 ms and spreads the compute over ``target``
        cores (4 on a 4-core host, at most 8); rows have no order
        semantics here (the sink is set-oriented; DLQ rows carry their
        own payload).

        Target: min(defaultParallelism, 8) partitions; batches already
        at least that wide are left alone. The explicit N keeps AQE
        from coalescing the tiny exchange back to one partition. A
        deployment that wants no local shuffle sets
        ``KAFKA_MIN_PARTITIONS`` so the source itself is that wide."""
        target = min(batch_df.sparkSession.sparkContext.defaultParallelism, 8)
        if batch_df.rdd.getNumPartitions() >= target:
            return batch_df
        return batch_df.repartition(target)

    def _tag(self, batch_df: DataFrame) -> DataFrame:
        """Validator-tagged PERSISTED frame: the validation UDF would
        otherwise re-run for every downstream action (valid write, DLQ
        write, drift re-validation) — the reference validates each
        batch once (main.py:428)."""
        schema = self._get_schema()
        return tag_errors(batch_df, schema, self._value_col).persist()

    def _plan_valid(self, tagged: DataFrame) -> DataFrame:
        """Typed valid frame over a tagged frame (P3, ``typed_valid``).
        The DLQ frame is NOT built here — _deliver derives it from the
        tagged cache only when the count job said rows exist."""
        return typed_valid(tagged, self._get_schema(), self._value_col)

    def start(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        trigger_interval: str | None = None,
        available_now: bool = False,
    ) -> StreamingQuery:
        """C4: start the micro-batch loop; checkpointing replaces the
        reference's manual offset commit (main.py:525-526).

        ``available_now=True`` runs in catch-up mode
        (``Trigger.AvailableNow``): process everything available in
        bounded micro-batches, then stop — the scheduled/cron
        deployment shape, with the same checkpoint (and therefore the
        same at-least-once contract) as the continuous service.

        The query runs with AQE and in-memory columnar compression
        OFF. The foreachBatch body re-runs the same fixed, tiny plan
        every trigger, and AQE's stage-at-a-time scheduling adds ~200 ms
        per trigger for re-optimizations that can never change this plan
        (measured; SCALE.md, "Micro-batch trigger anatomy (round 9)").
        The per-trigger tagged cache lives for milliseconds and is read
        2-3 times, so compression buys nothing there and costs ~60 ms
        per 25 k-row build (measured, r9b profile). Structured Streaming runs each query on a clone of the
        session taken inside ``writer.start()``, so both keys are set for
        that call only and the caller's session gets its own values back
        — an analytic session can host the ingest stream unchanged."""
        writer = stream_df.writeStream.foreachBatch(self.run_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_interval:
            writer = writer.trigger(processingTime=trigger_interval)
        conf = stream_df.sparkSession.conf
        saved = {key: conf.get(key) for key in _INGEST_CONF_OFF}
        for key in saved:
            conf.set(key, "false")
        try:
            return writer.start()
        finally:
            for key, value in saved.items():
                conf.set(key, value)


class StaticSchemaProvider:
    """Fixed-schema provider (tests / file-based deployments)."""

    def __init__(self, schema: TableSchema) -> None:
        self._schema = schema
        self.fetch_count = 0

    def fetch(self) -> TableSchema:
        self.fetch_count += 1
        return self._schema
