"""Structured Streaming jobs (SURVEY.md §7 phase 4).

The reference's epoch loop is an unbounded sequence of micro-batches
with retry of aborted work (``src/database/ycsb/db.h:104-109``) — the
natural Spark mapping is Structured Streaming: ``readStream`` over the
events source, watermarked windowed aggregations for late data, and a
``foreachBatch`` sink running the Aria install as the
streaming-to-transaction bridge.

Tests drive these with ``trigger(availableNow=True)`` against the
static fixture and assert the results equal the batch equivalents in
``batch_equiv`` — the exactly-once contract.

Scale notes: state stores are keyed by (window/session, key) and
pruned by the watermark; shuffle partitions bound state-store count;
``foreachBatch`` gives per-epoch transactional installs exactly like
the reference's Install phase.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from gpu_database_spark.session import tune_session


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events fixture (parquet file source, one-file-per-batch
    capable). Schema comes from a batch peek; ts normalized exactly as
    sources.catalog.load_table does."""
    tune_session(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # The file source wants a directory; the fixture dir holds one file
    # per table, so glob-filter down to the events file.
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        # TIMESTAMP(NANOS) fixture read as epoch-nanos under nanosAsLong.
        stream = stream.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
        )
    else:
        # timestamp[us] fixture. Watermarks require TIMESTAMP (LTZ) —
        # Spark rejects TIMESTAMP_NTZ event time; the NTZ->LTZ cast is
        # identity under the pinned-UTC session timezone.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "ts_ns", F.unix_micros("ts") * F.lit(1000)
        )
    return stream.select(
        "event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props"
    )


def tumbling_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1h counts per event_type. Late events beyond
    the watermark are dropped and their windows finalized."""
    from gpu_database_spark.streaming.batch_equiv import tumbling_hourly

    return tumbling_hourly(events.withWatermark("ts", watermark))


def sliding_counts_stream(events: DataFrame, watermark: str = "3 hours") -> DataFrame:
    """Watermarked sliding 2h/1h windows per event (each event lands in
    two windows); distinct users via collect_set size — countDistinct
    is illegal on streams (batch statement: stream_sliding_2h)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.size(F.collect_set("user_id")).cast("long").alias("n_users"),
        )
        .select(
            F.col("win.start").cast("timestamp").cast("long").alias("win_start_s"),
            "n_events",
            "n_users",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type) via
    dropDuplicatesWithinWatermark: keeps the FIRST-ARRIVING event per
    key and — unlike plain dropDuplicates on a key subset, which never
    expires state — evicts each key's state once the watermark passes
    its event time, so state stays bounded on an unbounded stream.

    Semantics note vs the batch statement (stream_dedup_first, which
    picks the smallest event time): first-arriving == earliest-ts only
    when the source replays in event-time order per key (true for the
    fixture; the equality test compares the key sets, which agree
    regardless of arrival order).
    """
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", F.col("event_id").alias("first_event_id"))
    )


def write_memory_sink(df: DataFrame, name: str, complete: bool = True) -> DataStreamWriter:
    """Memory sink used by tests: availableNow trigger processes the
    whole fixture then stops."""
    mode = "complete" if complete else "append"
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
    )


def user_running_totals_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running totals (event count + value sum) maintained in explicit
    keyed state across micro-batches — the general escape hatch when
    built-in windows/dedup can't express the state machine (the
    reference's per-txn Storage snapshot is the analogue,
    src/database/ycsb/storage_y.h:8-13).

    Emits one row per (user, batch) with the running totals; state is
    per-user and O(1). In availableNow mode over the fixture the final
    row per user equals the batch groupBy (test-enforced).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id LONG, n_events LONG, total_value DOUBLE",
            stateStructType="n LONG, total DOUBLE",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def user_stats_transform_with_state(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Custom stateful operator on Spark 4's transformWithStateInPandas
    — the successor API to applyInPandasWithState (SPARK-49564): state
    is declared as named, schema-full primitives (ValueState/MapState/
    ListState + timers) on a StatefulProcessor handle instead of one
    opaque tuple, so the runtime can evolve/inspect state and the
    processor composes multiple state variables.

    Here: per-user running totals in a ValueState plus per-event-type
    counts in a MapState (distinct-type cardinality from its keys) —
    the same state machine family as user_running_totals_stream, kept
    side-by-side deliberately so both APIs stay covered. Emits one row
    per (user, batch); the final row per user equals the batch
    aggregate (test-enforced, tests/test_streaming.py).

    Requires the RocksDB state store provider (the transformWithState
    backend; tests set spark.sql.streaming.stateStore.providerClass)
    and the google.protobuf package (the Python state server's wire
    format — absent in this container, so the execution-equivalence
    test skips here and the plan-construction test runs everywhere).
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.totals = handle.getValueState(
                "totals",
                StructType(
                    [StructField("n", LongType()), StructField("total", DoubleType())]
                ),
            )
            self.type_counts = handle.getMapState(
                "type_counts",
                StructType([StructField("event_type", StringType())]),
                StructType([StructField("cnt", LongType())]),
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = self.totals.get() if self.totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                for t, c in pdf["event_type"].value_counts().items():
                    prev = (
                        self.type_counts.getValue((t,))[0]
                        if self.type_counts.containsKey((t,))
                        else 0
                    )
                    self.type_counts.updateValue((t,), (prev + int(c),))
            self.totals.update((n, total))
            n_types = sum(1 for _ in self.type_counts.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "n_types": [n_types],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=UserStats(),
            outputStructType=(
                "user_id LONG, n_events LONG, total_value DOUBLE, n_types LONG"
            ),
            outputMode="Append",
            timeMode="None",
        )
    )


def aria_foreach_batch_install(
    spark: SparkSession,
    table: DataFrame,
    batch_to_ops,
):
    """Build a foreachBatch function running one Aria epoch per
    micro-batch — the streaming/transaction bridge (epoch loop,
    db.h:104-125, driven by arriving data instead of generate()).

    ``batch_to_ops(batch_df) -> ops DataFrame`` maps a micro-batch to
    the (txn_id, op_idx, key, is_update) model; the returned closure
    keeps the evolving table in ``state['table']``. Each micro-batch's
    table is a checkpoint that frees the one it supersedes, so a frame
    read from ``state['table']`` stays valid only until the next
    micro-batch; ``table`` itself is never freed.
    """
    from gpu_database_spark.functions.materialize import (
        track_persisted,
        unpersist_rdds,
    )
    from gpu_database_spark.operators import aria

    state = {"table": table, "epochs": 0, "committed": []}
    held: set[int] = set()  # RDD ids behind state["table"], once it is ours

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        ops = batch_to_ops(batch_df)
        result = aria.run_batch(state["table"], ops, reorder=True)
        # Checkpoint per micro-batch: the install is a lazy broadcast
        # anti-join of the previous table plus a union of the winners;
        # without truncation the plan would deepen by one join per batch
        # (O(N^2) re-evaluation and eventual analysis stack overflow on
        # a long-running stream). Not through materialize(): its
        # release_all would free a live stream's state.
        state["table"], ids = track_persisted(
            spark, lambda: result.table.localCheckpoint(eager=True)
        )
        # The new checkpoint is materialized, so nothing reads the one
        # it replaces any more.
        unpersist_rdds(spark, held)
        held.clear()
        held.update(ids)
        state["epochs"] += result.epochs
        state["committed"].extend(result.commit_order)

    return _fn, state


def split_view_click(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Two event-time streams carved out of one source: views and
    clicks, with disambiguated column names for the self-join."""
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("ts_ns").alias("v_ts_ns"),
        F.col("event_id").alias("v_id"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("ts_ns").alias("c_ts_ns"),
        F.col("event_id").alias("c_id"),
    )
    return views, clicks


def view_click_pairs(views: DataFrame, clicks: DataFrame) -> DataFrame:
    """Interval self-join: every (view, click) by the same user with the
    click in [view, view + 1h]. The time-range predicate on the event
    -time columns is what lets streaming bound join state: with both
    sides watermarked, a buffered view can be evicted once the watermark
    passes v_ts + 1h (no unbounded state growth). Shared verbatim by the
    batch equivalent; gap computed on the exact ns column."""
    cond = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("interval 1 hour"))
    )
    return views.join(clicks, cond).select(
        F.col("v_user").alias("user_id"),
        "v_id",
        "c_id",
        # truncate EACH side to us before the diff (not the diff itself):
        # matches engines whose timestamps are us-precision, where the
        # truncation happens per-value at read time
        F.expr("(c_ts_ns div 1000) - (v_ts_ns div 1000)").alias("gap_us"),
    )


def view_click_join_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join (append mode): watermarks on BOTH sides
    plus the interval condition give Spark the state-eviction bound —
    the canonical funnel-in-flight operator."""
    views, clicks = split_view_click(events)
    return view_click_pairs(
        views.withWatermark("v_ts", watermark),
        clicks.withWatermark("c_ts", watermark),
    )


def cohort_dim(spark: SparkSession, events_batch: DataFrame) -> DataFrame:
    """A small static dimension derived from the corpus: user -> cohort
    (deterministic user_id % 7). Stands in for the profile table a
    production stream would broadcast."""
    return (
        events_batch.select("user_id")
        .distinct()
        .withColumn("cohort", (F.col("user_id") % 7).cast("long"))
    )


def enriched_cohort_counts_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join + aggregation: each micro-batch joins the
    static dim (broadcast — no stream-side shuffle, no join state at
    all: the static side is re-broadcast per batch), then running
    per-cohort totals (complete mode)."""
    return (
        events.join(F.broadcast(dim), "user_id")
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
    )
