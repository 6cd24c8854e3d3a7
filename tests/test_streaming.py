"""Structured Streaming jobs == their batch equivalents (exactly-once).

Each streaming job runs with trigger(availableNow=True) over the
static events fixture into a memory sink, then must produce exactly
the rows of the corresponding batch query in streaming.batch_equiv.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gpu_database_spark.sources.catalog import load_table
from gpu_database_spark.streaming import batch_equiv, jobs


def _run_stream(spark, writer, name):
    q = writer.start()
    q.awaitTermination(120)
    return spark.table(name)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    ev = jobs.read_events_stream(spark, sf_dir)
    out = _run_stream(
        spark,
        jobs.write_memory_sink(jobs.tumbling_counts_stream(ev), "t_tumbling"),
        "t_tumbling",
    )
    batch = batch_equiv.tumbling_hourly(load_table(spark, sf_dir, "events"))
    assert _rows(out) == _rows(batch)
    assert out.count() > 0


def test_streaming_dedup_equals_batch(spark, sf_dir):
    ev = jobs.read_events_stream(spark, sf_dir)
    out = _run_stream(
        spark,
        jobs.write_memory_sink(jobs.dedup_stream(ev), "t_dedup", complete=False),
        "t_dedup",
    )
    batch = batch_equiv.stream_dedup_first(spark, sf_dir)
    # streaming dropDuplicates keeps the first *arriving* row; the file
    # source replays in file order == event order here, so keys match
    # exactly and chosen ids match the ts-ordered batch statement when
    # events arrive in timestamp order per key. Keys must agree always:
    assert _rows(out.select("user_id", "event_type")) == _rows(
        batch.select("user_id", "event_type")
    )
    assert out.count() == batch.count()


def test_streaming_sliding_equals_batch(spark, sf_dir):
    """Sliding 2h/1h windows computed incrementally == the batch query."""
    ev = jobs.read_events_stream(spark, sf_dir)
    out = _run_stream(
        spark,
        jobs.write_memory_sink(jobs.sliding_counts_stream(ev), "t_sliding"),
        "t_sliding",
    )
    batch = batch_equiv.stream_sliding_2h(spark, sf_dir)
    assert _rows(out) == _rows(batch)
    assert out.count() > 0


def test_stateful_running_totals_matches_batch(spark, sf_dir):
    """applyInPandasWithState keyed state: the last emitted row per user
    must equal the batch aggregate over the same events."""
    ev = jobs.read_events_stream(spark, sf_dir)
    out = _run_stream(
        spark,
        jobs.write_memory_sink(
            jobs.user_running_totals_stream(ev), "t_state", complete=False
        ),
        "t_state",
    )
    # keep the max-count (latest) row per user
    from pyspark.sql import Window
    import pyspark.sql.functions as SF

    w = Window.partitionBy("user_id").orderBy(SF.col("n_events").desc())
    final = (
        out.withColumn("rn", SF.row_number().over(w))
        .filter(SF.col("rn") == 1)
        .select("user_id", "n_events")
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(SF.count(SF.lit(1)).alias("n_events"))
    )
    assert _rows(final) == _rows(batch)


def _has_protobuf() -> bool:
    """transformWithStateInPandas's Python state server speaks protobuf
    to the JVM; without the package the worker crashes at init."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_transform_with_state_plan_builds(spark, sf_dir):
    """The transformWithStateInPandas job must construct — streaming
    plan, output schema, state declarations — independent of the
    optional protobuf runtime dependency."""
    ev = jobs.read_events_stream(spark, sf_dir)
    out = jobs.user_stats_transform_with_state(ev)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "user_id",
        "n_events",
        "total_value",
        "n_types",
    ]


@pytest.mark.skipif(
    not _has_protobuf(), reason="transformWithState worker needs google.protobuf"
)
def test_transform_with_state_matches_batch(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 stateful API, RocksDB
    backend): the last emitted row per user must equal the batch
    aggregate — count, exact value sum, distinct event types."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = jobs.read_events_stream(spark, sf_dir)
        out = _run_stream(
            spark,
            jobs.write_memory_sink(
                jobs.user_stats_transform_with_state(ev), "t_tws", complete=False
            ),
            "t_tws",
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    from pyspark.sql import Window
    import pyspark.sql.functions as SF

    w = Window.partitionBy("user_id").orderBy(SF.col("n_events").desc())
    final = (
        out.withColumn("rn", SF.row_number().over(w))
        .filter(SF.col("rn") == 1)
        .select("user_id", "n_events", SF.round("total_value", 6).alias("tv"), "n_types")
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            SF.count(SF.lit(1)).alias("n_events"),
            SF.round(SF.sum("value"), 6).alias("tv"),
            SF.countDistinct("event_type").alias("n_types"),
        )
    )
    assert _rows(final) == _rows(batch)
    assert final.count() > 0


def test_watermark_drops_late_data(spark, sf_dir, tmp_path):
    """Feed two micro-batches from separate files: batch 1 advances
    event time far ahead; batch 2 replays only old events. With a
    1-hour watermark the old rows are late beyond the threshold and
    must not create/extend windows in the final result."""
    import os

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_ns", "user_id", "event_type", "value", "props"
    )
    cutoff = ev.agg(F.max("ts_ns")).first()[0]
    late_day = cutoff - 7 * 24 * 3600 * 1_000_000_000  # a week before max
    early = ev.filter(F.col("ts_ns") > late_day)
    late = ev.filter(F.col("ts_ns") <= late_day).limit(50)
    assert early.count() > 0 and late.count() > 0
    src = os.path.join(str(tmp_path), "late_src")
    sink = os.path.join(str(tmp_path), "late_sink")
    ckpt = os.path.join(str(tmp_path), "late_ckpt")
    os.makedirs(src)
    schema = "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withColumnRenamed("ts", "ts_ns")
            .withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").cast("long").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")  # emits only watermark-closed windows
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # arrival 1: recent events -> watermark advances to max(ts) - 1h
    early.toPandas().rename(columns={"ts_ns": "ts"}).to_parquet(
        os.path.join(src, "part-1-new.parquet")
    )
    run_once()
    # arrival 2: a week-old replay -> beyond the watermark, must be dropped
    late.toPandas().rename(columns={"ts_ns": "ts"}).to_parquet(
        os.path.join(src, "part-2-late.parquet")
    )
    run_once()
    out = spark.read.parquet(sink)
    # the hour window containing late_day itself may hold on-time events;
    # anything strictly before it can only have come from the late file
    boundary_ws = (late_day // 1_000_000_000) // 3600 * 3600
    late_windows = {r.ws for r in out.collect() if r.ws < boundary_ws}
    assert late_windows == set(), f"late windows leaked: {late_windows}"
    assert out.count() > 0


def test_foreach_batch_aria_install(spark, sf_dir):
    """The streaming->transaction bridge: every micro-batch runs one
    Aria run_batch over ops derived from the events in the batch."""
    table = spark.createDataFrame(
        [(k, f"init:{k}") for k in range(1, 51)], "key long, value string"
    )

    def batch_to_ops(batch_df):
        return batch_df.select(
            F.col("user_id").alias("txn_id"),
            F.col("event_id").cast("int").alias("op_idx"),
            (F.col("event_id") % 50 + 1).alias("key"),
            (F.col("event_type") == "purchase").alias("is_update"),
        )

    fn, state = jobs.aria_foreach_batch_install(spark, table, batch_to_ops)
    ev = jobs.read_events_stream(spark, sf_dir)
    q = ev.writeStream.foreachBatch(fn).trigger(availableNow=True).start()
    q.awaitTermination(180)
    assert state["epochs"] >= 1
    final = state["table"]
    assert final.count() >= 50  # upserts may add keys; none lost
    # deterministic: rerun whole pipeline -> same table
    fn2, state2 = jobs.aria_foreach_batch_install(spark, table, batch_to_ops)
    q2 = (
        jobs.read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(fn2)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    assert _rows(final) == _rows(state2["table"])


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """Stream-stream interval join (append mode) emits exactly the
    batch join's pair set — watermark state eviction must not lose or
    duplicate pairs when all data is within the watermark."""
    ev = jobs.read_events_stream(spark, sf_dir)
    out = _run_stream(
        spark,
        jobs.write_memory_sink(
            jobs.view_click_join_stream(ev), "t_ssjoin", complete=False
        ),
        "t_ssjoin",
    )
    bv, bc = jobs.split_view_click(load_table(spark, sf_dir, "events"))
    batch = jobs.view_click_pairs(bv, bc)
    assert _rows(out.select("user_id", "v_id", "c_id", "gap_us")) == _rows(
        batch.select("user_id", "v_id", "c_id", "gap_us")
    )
    assert out.count() > 0


def test_stream_static_join_equals_batch(spark, sf_dir):
    """Stream-static broadcast enrichment + running aggregation
    (complete mode) converges to the batch result."""
    events_batch = load_table(spark, sf_dir, "events")
    dim = jobs.cohort_dim(spark, events_batch)
    ev = jobs.read_events_stream(spark, sf_dir)
    out = _run_stream(
        spark,
        jobs.write_memory_sink(
            jobs.enriched_cohort_counts_stream(ev, dim), "t_stjoin"
        ),
        "t_stjoin",
    )
    batch = jobs.enriched_cohort_counts_stream(events_batch, dim)
    assert _rows(out) == _rows(batch)
    assert out.count() > 0


def test_streaming_soak_1m_events_watermark_and_aria(spark, tmp_path):
    """Scale soak (VERDICT r6 #6): >=1M events streamed through (a) a
    watermarked tumbling aggregation with an EXACT drop-count oracle,
    and (b) the foreachBatch Aria install bridge — the true-streaming
    counterpart of the 1M-row batch smokes in test_scale_smoke.

    The source files arrive one per availableNow run against a shared
    checkpoint, so micro-batch boundaries — and therefore watermark
    advancement — are exactly reproducible: files 1-3 carry a block of
    10-day-late rows that the post-file-0 watermark must drop, file 3
    carries one far-future sentinel that closes every on-time window.
    The streamed result must equal the batch groupBy over ON-TIME rows
    only, window by window — the running-watermark audit
    stream_watermark_audit states over the fixture, evaluated here at
    micro-batch granularity with a closed-form expectation."""
    import os

    import numpy as np
    import pandas as pd

    n_per_file, n_files, n_late = 250_000, 4, 1_250
    base = 1_700_002_800  # epoch seconds, hour-aligned (472223 * 3600)
    hour, day = 3_600, 86_400
    src = os.path.join(str(tmp_path), "soak_src")
    sink = os.path.join(str(tmp_path), "soak_sink")
    ckpt = os.path.join(str(tmp_path), "soak_ckpt")
    os.makedirs(src)

    def write_file(k: int) -> None:
        i = np.arange(n_per_file, dtype=np.int64)
        ts = (base + k * hour + i % hour) * 1_000_000
        vid = k * n_per_file + i
        if k > 0:  # late block: 10 days before base, must be dropped
            ts[:n_late] = (base - 10 * day) * 1_000_000
        if k == n_files - 1:  # sentinel closes all on-time windows
            ts[-1] = (base + 30 * day) * 1_000_000
        pd.DataFrame({"event_id": vid, "ts_us": ts}).to_parquet(
            os.path.join(src, f"part-{k}.parquet")
        )

    def run_watermark_once() -> None:
        stream = (
            spark.readStream.schema("event_id LONG, ts_us LONG")
            .parquet(src)
            .withColumn("ts", F.timestamp_micros("ts_us"))
        )
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").cast("long").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # (b) setup: the foreachBatch Aria install bridge at the reference
    # key domain (keys U(1,20000)); ops are a 1/40 sample of events.
    table = spark.range(1, 20_001).select(
        F.col("id").alias("key"),
        F.concat(F.lit("init:"), F.col("id")).alias("value"),
    )

    def batch_to_ops(batch_df):
        s = batch_df.filter(F.col("event_id") % 40 == 0)
        return s.select(
            (F.col("event_id") % 150).alias("txn_id"),
            (F.col("event_id") % 30).cast("int").alias("op_idx"),
            (F.col("event_id") % 20_000 + 1).alias("key"),
            (F.col("event_id") % 5 < 2).alias("is_update"),
        )

    fn, state = jobs.aria_foreach_batch_install(spark, table, batch_to_ops)
    aria_ckpt = os.path.join(str(tmp_path), "aria_ckpt")

    def run_aria_once() -> None:
        q = (
            spark.readStream.schema("event_id LONG, ts_us LONG")
            .parquet(src)
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", aria_ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    def persistent_rdds() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before_aria = persistent_rdds()
    for k in range(n_files):  # one micro-batch per arriving file
        write_file(k)
        run_watermark_once()
        run_aria_once()
        # each micro-batch's checkpoint frees the one it supersedes
        assert len(persistent_rdds() - before_aria) <= 1, k

    got = {r.ws: r.n for r in spark.read.parquet(sink).collect()}
    assert not [ws for ws in got if ws < base], "late windows leaked"
    # exact oracle: every on-time row lands in its hour window; the
    # sentinel's own window stays open (watermark = sentinel - 30min)
    expect = {
        base + k * hour: n_per_file
        - (n_late if k > 0 else 0)
        - (1 if k == n_files - 1 else 0)
        for k in range(n_files)
    }
    assert got == expect, {
        k: (got.get(k), expect.get(k))
        for k in set(got) | set(expect)
        if got.get(k) != expect.get(k)
    }
    dropped = n_late * (n_files - 1)
    assert n_files * n_per_file - sum(got.values()) == dropped + 1  # +1 open sentinel

    assert state["epochs"] >= n_files, state["epochs"]
    assert state["committed"], "no transaction ever committed"
    final = state["table"]
    assert final.count() == 20_000, "upsert-only workload must keep the key domain"
    assert final.filter(F.col("value").startswith("init:")).count() < 20_000, (
        "no write ever installed"
    )


def test_streaming_incremental_lsh_dedup_equals_batch(spark):
    """Continuous-ingest near-dup dedup: a synthdocs micro-batch
    stream runs through foreachBatch; every batch is banded and
    checked against the ACCUMULATED band index (new-vs-index +
    new-vs-new, old-vs-old never generated — the dedup_incremental_lsh
    contract, but driven by a real streaming query). The union of
    per-batch accepted pairs must equal the full-corpus batch LSH
    pair set: each pair is discovered exactly when its later doc
    arrives, regardless of micro-batch boundaries."""
    from gpu_database_spark.llm.dedup import (
        N_HASHES,
        lsh_bands,
        minhash_signatures,
    )
    from gpu_database_spark.sources.pysource import SynthDocsDataSource

    spark.dataSource.register(SynthDocsDataSource)
    n_docs, fam = 400, 137  # doc_id % fam => exact-duplicate families

    def with_dup_text(df):
        # Deterministic duplicate families: text is a pure function of
        # doc_id % fam, so family members are exact near-dups.
        words = [
            F.md5(F.concat((F.col("doc_id") % fam).cast("string"), F.lit(f":{j}")))
            for j in range(12)
        ]
        return df.select("doc_id", F.concat_ws(" ", *words).alias("text"))

    state = {"sig": None, "bands": None, "pairs": set(), "n_seen": 0}

    def on_batch(batch_df, batch_id):
        docs = with_dup_text(batch_df)
        if docs.isEmpty():
            return
        sig = minhash_signatures(docs).localCheckpoint(eager=True)
        bands = lsh_bands(sig).localCheckpoint(eager=True)
        nb = bands
        cands = (
            nb.join(
                nb.withColumnsRenamed({"doc_id": "doc_b"}), ["band", "bsig"]
            )
            .filter(F.col("doc_id") < F.col("doc_b"))
            .select(
                F.col("doc_b").alias("new_doc"),
                F.col("doc_id").alias("matched_doc"),
            )
        )
        if state["bands"] is not None:
            cands = cands.unionByName(
                nb.join(
                    state["bands"].withColumnsRenamed({"doc_id": "matched_doc"}),
                    ["band", "bsig"],
                ).select(F.col("doc_id").alias("new_doc"), "matched_doc")
            )
        all_sig = (
            sig
            if state["sig"] is None
            else sig.unionByName(state["sig"])
        )
        sa = all_sig.withColumnsRenamed({"doc_id": "new_doc"})
        sb = all_sig.withColumnsRenamed(
            {"doc_id": "matched_doc", "minhash": "mh_b"}
        )
        accepted = (
            cands.distinct()
            .join(sa, "new_doc")
            .join(sb, ["matched_doc", "h"])
            .filter(F.col("minhash") == F.col("mh_b"))
            .groupBy("new_doc", "matched_doc")
            .agg(F.count(F.lit(1)).alias("n_match"))
            .filter(F.col("n_match") >= N_HASHES // 2)
            .collect()
        )
        state["pairs"].update(
            frozenset((r.new_doc, r.matched_doc)) for r in accepted
        )
        state["sig"] = all_sig.localCheckpoint(eager=True)
        state["bands"] = (
            bands
            if state["bands"] is None
            else bands.unionByName(state["bands"])
        ).localCheckpoint(eager=True)
        # Incremented LAST: the drain poll must not stop the query
        # while this batch's pair computation is still in flight.
        state["n_seen"] += docs.count()

    stream = (
        spark.readStream.format("synthdocs")
        .option("n_rows", n_docs)
        .option("rows_per_batch", 100)
        .load()
    )
    # availableNow falls back to one micro-batch for Python stream
    # sources (Spark 4.1) — run free and poll until the source drains.
    import time as _time

    q = stream.writeStream.foreachBatch(on_batch).start()
    try:
        deadline = _time.time() + 180
        while _time.time() < deadline and state["n_seen"] < n_docs:
            _time.sleep(0.5)
    finally:
        q.stop()
    assert state["n_seen"] == n_docs

    # Full-corpus batch reference over the identical doc set.
    full = with_dup_text(
        spark.read.format("synthdocs").option("n_rows", n_docs).load()
    )
    sig = minhash_signatures(full)
    bands = lsh_bands(sig)
    pairs_ref = (
        bands.join(bands.withColumnsRenamed({"doc_id": "doc_b"}), ["band", "bsig"])
        .filter(F.col("doc_id") < F.col("doc_b"))
        .select("doc_id", "doc_b")
        .distinct()
        .join(sig, "doc_id")
        .join(
            sig.withColumnsRenamed({"doc_id": "doc_b", "minhash": "mh_b"}),
            ["doc_b", "h"],
        )
        .filter(F.col("minhash") == F.col("mh_b"))
        .groupBy("doc_id", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .filter(F.col("n_match") >= N_HASHES // 2)
        .collect()
    )
    want = {frozenset((r.doc_id, r.doc_b)) for r in pairs_ref}
    assert len(want) > 100  # duplicate families guarantee a dense pair set
    assert state["pairs"] == want


def test_soak_rocksdb_state_store_bounded(spark, tmp_path):
    """Second true-streaming soak (r10 VERDICT ask #8): ~1M events
    through a watermarked tumbling aggregation under the RocksDB state
    store provider, with the per-batch stateOperators METRICS asserted
    — the streaming row of the 100 TB story is that state size tracks
    OPEN WINDOWS (watermark-bounded), never stream length.

    Three files arrive on consecutive event-time days against a shared
    checkpoint; after every availableNow run the query's lastProgress
    must report (a) the RocksDB provider in use, and (b) numRowsTotal
    bounded by one file's window count plus carry-over — if expired
    windows were never purged, the final run would hold all ~144."""
    import json
    import os

    import numpy as np
    import pandas as pd

    n_per_file, n_files = 340_000, 3
    base = 1_700_002_800  # epoch seconds, hour-aligned
    hour, day = 3_600, 86_400
    src = os.path.join(str(tmp_path), "rs_src")
    sink = os.path.join(str(tmp_path), "rs_sink")
    ckpt = os.path.join(str(tmp_path), "rs_ckpt")
    os.makedirs(src)
    windows_per_file = 48  # two event-time days of hourly windows

    def write_file(k: int) -> None:
        i = np.arange(n_per_file, dtype=np.int64)
        # spread file k uniformly over ITS two days: 48 hourly windows
        ts = (base + k * windows_per_file * hour
              + (i % (windows_per_file * hour))) * 1_000_000
        pd.DataFrame(
            {"event_id": k * n_per_file + i, "ts_us": ts}
        ).to_parquet(os.path.join(src, f"part-{k}.parquet"))

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    progresses = []
    try:
        for k in range(n_files):
            write_file(k)
            stream = (
                spark.readStream.schema("event_id LONG, ts_us LONG")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .withColumn("ts", F.timestamp_micros("ts_us"))
            )
            agg = (
                stream.withWatermark("ts", "30 minutes")
                .groupBy(F.window("ts", "1 hour").alias("win"))
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.col("win.start").cast("long").alias("ws"), "n")
            )
            q = (
                agg.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            lp = q.lastProgress
            if isinstance(lp, str):
                lp = json.loads(lp)
            progresses.append(lp)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    for lp in progresses:
        ops = lp["stateOperators"]
        assert ops, lp
        # (a) the RocksDB provider actually served the state
        blob = json.dumps(ops)
        assert "rocksdb" in blob.lower(), blob[:500]
        # (b) bounded state: never more than one file's windows + the
        # carry-over the watermark hasn't expired yet at batch start
        assert ops[0]["numRowsTotal"] <= 2 * windows_per_file + 4, ops[0]
        assert ops[0]["numRowsTotal"] > 0, ops[0]
    # the soak ingested ~144 distinct windows overall; state purging is
    # what kept every per-run total at ~48 — check the LAST run saw
    # rows REMOVED (expired windows leaving the store)
    assert progresses[-1]["stateOperators"][0]["numRowsRemoved"] > 0, (
        progresses[-1]["stateOperators"][0]
    )
    # emitted on-time rows must cover all closed windows exactly once
    emitted = spark.read.parquet(sink)
    assert emitted.groupBy("ws").count().filter(F.col("count") > 1).count() == 0
    assert emitted.count() >= (n_files - 1) * windows_per_file
