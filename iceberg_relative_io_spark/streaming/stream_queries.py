"""Structured Streaming surface (SURVEY.md §2.B B30-B31).

The reference's events-stream north star: ingest an append log, window it
with watermarks, deduplicate at-least-once delivery, run custom stateful
operators. Each driver query materializes the fixture as a file-source
stream (the local stand-in for Kafka), runs a real ``readStream`` →
``writeStream`` pipeline to completion against a memory sink, and returns
the sink table — so what the oracle checks is the output of the actual
streaming engine, not a batch re-phrasing.

Scale notes: the same pipelines run unchanged against Kafka/object-store
sources on a cluster; watermarks bound state, and
``dropDuplicatesWithinWatermark`` keeps the dedup state finite. Memory
sinks are test-only — production writes through ``foreachBatch`` into the
relative-format table (see tests/test_streaming.py for that path).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_relative_io_spark.sources.tables import load_table

_EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)

# Stateful streaming creates one state-store instance per shuffle partition
# per micro-batch; the partition count must be sized to STATE volume, not to
# batch-query parallelism (on a cluster you raise this with state size —
# it is fixed at first checkpoint, so pick it deliberately per stream).
_STREAM_PARTITIONS = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8")

_STAGED: dict[tuple[str, bool], str] = {}


def _tws_available() -> bool:
    """transformWithStateInPandas runs a protobuf-speaking state server;
    the container ships no google.protobuf, so the TWS operator is gated
    (the applyInPandasWithState operator covers custom stateful here)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


def register_optional_queries() -> dict:
    """Queries available only when the runtime supports them."""
    out = {}
    if _tws_available():
        out["b30_stream_tws_user_stats"] = q_stream_tws_user_stats
    return out


def _stage_events(
    spark: SparkSession, sf_dir: str, doubled: bool = False, parts: int | None = None
) -> str:
    """Materialize the events fixture (normalized µs timestamps) as a
    parquet directory usable as a file-source stream. Memoized per
    (sf_dir, doubled, parts) — the staged log is immutable input, shared
    by every streaming query in the process. ``parts`` forces a file
    count, so maxFilesPerTrigger can carve the log into that many
    micro-batches."""
    key = (sf_dir, doubled, parts)
    if key not in _STAGED:
        ev = load_table(spark, sf_dir, "events")
        if doubled:
            ev = ev.unionByName(ev)  # simulate at-least-once duplicate delivery
        if parts:
            ev = ev.repartition(parts)
        path = tempfile.mkdtemp(prefix="events_stream_")
        ev.write.mode("overwrite").parquet(path)
        _STAGED[key] = path
    return _STAGED[key]


def _run_to_memory(stream_df: DataFrame, mode: str) -> DataFrame:
    spark = stream_df.sparkSession
    name = f"sink_{uuid.uuid4().hex[:12]}"
    before = spark.conf.get("spark.sql.shuffle.partitions")
    before_ndmb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", _STREAM_PARTITIONS)
    # Round-11 (guide §1/§2 — don't compute what you throw away): these
    # drain-to-completion pipelines emit every row during DATA batches
    # (complete mode rewrites the sink each batch; append-mode dedup /
    # inner stream-stream joins emit on sight/match). The trailing
    # no-data micro-batch only advances the watermark to evict state —
    # for a complete-mode aggregation that means ONE FULL extra
    # recompute of the aggregation with zero new input. Skip it; the
    # sink content is identical (oracle-checked per query). Scoped to
    # this memory-sink runner, not session-wide: a continuous
    # production stream may want watermark-only emission.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", before_ndmb
        )
    return spark.table(name)


def q_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30: streaming ingest -> watermark -> tumbling daily windows ->
    per-type aggregates. Sums go through decimal for hash determinism."""
    src = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(stream, "complete")


def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30: sliding windows (2-day window advancing daily) — each event
    lands in two windows."""
    src = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.unix_micros(F.col("w.start")).alias("window_start_us"), "n_events")
    )
    return _run_to_memory(stream, "complete")


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B31: stateful dedup of at-least-once delivery. The source is the
    events fixture delivered twice; dropDuplicatesWithinWatermark must
    return exactly the original stream."""
    src = _stage_events(spark, sf_dir, doubled=True)
    stream = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", F.unix_micros("ts").alias("ts_us"), "event_type", "value")
    )
    return _run_to_memory(stream, "append")


def _epoch_key(ckpt: str, epoch: int) -> str:
    """Checkpoint-scoped epoch key for idempotent foreachBatch sinks —
    the same ``sha1(checkpoint)[:12]:batchId`` contract as
    RelativeStreamWriter._batch_key (batch ids restart at 0 per
    checkpoint, so a bare batchId would let a second query's first
    epochs be swallowed as replays)."""
    import hashlib

    return hashlib.sha1(ckpt.encode()).hexdigest()[:12] + ":" + str(epoch)


def q_stream_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30 (stream -> table sink): the production ingestion shape — the
    event stream commits into the relative-path table format through
    foreachBatch (one durable snapshot per micro-batch), then the TABLE
    is read back and aggregated. foreachBatch alone is AT-LEAST-once —
    a crash between the sink's table commit and the engine's
    commit-log write replays the epoch — so the sink records its epoch
    key in the snapshot summary and skips epochs it already committed
    (seen_stream_epoch; fuzzed by tools/fuzz_stream.py --sinks). What
    the oracle checks is therefore the whole stream->catalog->scan
    round trip, not just the stream computation. Three micro-batches
    here (maxFilesPerTrigger) prove multi-snapshot accumulation."""
    import tempfile as _tf

    from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable

    src = _stage_events(spark, sf_dir, parts=3)
    ev_schema = load_table(spark, sf_dir, "events").schema
    cat = FsCatalog(_tf.mkdtemp(prefix="stream_sink_wh_"))
    cat.create_namespace(("stream",))
    ops = cat.create_table(("stream",), "events_sink", ev_schema.jsonValue())
    table = RelativeTable(ops)

    stream = spark.readStream.schema(_EVENT_SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    ckpt = _tf.mkdtemp(prefix="ckpt_")

    def _sink(batch, epoch: int) -> None:
        key = _epoch_key(ckpt, epoch)
        if table.seen_stream_epoch(key):
            return  # replayed epoch: snapshot already committed
        table.append(batch, extra_summary={"stream-batch-id": key})

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    table.ops._should_refresh = True
    n_snaps = len([s for s in table.ops.current()["snapshots"]])
    assert n_snaps == 3, f"expected one snapshot per micro-batch, got {n_snaps}"
    return (
        table.read(spark)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias("sum_value"),
        )
    )


def q_stream_to_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30 + A45 (stream -> external Iceberg mirror): the event stream
    lands as incremental Iceberg v2 commits — an empty export seeds the
    mirror, then every micro-batch calls ``append_iceberg`` against the
    exported directory (one spec-shaped snapshot per epoch: data files +
    manifest + carried-forward manifest list + vN+1 metadata behind the
    CAS). The readback goes through the independent spec-path reader,
    so the oracle gates the whole stream -> Iceberg-commit -> external
    -read loop. This is the shape a pipeline uses to keep a mirror
    queryable by external engines current per batch, without ever
    re-exporting (a full export per epoch is O(table); the append is
    O(batch))."""
    import tempfile as _tf

    from iceberg_relative_io_spark.catalog import (
        FsCatalog,
        RelativeTable,
        iceberg_export,
    )

    src = _stage_events(spark, sf_dir, parts=3)
    ev_schema = load_table(spark, sf_dir, "events").schema
    cat = FsCatalog(_tf.mkdtemp(prefix="stream_ice_wh_"))
    cat.create_namespace(("stream",))
    ops = cat.create_table(("stream",), "events_seed", ev_schema.jsonValue())
    dest = _tf.mkdtemp(prefix="stream_ice_mirror_")
    iceberg_export.export_iceberg(RelativeTable(ops), dest)  # empty seed

    stream = spark.readStream.schema(_EVENT_SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    ckpt = _tf.mkdtemp(prefix="ckpt_")

    def _sink(batch, epoch: int) -> None:
        # replayed-epoch guard (at-least-once foreachBatch -> idempotent
        # commits): the epoch key rides the mirror snapshot summary AND
        # the expiry-proof stream.epoch.<ckpt> metadata property, so the
        # probe survives expire_snapshots_iceberg reaping the marker
        # snapshot (crash + expiry + replay can't double-commit)
        key = _epoch_key(ckpt, epoch)
        if iceberg_export.seen_stream_epoch_iceberg(dest, key):
            return
        iceberg_export.append_iceberg(
            spark, dest, batch, extra_summary={"stream-batch-id": key}
        )

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    doc = iceberg_export._load_metadata(dest)
    n_snaps = len(doc["snapshots"])
    assert n_snaps == 4, f"seed + one commit per micro-batch, got {n_snaps}"
    # maintenance: per-batch commits grow the manifest list one manifest
    # per epoch — merge them (metadata-only, sequences preserved), then
    # expire the superseded history (reaps only mirror-owned artifacts),
    # so the read the oracle checks goes through the POST-maintenance
    # metadata: the full lifecycle append -> rewrite -> expire -> read
    # one data manifest per commit that wrote files (an empty seed or
    # micro-batch lists none)
    wrote = sum(
        int(s["summary"].get("added-data-files", 0)) > 0
        for s in doc["snapshots"]
    )
    info = iceberg_export.rewrite_manifests_iceberg(dest)
    assert info["merged-manifests"] == wrote
    gone = iceberg_export.expire_snapshots_iceberg(dest, keep_last=1)
    assert gone["expired"] == 4  # seed + 3 batch commits superseded
    return (
        iceberg_export.read_iceberg(spark, dest)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias("sum_value"),
        )
    )


def q_stream_upsert_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30/B31 (CDC upsert sink): the stream lands in the relative-format
    table as an ordered upsert — each micro-batch merges on
    (user_id, event_type) keeping the greatest (ts, event_id), so the
    table converges to keep-latest state regardless of batch arrival
    order (foreachBatch + RelativeTable.merge_latest, one snapshot per
    batch). The oracle states the same keep-latest over the raw log —
    what is checked is stream -> merge commits -> catalog scan."""
    import tempfile as _tf

    from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable

    src = _stage_events(spark, sf_dir, parts=3)
    ev_schema = load_table(spark, sf_dir, "events").schema
    cat = FsCatalog(_tf.mkdtemp(prefix="stream_upsert_wh_"))
    cat.create_namespace(("stream",))
    ops = cat.create_table(("stream",), "latest_events", ev_schema.jsonValue())
    table = RelativeTable(ops)

    stream = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    ckpt = _tf.mkdtemp(prefix="ckpt_")

    def _sink(batch, epoch: int) -> None:
        # a replayed merge epoch would CONVERGE on rows (keep-latest is
        # idempotent on identical input) but still mint a duplicate
        # snapshot; the epoch guard keeps history exactly-once too
        key = _epoch_key(ckpt, epoch)
        if table.seen_stream_epoch(key):
            return
        table.merge_latest(
            spark,
            batch,
            ["user_id", "event_type"],
            ["ts", "event_id"],
            extra_summary={"stream-batch-id": key},
        )

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    table.ops._should_refresh = True
    n_snaps = len(table.ops.current()["snapshots"])
    assert n_snaps == 3, f"expected one merge snapshot per micro-batch, got {n_snaps}"
    return table.read(spark).select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
    )


def q_stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30 (custom stateful operator): per-user running aggregate via
    applyInPandasWithState — the escape hatch for semantics the built-in
    windowed aggregates can't express. Emits each user's final
    (count, max) when the stream drains; with the whole fixture in one
    micro-batch that is one row per user, which the oracle states in SQL."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = _stage_events(spark, sf_dir)

    def update(key, pdf_iter, state):
        cnt, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdf_iter:
            cnt += len(pdf)
            mx = max(mx, pdf["value"].max())
        state.update((cnt, mx))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt], "max_value": [mx]})

    stream = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .parquet(src)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, max_value double",
            stateStructType="cnt long, mx double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_memory(stream, "append")


def q_stream_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30 (Spark 4 stateful API): per-user event statistics via
    transformWithStateInPandas — the successor to applyInPandasWithState,
    with composable named state (ValueState here; ListState/MapState and
    timers for richer operators). Count/min/max only, so every emitted
    value is exact against the oracle. One micro-batch (the file source
    drains the staged log in one trigger) => one final row per user.

    Registered in QUERIES only when the runtime supports it: TWS's state
    server speaks protobuf, which this container does not ship (see
    _TWS_AVAILABLE) — the operator itself is exercised wherever
    ``google.protobuf`` is importable."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "agg", "cnt long, mn double, mx double"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                cnt, mn, mx = self._state.get()
            else:
                cnt, mn, mx = 0, float("inf"), float("-inf")
            for pdf in rows:
                cnt += len(pdf)
                mn = min(mn, float(pdf["value"].min()))
                mx = max(mx, float(pdf["value"].max()))
            self._state.update((cnt, mn, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [cnt],
                    "min_value": [mn],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    src = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .parquet(src)
        .groupBy("user_id")
        .transformWithStateInPandas(
            UserStats(),
            outputStructType="user_id long, n_events long, min_value double, max_value double",
            outputMode="Update",
            timeMode="None",
        )
    )
    return _run_to_memory(stream, "update")


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30 (stream-stream join): every purchase joined to the same user's
    clicks in the preceding hour. Watermarks on both sides bound the join
    state — the condition's time interval is what lets Spark expire
    buffered rows, the non-negotiable ingredient at production scale."""
    src = _stage_events(spark, sf_dir)

    def stream():
        return spark.readStream.schema(_EVENT_SCHEMA).parquet(src)

    purchases = (
        stream()
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        stream()
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        "p_id",
        F.col("p_user").alias("user_id"),
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        F.unix_micros("c_ts").alias("click_ts_us"),
    )
    return _run_to_memory(joined, "append")


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30: session windows — per-user sessions closed by a 30-minute gap.
    Uses the native session_window operator; the oracle reconstructs the
    same sessions with lag + cumulative-sum sessionization in SQL."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )




def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30 (stream-static join): enrich the event stream against a
    STATIC dimension — the canonical streaming-enrichment shape (click
    stream x user table). The static side re-resolves per micro-batch
    and Catalyst broadcasts it under the join, so the stream side never
    shuffles for the join; only the windowless aggregate exchanges. At
    100 TB/day the same plan holds with the dimension in the relative
    table format (each micro-batch reads the CURRENT snapshot — slowly
    changing dimensions come for free)."""
    src = _stage_events(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .parquet(src)
        .join(customer, "user_id")  # stream-static: static side broadcast
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias("sum_value"),
        )
    )
    return _run_to_memory(stream, "complete")


def q_stream_from_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30 (mirror CDC tail — the consumption half of
    b30_stream_to_iceberg's production half): register the
    ``iceberg_mirror`` streaming source, build a mirror with one export
    era and two ``append_iceberg`` eras plus an interleaved
    rewrite_manifests (a ``replace`` snapshot the tail must pass over
    without emitting), then tail it to completion. Offsets are
    snapshot-log positions + the max consumed data sequence, so the
    micro-batches replay the mirror's commit history exactly; a
    downstream pipeline gets each appended era once. The memory sink's
    content (= every row ever appended) is the oracle surface."""
    import tempfile as _tf

    from iceberg_relative_io_spark.catalog import (
        FsCatalog,
        RelativeTable,
        iceberg_export,
    )
    from iceberg_relative_io_spark.sources.iceberg_mirror_source import (
        IcebergMirrorDataSource,
    )

    try:
        spark.dataSource.register(IcebergMirrorDataSource)
    except Exception:
        pass  # already registered in this session
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    cat = FsCatalog(_tf.mkdtemp(prefix="mirror_tail_wh_"))
    cat.create_namespace(("ns",))
    ops = cat.create_table(("ns",), "tail", cust.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(cust.filter(F.col("c_custkey") % 3 == 0))
    dest = _tf.mkdtemp(prefix="mirror_tail_")
    iceberg_export.export_iceberg(table, dest)
    iceberg_export.append_iceberg(
        spark, dest, cust.filter(F.col("c_custkey") % 3 == 1)
    )
    iceberg_export.rewrite_manifests_iceberg(dest)  # replace: no rows
    iceberg_export.append_iceberg(
        spark, dest, cust.filter(F.col("c_custkey") % 3 == 2)
    )
    stream = (
        spark.readStream.format("iceberg_mirror").option("path", dest).load()
    )
    return _run_to_memory(stream, "append")


def q_stream_backpressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30 (admission control): a RUNNING tail of a native table falls
    behind a multi-snapshot, multi-file backlog with
    ``max-files-per-trigger`` set — the catch-up is carved into bounded
    micro-batches instead of one giant batch (the 100 TB failure mode:
    a tail that falls behind plans every backlogged file into a single
    batch and latency plus sink-commit size grow unbounded). Three
    2-file appends land after the stream's first batch; at
    max-files-per-trigger=2 the catch-up must take >= 3 micro-batches.
    The oracle checks the content is exactly-once regardless of the
    batching. (The first planned window after reader construction is
    uncapped by design — restart safety; see RelativeStreamReader.)"""
    import tempfile as _tf

    from iceberg_relative_io_spark.catalog import FsCatalog, RelativeTable
    from iceberg_relative_io_spark.sources.relative_datasource import (
        RelativeDataSource,
    )

    try:
        spark.dataSource.register(RelativeDataSource)
    except Exception:
        pass  # already registered in this session

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    cat = FsCatalog(_tf.mkdtemp(prefix="bp_wh_"))
    cat.create_namespace(("bp",))
    ops = cat.create_table(("bp",), "events_log", ev.schema.jsonValue())
    table = RelativeTable(ops)
    table.append(ev.filter(F.col("event_id") % 4 == 0).repartition(1))  # seed

    stream = (
        spark.readStream.format("relative")
        .option("warehouse", cat.warehouse)
        .option("table", "bp.events_log")
        .option("max-files-per-trigger", "2")
        .load()
    )
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _tf.mkdtemp(prefix="ckpt_bp_"))
        .start()
    )
    q.processAllAvailable()  # batch 1: the seed
    for k in range(3):  # the tail falls behind a 6-file backlog
        table.append(
            ev.filter(
                (F.col("event_id") % 4 != 0) & (F.col("event_id") % 3 == k)
            ).repartition(2)
        )
    q.processAllAvailable()  # capped catch-up
    q.stop()
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) >= 4, (
        f"seed + >=3 capped catch-up batches expected, got {len(fed)}"
    )
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias("sum_value"),
        )
    )


QUERIES = {
    "b30_stream_from_iceberg": q_stream_from_iceberg,
    "b30_stream_backpressure": q_stream_backpressure,
    "b30_stream_tumbling_window": q_stream_tumbling_window,
    "b30_stream_sliding_window": q_stream_sliding_window,
    "b31_stream_dedup": q_stream_dedup,
    "b30_stream_stateful_counter": q_stream_stateful_counter,
    "b30_stream_stream_join": q_stream_stream_join,
    "b30_session_window": q_session_window,
    "b30_stream_to_table": q_stream_to_table,
    "b30_stream_to_iceberg": q_stream_to_iceberg,
    "b31_stream_upsert_to_table": q_stream_upsert_to_table,
    "b30_stream_static_join": q_stream_static_join,
}

ORACLE = {
    "b30_stream_from_iceberg": """
        SELECT c_custkey, c_name, c_acctbal FROM customer
    """,
    "b30_stream_backpressure": """
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type
    """,
    "b30_stream_static_join": """
        SELECT c.c_mktsegment, e.event_type,
               count(*) AS n_events,
               CAST(sum(CAST(e.value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """,
    "b31_stream_upsert_to_table": """
        SELECT user_id, event_type, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                           ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
        WHERE rn = 1
    """,
    "b30_stream_to_table": """
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type
    """,
    "b30_stream_to_iceberg": """
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type
    """,
    "b30_stream_tumbling_window": """
        SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS window_start_us,
               event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "b30_stream_sliding_window": """
        WITH days AS (
            SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS d FROM events
        ), starts AS (
            SELECT d AS s FROM days
            UNION ALL
            SELECT d - 86400000000 AS s FROM days
        )
        SELECT s AS window_start_us, count(*) AS n_events
        FROM starts GROUP BY s
    """,
    "b31_stream_dedup": """
        SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type, value
        FROM events
    """,
    "b30_stream_stateful_counter": """
        SELECT user_id, count(*) AS n_events, max(value) AS max_value
        FROM events GROUP BY user_id
    """,
    "b30_stream_stream_join": """
        SELECT p.event_id AS p_id,
               p.user_id,
               epoch_us(CAST(p.ts AS TIMESTAMP)) AS purchase_ts_us,
               epoch_us(CAST(c.ts AS TIMESTAMP)) AS click_ts_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id
         AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
         AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
    """,
    # registered when TWS is runnable (see register_optional_queries)
    "b30_stream_tws_user_stats": """
        SELECT user_id, count(*) AS n_events,
               min(value) AS min_value, max(value) AS max_value
        FROM events GROUP BY user_id
    """,
    "b30_session_window": """
        WITH t AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                   lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) AS prev_ts
            FROM events
        ), marked AS (
            SELECT user_id, ts,
                   CASE WHEN prev_ts IS NULL
                             OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
            FROM t
        ), sessions AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM marked
        )
        SELECT user_id, epoch_us(min(ts)) AS session_start_us, count(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
    """,
}
