"""Live layer: Structured Streaming equivalents of the reference's
Kafka feature cache and lambda architecture.

Reference mapping (SURVEY.md §2.9):

- T1 latest-state cache w/ expiry — geomesa-kafka/.../kafka/data/
  KafkaDataStore.scala::createFeatureCache + kafka/index/
  KafkaFeatureCache.scala: consumers keep newest feature per fid with
  time-based expiry. Here: event-time watermark + dedup/window — state
  lives in Spark's state store, expiry = watermark horizon.
- T2 spatial index on the live cache — kafka/index/BucketIndex.scala:
  grid-bucketed in-memory index. Here: the cell-id column IS the
  bucket; continuous queries filter on cell ranges pushed to the
  stream.
- T3 continuous queries / listeners — CQL filters evaluated per
  update. Here: streaming filter + foreachBatch callback.
- T4 lambda persistence tick — geomesa-lambda/.../lambda/data/
  LambdaDataStore.scala: periodically flush transient state to the
  persistent store. Here: writeStream.foreachBatch appending to the
  cell-keyed parquet layout with a manifest commit per batch
  (checkpointLocation makes it exactly-once per epoch).

The streaming source in production is Kafka (`readStream.format
("kafka")` + from_json); tests use the rate source mapped through the
same schema, so everything downstream of ``parse_feature_stream`` is
source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geomesa_spark.operators.extract import grid_cell

__all__ = [
    "use_rocksdb_state",
    "rate_features",
    "file_features",
    "kafka_features",
    "parse_feature_stream",
    "latest_state",
    "stream_dedup",
    "with_cell_key",
    "continuous_query",
    "windowed_density",
    "track_state",
    "persist_tick",
    "flush_epoch",
    "epoch_committed",
    "live_spatial_join",
]

FEATURE_SCHEMA = (
    "__fid__ string, dtg timestamp, lon double, lat double, name string"
)

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def use_rocksdb_state(spark, enabled: bool = True) -> str | None:
    """Flag-gate the streaming state store onto RocksDB for queries
    STARTED AFTER this call (the provider conf is read at query start;
    running queries keep the store they started with — restarting a
    query from a checkpoint written by the other provider is NOT
    supported by Spark, so flip this only with fresh checkpoints).

    Why: the default HDFS-backed provider keeps every key's state
    on-heap per executor — fine at test scale, first-to-die at a
    100 TB / 10^9-key latest-state or dedup keyspace. RocksDB (bundled
    rocksdbjni) keeps state off-heap with incremental checkpoints.
    Returns the previous provider setting (None = Spark default) so
    callers can restore it."""
    from geomesa_spark.session import ROCKSDB_STATE_PROVIDER

    prev = spark.conf.get(_PROVIDER_CONF, None)
    if enabled:
        spark.conf.set(_PROVIDER_CONF, ROCKSDB_STATE_PROVIDER)
    else:
        spark.conf.unset(_PROVIDER_CONF)
    return prev


def rate_features(spark, rows_per_sec: int = 100) -> DataFrame:
    """Deterministic synthetic feature stream from the rate source
    (test/bench stand-in for the Kafka topic)."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_sec).load()
    return rate.select(
        F.format_string("f-%05d", F.col("value") % 1000).alias("__fid__"),
        F.col("timestamp").alias("dtg"),
        ((F.col("value") * 31 % 36000) / 100.0 - 180.0).alias("lon"),
        ((F.col("value") * 53 % 17000) / 100.0 - 85.0).alias("lat"),
        F.format_string("name%d", F.col("value") % 10).alias("name"),
    )


def kafka_features(
    spark,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """S5 production source: Kafka topic → typed feature stream
    (reference KafkaDataStore consumer path). Requires the
    spark-sql-kafka connector jar — absent in this sandbox, so
    construction raises a clear gate error there; everything downstream
    of parse_feature_stream is source-agnostic and tested against the
    rate source."""
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as e:  # connector jar not on the classpath
        raise RuntimeError(
            "kafka_features needs the spark-sql-kafka connector jar "
            "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>)"
        ) from e
    return parse_feature_stream(raw)


def file_features(spark, path: str) -> DataFrame:
    """S5 file-backed streaming source: a directory of JSON-lines files
    consumed INCREMENTALLY (new files become micro-batches) through the
    exact same value-string → from_json parse path as the Kafka source —
    `readStream.text` yields the same one-string-column shape as the
    Kafka value payload, so the ingest path Kafka exercises in
    production is e2e-tested here without a broker (swap the source
    line, keep everything downstream)."""
    raw = spark.readStream.text(path)
    return parse_feature_stream(raw)


def parse_feature_stream(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Kafka value bytes (JSON) → typed feature columns (S5 ingest)."""
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), FEATURE_SCHEMA).alias("f")
    )
    return parsed.select("f.*")


def latest_state(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T1: newest feature per fid within the watermark horizon.

    Streaming dedup keyed on fid keeps FIRST arrival; the reference
    cache keeps NEWEST — so aggregate max(dtg) per fid and join back is
    the general form. For at-most-once-per-fid-per-trigger sources the
    dropDuplicatesWithinWatermark shortcut is equivalent and cheaper;
    we use the aggregate form for correct latest-wins semantics.
    """
    w = stream.withWatermark("dtg", watermark)
    return (
        w.groupBy("__fid__")
        .agg(
            F.max_by(F.struct("dtg", "lon", "lat", "name"), "dtg").alias("f"),
            F.max("dtg").alias("dtg"),
        )
        .select("__fid__", "dtg", "f.lon", "f.lat", "f.name")
    )


def stream_dedup(
    stream: DataFrame,
    key_cols: list[str] | None = None,
    text_col: str | None = None,
    dtg_col: str = "dtg",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — the live leg of operators/dedup.py's
    exact_dedup for an ingest stream: drop records whose key (explicit
    columns, or the md5 content hash of ``text_col``) was already seen
    within the watermark horizon.

    State shape at scale: dropDuplicatesWithinWatermark keeps one state
    row per distinct key, evicted at the watermark — bounded state, no
    full-history growth; the same content-hash key the batch dedup
    groups on, so batch and stream agree on what "duplicate" means.
    """
    if (key_cols is None) == (text_col is None):
        raise ValueError("exactly one of key_cols / text_col")
    w = stream.withWatermark(dtg_col, watermark)
    if text_col is not None:
        w = w.withColumn("__content_hash", F.md5(F.col(text_col)))
        keys = ["__content_hash"]
    else:
        keys = list(key_cols)
    return w.dropDuplicatesWithinWatermark(keys)


def with_cell_key(stream: DataFrame, bits: int = 8) -> DataFrame:
    """T2: bucket the live stream by grid cell (the continuous-query
    spatial index key)."""
    return stream.withColumn("cell", grid_cell(F.col("lon"), F.col("lat"), bits))


def continuous_query(stream: DataFrame, predicate: Column, callback, query_name: str, **start_kw):
    """T3: registered filter evaluated on every update; matches go to
    the listener callback per micro-batch."""
    matches = stream.where(predicate)

    def _fire(batch_df: DataFrame, epoch_id: int):
        callback(batch_df, epoch_id)

    return (
        matches.writeStream.foreachBatch(_fire)
        .queryName(query_name)
        .start(**start_kw)
    )


def windowed_density(
    stream: DataFrame,
    bits: int = 6,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming DensityScan: tumbling event-time window × grid cell →
    count (late data handled by the watermark; the reference has no
    late-data semantics — Z3 time bins are its closest analogue)."""
    s = with_cell_key(stream.withWatermark("dtg", watermark), bits)
    return s.groupBy(F.window("dtg", window).alias("win"), "cell").agg(
        F.count("*").alias("cnt")
    )


def track_state(
    stream: DataFrame,
    ttl_ms: int = 600_000,
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-feature
    trajectory accumulator — keeps each fid's last position and running
    great-circle track length, with processing-time TTL expiry (the
    reference's time-expiring Kafka feature cache, T1, as explicit
    Spark state instead of an executor-local Guava cache).

    Output per micro-batch update: (fid, n_updates, track_m, last_lon,
    last_lat). State is (count, total_m, lon, lat) per fid in the state
    store — checkpointable, rescalable, exactly the stateful shape a
    1000-executor stream would shard by key.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from geomesa_spark.geom import haversine_m

    out_schema = (
        "fid string, n_updates long, track_m double, last_lon double, last_lat double"
    )
    state_schema = "count long, total_m double, lon double, lat double"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        cnt, total, lon, lat = state.get if state.exists else (0, 0.0, None, None)
        for pdf in pdfs:
            pdf = pdf.sort_values("dtg")
            lons = pdf["lon"].to_numpy()
            lats = pdf["lat"].to_numpy()
            if len(lons) == 0:
                continue
            if lon is not None:
                total += float(haversine_m(lon, lat, lons[0], lats[0]))
            if len(lons) > 1:
                total += float(haversine_m(lons[:-1], lats[:-1], lons[1:], lats[1:]).sum())
            lon, lat = float(lons[-1]), float(lats[-1])
            cnt += len(lons)
        state.update((cnt, total, lon, lat))
        state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {"fid": [key[0]], "n_updates": [cnt], "track_m": [total],
             "last_lon": [lon], "last_lat": [lat]}
        )

    return (
        stream.groupBy("__fid__")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def live_spatial_join(
    stream: DataFrame,
    polys: DataFrame,
    bits: int = 6,
    refine: str = "auto",
) -> DataFrame:
    """Stream-static spatial join: live points against a static polygon
    layer (reference: a Kafka layer joined to a store layer in a
    GeoMesa Spark job; here the streaming side keeps Structured
    Streaming semantics end-to-end).

    Same two-phase shape as the batch operator — cell equi-join against
    the broadcast exploded cover, envelope filter, then refine_pip's
    keep-mask filter (a scalar pandas UDF over lon, lat, wkt and the
    exact flag; stateless, so streaming-supported) — so a micro-batch
    plans exactly like the batch join and the static side broadcasts
    once per trigger."""
    from geomesa_spark.operators.joins import cover_cells_for_polys, refine_pip

    cover = F.broadcast(cover_cells_for_polys(polys, bits))
    pts = with_cell_key(stream, bits)
    cand = pts.join(cover, on="cell", how="inner")
    cand = cand.where(
        (F.col("lon") >= F.col("min_lon"))
        & (F.col("lon") <= F.col("max_lon"))
        & (F.col("lat") >= F.col("min_lat"))
        & (F.col("lat") <= F.col("max_lat"))
    )
    drop = ["cell", "wkt", "min_lon", "min_lat", "max_lon", "max_lat"]
    if refine == "never":
        return cand.drop(*drop)
    if refine == "auto" and "kind" in cand.columns:
        cand = cand.withColumn("__exact", F.col("kind") == "bbox")
        return refine_pip(cand, skip_col="__exact").drop(*drop, "__exact")
    return refine_pip(cand).drop(*drop)


def epoch_committed(path: str, epoch_id: int) -> bool:
    """True when a manifest for this epoch has already been committed
    (the durable marker for the idempotent per-epoch sink)."""
    import json
    import os

    mdir = os.path.join(path, "_manifest")
    if not os.path.isdir(mdir):
        return False
    for fn in os.listdir(mdir):
        if fn.startswith("manifest-") and fn.endswith(".json"):
            try:
                with open(os.path.join(mdir, fn)) as f:
                    if json.load(f).get("lineage", {}).get("epoch") == epoch_id:
                        return True
            except Exception:
                continue
    return False


def flush_epoch(batch_df: DataFrame, path: str, epoch_id: int, bits: int) -> int | None:
    """Idempotent per-epoch flush: skip epochs whose manifest already
    committed; otherwise overwrite the epoch's own partition directory
    (``path/epoch=N/cell=M``) and commit its manifest last. Replay after
    any failure point reproduces, never duplicates, the output. The
    batch is persisted so one computation serves both the row count and
    the write. Returns rows written, or None when skipped."""
    from geomesa_spark.sources.catalog import write_manifest

    if epoch_committed(path, epoch_id):
        return None
    out = batch_df.persist()
    rows = out.count()
    out.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/epoch={epoch_id}")
    out.unpersist()
    write_manifest(
        path,
        spec={"layout": "epoch/cell-partitioned", "bits": bits},
        partitions=[{"bucket": int(epoch_id), "rows": int(rows)}],
        lineage={"epoch": int(epoch_id), "source": "stream"},
    )
    return int(rows)


def persist_tick(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    bits: int = 8,
    trigger: dict | None = None,
):
    """T4: lambda persistence — flush the transient stream into the
    cell-keyed parquet layout, one manifest commit per epoch.

    Exactly-once: foreachBatch is at-least-once, so the sink must be
    idempotent per epoch. Each epoch writes its OWN partition directory
    (``path/epoch=N/cell=M``) with mode=overwrite, and a replayed epoch
    whose manifest already committed is skipped outright — re-running
    an epoch can only reproduce, never duplicate, its output. A restart
    resumes from the last committed epoch (the north rule's
    checkpoint-resumability on the streaming path).
    """
    keyed = with_cell_key(stream, bits)

    def _flush(batch_df: DataFrame, epoch_id: int):
        flush_epoch(batch_df, path, int(epoch_id), bits)

    writer = keyed.writeStream.foreachBatch(_flush).option("checkpointLocation", checkpoint)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
