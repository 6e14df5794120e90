"""Streaming layer tests (T1-T4): rate-source features through
latest-state, windowed density, continuous query, and the lambda
persist tick with manifest commits."""

from __future__ import annotations

import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from geomesa_spark.streaming.live import (
    continuous_query,
    latest_state,
    persist_tick,
    rate_features,
    windowed_density,
    with_cell_key,
)


def _wait_rows(q, check, timeout=60):
    """Sleep-poll until check() is true or ``timeout`` seconds pass. Not
    processAllAvailable: against a continuous rate source it returns only
    once a micro-batch outpaces the source, so a slow host made it wait
    without bound and the deadline was never checked."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if check():
            return True
        time.sleep(1)
    return check()


@pytest.fixture()
def stream(spark):
    return rate_features(spark, rows_per_sec=200)


class TestStreaming:
    def test_latest_state_keeps_newest(self, spark, stream):
        q = (
            latest_state(stream, watermark="10 seconds")
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("latest_t")
            .start()
        )
        try:
            ok = _wait_rows(
                q, lambda: spark.sql("SELECT count(*) c FROM latest_t").collect()[0].c > 50
            )
            assert ok
            dup = spark.sql(
                "SELECT __fid__, count(*) c FROM latest_t GROUP BY 1 HAVING count(*) > 1"
            ).collect()
            assert dup == []  # exactly one (newest) row per fid
        finally:
            q.stop()

    def test_stream_dedup_content_hash(self, spark, stream):
        from geomesa_spark.streaming.live import stream_dedup

        q = (
            stream_dedup(stream, text_col="name", watermark="10 minutes")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("sdedup_t")
            .start()
        )
        try:
            ok = _wait_rows(
                q, lambda: spark.sql("SELECT count(*) c FROM sdedup_t").collect()[0].c > 0
            )
            assert ok
            rows, distinct = spark.sql(
                "SELECT count(*) c, count(DISTINCT name) d FROM sdedup_t"
            ).collect()[0]
            # every surviving record is the first arrival of its content
            assert rows == distinct
        finally:
            q.stop()

    def test_stream_dedup_arg_validation(self, stream):
        from geomesa_spark.streaming.live import stream_dedup

        with pytest.raises(ValueError):
            stream_dedup(stream)
        with pytest.raises(ValueError):
            stream_dedup(stream, key_cols=["name"], text_col="name")

    def test_windowed_density_cells(self, spark, stream):
        q = (
            windowed_density(stream, bits=4, window="5 seconds", watermark="5 seconds")
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("dens_t")
            .start()
        )
        try:
            ok = _wait_rows(
                q, lambda: spark.sql("SELECT count(*) c FROM dens_t").collect()[0].c > 5
            )
            assert ok
            bad = spark.sql("SELECT * FROM dens_t WHERE cell < 0 OR cell >= 256").collect()
            assert bad == []
        finally:
            q.stop()

    def test_continuous_query_listener(self, spark, stream, tmp_path):
        hits = []
        keyed = with_cell_key(stream, bits=4)
        q = continuous_query(
            keyed,
            F.col("lon") < 0,
            lambda df, epoch: hits.append(df.count()),
            "cq_t",
            checkpointLocation=str(tmp_path / "cq_ckpt"),
        )
        try:
            assert _wait_rows(q, lambda: sum(hits) > 20)
        finally:
            q.stop()

    def test_track_state_accumulates(self, spark, stream, tmp_path):
        from geomesa_spark.streaming.live import track_state

        q = (
            track_state(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("trk_t")
            .option("checkpointLocation", str(tmp_path / "trk_ckpt"))
            .start()
        )
        try:
            ok = _wait_rows(
                q,
                lambda: spark.sql(
                    "SELECT count(*) c FROM trk_t WHERE n_updates >= 2 AND track_m > 0"
                ).collect()[0].c
                > 10,
                timeout=120,
            )
            assert ok
            # state accumulates monotonically per fid across updates
            r = spark.sql(
                """SELECT fid, max(n_updates) mx, min(n_updates) mn FROM trk_t
                   GROUP BY fid HAVING count(*) > 1 LIMIT 5"""
            ).collect()
            assert all(x.mx >= x.mn for x in r) and len(r) > 0
        finally:
            q.stop()

    def test_persist_tick_writes_manifest(self, spark, stream, tmp_path):
        from geomesa_spark.sources.catalog import latest_manifest

        out = str(tmp_path / "tiles")
        q = persist_tick(stream, out, checkpoint=str(tmp_path / "ckpt"), bits=4)
        try:
            ok = _wait_rows(
                q,
                lambda: latest_manifest(out) is not None
                and len(glob.glob(os.path.join(out, "epoch=*", "cell=*"))) > 0,
            )
            assert ok
            m = latest_manifest(out)
            assert m["lineage"]["source"] == "stream"
            n = spark.read.parquet(out).count()
            assert n > 0
        finally:
            q.stop()

    def test_kafka_source_gated(self, spark):
        """No kafka connector jar in this sandbox: the constructor must
        gate with a clear error (or build a plan where the jar exists)."""
        from geomesa_spark.streaming.live import kafka_features

        try:
            df = kafka_features(spark, "localhost:9092", "features")
            assert "__fid__" in df.columns  # jar present: schema path intact
        except RuntimeError as e:
            assert "spark-sql-kafka" in str(e)

    def test_live_spatial_join_stream_static(self, spark, stream, tmp_path):
        """Stream-static spatial join: rate-source points against a
        static polygon layer, matched rows arrive per micro-batch with
        exact refinement."""
        from geomesa_spark.streaming.live import live_spatial_join
        from geomesa_spark.tables import poly_layers

        polys = poly_layers(spark, 100)
        joined = live_spatial_join(stream, polys, bits=5)
        seen = []

        q = joined.writeStream.foreachBatch(
            lambda df, eid: seen.append(df.select("__fid__", "poly_id").collect())
        ).option("checkpointLocation", str(tmp_path / "lsj_ckpt")).start()
        try:
            ok = _wait_rows(q, lambda: sum(len(b) for b in seen) > 0)
            assert ok
        finally:
            q.stop()
        got = {(r["__fid__"], r["poly_id"]) for b in seen for r in b}
        assert len(got) > 0

    def test_flush_epoch_replay_is_idempotent(self, spark, tmp_path):
        """foreachBatch is at-least-once: replaying a committed epoch
        must not duplicate rows (ADVICE round-1)."""
        from geomesa_spark.streaming.live import flush_epoch

        out = str(tmp_path / "epochs")
        df = with_cell_key(
            spark.range(0, 50).select(
                F.format_string("f-%d", F.col("id")).alias("__fid__"),
                (F.col("id") * 3.0 - 60.0).alias("lon"),
                (F.col("id") * 1.0 - 25.0).alias("lat"),
            ),
            bits=4,
        )
        assert flush_epoch(df, out, 7, bits=4) == 50
        assert flush_epoch(df, out, 7, bits=4) is None  # replay skipped
        assert spark.read.parquet(out).count() == 50
        # a different epoch appends its own directory
        assert flush_epoch(df, out, 8, bits=4) == 50
        assert spark.read.parquet(out).count() == 100


class TestFileSource:
    def test_file_stream_e2e_latest_state(self, spark, tmp_path):
        """S5 without a broker: JSON-lines files consumed incrementally
        through the SAME value→from_json parse path as Kafka; a second
        file (newer dtg per fid) must win in latest_state."""
        import json
        import os

        from geomesa_spark.streaming.live import file_features, latest_state

        src = tmp_path / "feed"
        src.mkdir()

        def write(name, rows):
            p = src / f"_{name}.tmp"
            with open(p, "w") as f:
                for r in rows:
                    f.write(json.dumps(r) + "\n")
            os.rename(p, src / name)  # atomic appear

        write("b0.json", [
            {"__fid__": f"f-{i}", "dtg": "2024-01-01 00:00:00",
             "lon": float(i), "lat": 1.0, "name": "old"} for i in range(5)
        ])
        feats = file_features(spark, str(src))
        q = (
            latest_state(feats, watermark="10 minutes")
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("file_latest")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {r["__fid__"]: r["name"] for r in spark.sql(
                "SELECT * FROM file_latest").collect()}
            assert len(got) == 5 and set(got.values()) == {"old"}
            write("b1.json", [
                {"__fid__": "f-1", "dtg": "2024-01-01 01:00:00",
                 "lon": 99.0, "lat": 2.0, "name": "new"},
                {"__fid__": "f-9", "dtg": "2024-01-01 01:00:00",
                 "lon": 9.0, "lat": 9.0, "name": "new"},
            ])
            q.processAllAvailable()
            rows = {r["__fid__"]: r for r in spark.sql(
                "SELECT * FROM file_latest").collect()}
            assert len(rows) == 6
            assert rows["f-1"]["name"] == "new" and rows["f-1"]["lon"] == 99.0
            assert rows["f-0"]["name"] == "old"
        finally:
            q.stop()

    @pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
    def test_stream_equals_batch_lambda_merge(self, spark, tmp_path, provider):
        """Stream-vs-batch equivalence (the oracle contract can't cover
        T1-T4, foreachBatch outputs can): persist_tick's cell-keyed
        parquet and latest_state's memory sink, driven by the file-backed
        stream, must both reduce to exactly the batch latest-wins merge
        (the lambda_merge shape) computed from the same raw input.

        Parametrized over the state store provider (r4 verdict item 6):
        the RocksDB run proves the off-heap store — the one a 100 TB
        keyspace needs — yields byte-identical state, and the checkpoint
        artifacts prove the provider actually engaged."""
        import json
        import os

        from pyspark.sql import Window

        from geomesa_spark.streaming.live import (
            file_features,
            latest_state,
            parse_feature_stream,
            persist_tick,
            use_rocksdb_state,
        )

        prev_provider = use_rocksdb_state(spark, enabled=(provider == "rocksdb"))

        src = tmp_path / "feed"
        src.mkdir()

        def write(name, rows):
            p = src / f"_{name}.tmp"
            with open(p, "w") as f:
                for r in rows:
                    f.write(json.dumps(r) + "\n")
            os.rename(p, src / name)

        write("b0.json", [
            {"__fid__": f"f-{i}", "dtg": f"2024-01-01 00:0{i}:00",
             "lon": float(i * 3 - 60), "lat": float(i * 2 - 40), "name": "v0"}
            for i in range(8)
        ])
        out = str(tmp_path / "tiles")
        sink = f"eq_latest_{provider}"
        feats = file_features(spark, str(src))
        try:
            qp = persist_tick(feats, out, checkpoint=str(tmp_path / "ck1"), bits=4)
            ql = (
                latest_state(file_features(spark, str(src)), watermark="10 minutes")
                .writeStream.outputMode("complete")
                .format("memory")
                .queryName(sink)
                .option("checkpointLocation", str(tmp_path / "ck2"))
                .start()
            )
            try:
                qp.processAllAvailable()
                ql.processAllAvailable()
                # batch 2: updates for half the fids + one new fid
                write("b1.json", [
                    {"__fid__": f"f-{i}", "dtg": f"2024-01-01 01:0{i}:00",
                     "lon": float(i), "lat": float(-i), "name": "v1"}
                    for i in (0, 2, 4, 8)
                ])
                qp.processAllAvailable()
                ql.processAllAvailable()
            finally:
                qp.stop()
                ql.stop()
        finally:
            # restore the shared session's provider for other tests
            if prev_provider is None:
                try:
                    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
                except Exception:
                    pass
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev_provider
                )

        # the checkpoint proves which store ran: RocksDB snapshots as
        # version zips (+ optional changelogs); the HDFS store as deltas
        names = [p.name for p in (tmp_path / "ck2" / "state").rglob("*")]
        if provider == "rocksdb":
            assert any(n.endswith((".zip", ".changelog")) for n in names), names
            assert not any(n.endswith(".delta") for n in names), names
        else:
            assert any(n.endswith(".delta") for n in names), names

        # batch truth: same parse path on the same raw files, then the
        # lambda_merge latest-wins window (newest dtg per fid)
        raw = parse_feature_stream(spark.read.text(str(src)))
        w = Window.partitionBy("__fid__").orderBy(F.col("dtg").desc())
        batch = (
            raw.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("__fid__", "dtg", "lon", "lat", "name")
        )
        want = {tuple(map(str, r)) for r in batch.collect()}
        assert len(want) == 9

        # (a) the persisted lambda layer reduces to the same state
        persisted = spark.read.parquet(out).select("__fid__", "dtg", "lon", "lat", "name")
        merged = (
            persisted.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        got_persist = {tuple(map(str, r)) for r in merged.collect()}
        assert got_persist == want

        # (b) the streaming latest_state agrees row-for-row
        got_stream = {
            tuple(map(str, r))
            for r in spark.sql(
                f"SELECT __fid__, dtg, lon, lat, name FROM {sink}"
            ).collect()
        }
        assert got_stream == want


class TestRocksDbStatefulOperator:
    def test_track_state_under_rocksdb(self, spark, stream, tmp_path):
        """The applyInPandasWithState accumulator (custom stateful
        operator) also runs on the RocksDB provider — the off-heap
        store a 10^9-key track table needs. Same shape as the baseline
        track_state test (rate source + sleep-polling: stateful queries
        over a continuous source must not be drained with
        processAllAvailable — and independent of the provider, a
        file-source + processAllAvailable drive of this operator hangs
        batch 0 in this Spark build, so the polling pattern is the
        supported one). Checkpoint artifacts prove RocksDB engaged."""
        from geomesa_spark.streaming.live import track_state, use_rocksdb_state

        prev = use_rocksdb_state(spark, enabled=True)
        try:
            q = (
                track_state(stream)
                .writeStream.outputMode("update")
                .format("memory")
                .queryName("trk_rocks")
                .option("checkpointLocation", str(tmp_path / "ck"))
                .start()
            )
            try:
                ok = _wait_rows(
                    q,
                    lambda: spark.sql(
                        "SELECT count(*) c FROM trk_rocks WHERE n_updates >= 2 AND track_m > 0"
                    ).collect()[0].c
                    > 10,
                    timeout=120,
                )
                assert ok
            finally:
                q.stop()
        finally:
            if prev is None:
                try:
                    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
                except Exception:
                    pass
            else:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

        # the checkpoint proves RocksDB actually held the state
        names = [p.name for p in (tmp_path / "ck" / "state").rglob("*")]
        assert any(n.endswith((".zip", ".changelog")) for n in names), names
