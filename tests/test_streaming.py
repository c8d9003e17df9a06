"""Streaming tests: bounded file-stream through the parse pipeline with
watermarked windowed aggregates, foreachBatch into the batch sinks, and
schema hot-reload between micro-batches."""

import json
import os

import pytest
from pyspark.sql import functions as F

from logparse_rs_spark import fixtures
from logparse_rs_spark.streaming.stream import (
    HotReloadingSchema,
    read_pages_stream,
    run_stream_to_memory,
    stream_pipeline,
)

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
SCHEMA = os.path.join(ROOT, "schemas", "schema.json")


@pytest.fixture(scope="module")
def stream_src(tmp_path_factory):
    src = tmp_path_factory.mktemp("stream_src")
    # two files -> at least two micro-batches with maxFilesPerTrigger=1
    fixtures.write_pages_parquet(str(src / "a.parquet"), 30, seed=1)
    fixtures.write_pages_parquet(str(src / "b.parquet"), 30, seed=2)
    return str(src)


class TestStreaming:
    def test_windowed_counts_match_batch(self, spark, stream_src, full_schema):
        out = run_stream_to_memory(spark, stream_src, SCHEMA,
                                   query_name="t_counts")
        got = {r["log_type"]: 0 for r in out.collect()}
        for r in out.collect():
            got[r["log_type"]] += r["n"]
        # batch reference over the same files
        from logparse_rs_spark.operators.parse import parse_pages
        batch = parse_pages(spark.read.parquet(stream_src), full_schema)
        want = {r["log_type"]: r["count"]
                for r in batch.filter("status='ok'")
                .groupBy("log_type").count().collect()}
        assert got == want

    def test_foreach_batch_into_sinks(self, spark, stream_src, tmp_path):
        seen = {"epochs": 0, "rows": 0}
        stream = read_pages_stream(spark, stream_src, max_files_per_trigger=1)

        def batch_fn(parsed, epoch_id, schema):
            seen["epochs"] += 1
            seen["rows"] += parsed.filter("status = 'ok'").count()

        q = stream_pipeline(spark, stream, SCHEMA,
                            str(tmp_path / "ckpt"), batch_fn).start()
        q.awaitTermination()
        assert seen["epochs"] >= 2  # one per file
        from logparse_rs_spark.operators.parse import parse_pages
        from logparse_rs_spark.schema import load_schema
        want = parse_pages(spark.read.parquet(stream_src),
                           load_schema(SCHEMA)).filter("status='ok'").count()
        assert seen["rows"] == want

    def test_checkpoint_no_reprocessing(self, spark, stream_src, tmp_path):
        counts = []
        stream = read_pages_stream(spark, stream_src)

        def batch_fn(parsed, epoch_id, schema):
            counts.append(parsed.count())

        ckpt = str(tmp_path / "ckpt2")
        q = stream_pipeline(spark, stream, SCHEMA, ckpt, batch_fn).start()
        q.awaitTermination()
        first_total = sum(counts)
        assert first_total > 0
        counts.clear()
        # restart with same checkpoint: no new files -> nothing reprocessed
        stream2 = read_pages_stream(spark, stream_src)
        q2 = stream_pipeline(spark, stream2, SCHEMA, ckpt, batch_fn).start()
        q2.awaitTermination()
        assert sum(counts) == 0

    def test_schema_hot_reload(self, tmp_path):
        p = tmp_path / "schema.json"
        p.write_text(json.dumps({"log_types": {"A": ["f0", "f1"]}}))
        r = HotReloadingSchema(str(p))
        assert set(r.get().type_to_fields) == {"A"}
        # rewrite with a different mtime
        os.utime(p, (1, 1))
        p.write_text(json.dumps({"log_types": {"B": ["f0"]}}))
        assert set(r.get().type_to_fields) == {"B"}


class TestSocketIngest:
    """Reference S4 network path: socket line ingest -> parse -> counts."""

    def test_socket_lines_counted(self, spark):
        import socket
        import threading
        import time

        from logparse_rs_spark.schema import load_schema
        from logparse_rs_spark.streaming.stream import (read_lines_socket,
                                                        socket_type_counts)

        exemplar = ("1,2012/10/30 09:46:12,01606001116,TRAFFIC,start,1,"
                    "2012/04/10 04:39:58,192.168.0.2,204.232.231.46,"
                    "0.0.0.0,0.0.0.0,rule1,crusher,,web-browsing,vsys1")
        system_line = "x,y,z,SYSTEM,s,t"
        payload = "\n".join([exemplar, system_line, exemplar, "bad,line"]) + "\n"

        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind(("127.0.0.1", 0))
        port = srv.getsockname()[1]
        srv.listen(1)
        stop = threading.Event()

        def serve():
            conn, _ = srv.accept()
            conn.sendall(payload.encode())
            stop.wait(30)           # keep the connection open until stopped
            conn.close()

        t = threading.Thread(target=serve, daemon=True)
        t.start()

        schema = load_schema(SCHEMA)
        lines = read_lines_socket(spark, "127.0.0.1", port)
        agg = socket_type_counts(lines, schema)
        q = (agg.writeStream.outputMode("complete")
             .format("memory").queryName("socket_counts")
             .trigger(processingTime="1 second")
             .start())
        try:
            deadline = time.time() + 60
            got = {}
            while time.time() < deadline:
                got = {r["log_type"]: r["n"] for r in
                       spark.sql("SELECT * FROM socket_counts").collect()}
                if got.get("TRAFFIC") == 2 and got.get("SYSTEM") == 1:
                    break
                time.sleep(0.5)
            assert got.get("TRAFFIC") == 2
            assert got.get("SYSTEM") == 1
            assert "bad" not in got  # malformed line never counted
        finally:
            q.stop()
            stop.set()
            srv.close()


class TestStreamingDedup:
    def test_cross_batch_suppression(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from logparse_rs_spark.streaming.stateful import streaming_exact_dedup

        src = tmp_path / "docs_stream"
        src.mkdir()
        # batch 1: docs 0-2 (2 is a dup of 0 modulo whitespace/case)
        pq.write_table(pa.table({
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": pa.array(["Hello  World", "unique one", "hello world"]),
        }), str(src / "b1.parquet"))
        # batch 2: doc 3 dups batch-1's text, doc 4 is new
        pq.write_table(pa.table({
            "doc_id": pa.array([3, 4], pa.int64()),
            "text": pa.array(["HELLO WORLD", "another new doc"]),
        }), str(src / "b2.parquet"))

        stream = (spark.readStream
                  .schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(src)))
        out = streaming_exact_dedup(stream)
        # UPDATE mode (native streaming min-agg): a text key touched by
        # several batches re-emits once per touching batch; the survivor
        # set is the min-rollup over the sink rows
        q = (out.writeStream.outputMode("update")
             .format("memory").queryName("dedup_stream")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        rows = spark.sql(
            "SELECT text_key, MIN(doc_id) AS doc_id FROM dedup_stream "
            "GROUP BY text_key").collect()
        survivors = sorted(r["doc_id"] for r in rows)
        # one survivor per distinct normalized text, min id wins
        assert survivors == [0, 1, 4]
        assert len(survivors) == 3

    def test_restart_from_checkpoint_exactly_once(self, spark, tmp_path):
        # M4 for the stateful path: stop after batch 1, add a second file,
        # restart from the SAME checkpoint — state must carry across the
        # restart (cross-restart dups suppressed, nothing re-emitted).
        # memory sinks cannot resume, so the output goes to parquet.
        import pyarrow as pa
        import pyarrow.parquet as pq

        from logparse_rs_spark.streaming.stateful import streaming_exact_dedup

        src = tmp_path / "docs_stream_ckpt"
        src.mkdir()
        out = str(tmp_path / "dedup_out")
        ckpt = str(tmp_path / "dedup_ckpt")
        pq.write_table(pa.table({
            "doc_id": pa.array([0, 1], pa.int64()),
            "text": pa.array(["alpha beta", "gamma delta"]),
        }), str(src / "b1.parquet"))

        def run_once():
            stream = (spark.readStream
                      .schema("doc_id long, text string")
                      .option("maxFilesPerTrigger", 1).parquet(str(src)))

            # file sinks only support append; update-mode rows land via
            # foreachBatch (the standard update-mode-to-files pattern)
            def sink(batch_df, _bid):
                batch_df.write.mode("append").parquet(out)

            q = (streaming_exact_dedup(stream).writeStream
                 .outputMode("update").foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()

        run_once()   # processes b1, then stops (availableNow drains)
        pq.write_table(pa.table({
            "doc_id": pa.array([2, 3], pa.int64()),
            "text": pa.array(["ALPHA   BETA", "epsilon zeta"]),
        }), str(src / "b2.parquet"))
        run_once()   # restart: must process ONLY b2, with b1's state live
        from pyspark.sql import functions as F
        raw = spark.read.parquet(out)
        rows = (raw.groupBy("text_key")
                .agg(F.min("doc_id").alias("doc_id")).collect())
        survivors = sorted(r["doc_id"] for r in rows)
        # 2 dups 0 across the restart boundary -> its re-emission after
        # the restart must carry b1's surviving id (state carried), and
        # doc 2 must NOT surface as a survivor
        assert survivors == [0, 1, 3]
        # state continuity: every emission of a key carries the same id
        conflicting = (raw.groupBy("text_key")
                       .agg((F.min("doc_id") != F.max("doc_id"))
                            .alias("c")).filter("c").count())
        assert conflicting == 0

    def test_rocksdb_state_store(self, spark, tmp_path):
        # the at-ingest-scale state backend: the same stateful dedup with
        # state in RocksDB (bounded executor heap, incremental checkpoint)
        # instead of the default HDFS-backed in-memory map
        import pyarrow as pa
        import pyarrow.parquet as pq

        from logparse_rs_spark.streaming.stateful import streaming_exact_dedup

        src = tmp_path / "docs_stream_rdb"
        src.mkdir()
        pq.write_table(pa.table({
            "doc_id": pa.array([0, 1], pa.int64()),
            "text": pa.array(["Alpha Beta", "gamma delta"]),
        }), str(src / "b1.parquet"))
        pq.write_table(pa.table({
            "doc_id": pa.array([2, 3], pa.int64()),
            "text": pa.array(["ALPHA  beta", "epsilon zeta"]),
        }), str(src / "b2.parquet"))

        key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(key, None)
        spark.conf.set(
            key, "org.apache.spark.sql.execution.streaming.state."
                 "RocksDBStateStoreProvider")
        try:
            stream = (spark.readStream
                      .schema("doc_id long, text string")
                      .option("maxFilesPerTrigger", 1)
                      .parquet(str(src)))
            q = (streaming_exact_dedup(stream).writeStream
                 .outputMode("update").format("memory")
                 .queryName("dedup_rocksdb")
                 .option("checkpointLocation", str(tmp_path / "ckpt_rdb"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        rows = spark.sql(
            "SELECT text_key, MIN(doc_id) AS doc_id FROM dedup_rocksdb "
            "GROUP BY text_key").collect()
        assert len(rows) == 3  # alpha-beta deduped across batches
        assert sorted(r["doc_id"] for r in rows) == [0, 1, 3]


class TestStreamingSessions:
    def test_matches_python_session_semantics(self, spark, tmp_path):
        # gap-based session_window over a micro-batched event stream must
        # produce exactly the sessions a python replay of the gap rule
        # builds (session extends while next_ts < last_ts + gap; half-open
        # boundary, so an exactly-gap-separated event starts a NEW session)
        import pandas as pd

        from logparse_rs_spark.streaming.stream import streaming_sessions

        ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
              .filter("user_id < 6")
              .select("user_id", "ts", "event_id")
              .toPandas())
        src = tmp_path / "events_stream"
        src.mkdir()
        half = len(ev) // 2
        import pyarrow as pa
        import pyarrow.parquet as pq

        def dump(frame, name):
            pq.write_table(pa.table({
                "user_id": pa.array(frame["user_id"], pa.int64()),
                "ts": pa.array(frame["ts"].astype("datetime64[us]"),
                               pa.timestamp("us")),
                "event_id": pa.array(frame["event_id"], pa.int64()),
            }), str(src / name))

        dump(ev.iloc[:half], "b1.parquet")
        dump(ev.iloc[half:], "b2.parquet")

        stream = (spark.readStream
                  .schema("user_id long, ts timestamp_ntz, event_id long")
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        q = (streaming_sessions(stream)
             .writeStream.outputMode("complete")
             .format("memory").queryName("sessions")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        got = {}
        for r in spark.sql("SELECT * FROM sessions").collect():
            got.setdefault(r["user_id"], []).append(r["n_events"])

        gap_s = 30 * 60
        want = {}
        for uid, grp in ev.sort_values(["user_id", "ts", "event_id"]) \
                          .groupby("user_id"):
            sessions, last, n = [], None, 0
            for ts in grp["ts"]:
                if last is not None and \
                        (ts - last).total_seconds() >= gap_s:
                    sessions.append(n)
                    n = 0
                n += 1
                last = ts
            sessions.append(n)
            want[int(uid)] = sessions
        assert {u: sorted(v) for u, v in got.items()} == \
               {u: sorted(v) for u, v in want.items()}


class TestKafkaPlanShape:
    """S4 closure: the Kafka ingest path is the SAME downstream plan as the
    socket source, hanging off format('kafka'). The connector jars are not
    in this sandbox, so the record->lines projection and the full
    parse->counts plan are exercised over KAFKA_RECORD_SCHEMA-shaped frames
    (the connector's fixed output contract)."""

    def _records(self, spark, lines, topic="logs"):
        import datetime
        from logparse_rs_spark.streaming.stream import KAFKA_RECORD_SCHEMA
        ts = datetime.datetime(2021, 6, 1)
        rows = [(None, ln.encode(), topic, i % 2, i, ts, 0)
                for i, ln in enumerate(lines)]
        return spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)

    def test_lines_contract_matches_socket_source(self, spark):
        from logparse_rs_spark.streaming.stream import kafka_records_to_lines
        lines = kafka_records_to_lines(self._records(spark, ["a,b,c,SYSTEM,x"]))
        assert [f.name for f in lines.schema.fields] == \
            ["url", "line_ordinal", "raw_line"]
        r = lines.first()
        assert r["url"] == "kafka://logs/0"
        assert r["line_ordinal"] == 0
        assert r["raw_line"] == "a,b,c,SYSTEM,x"

    def test_type_counts_over_kafka_records(self, spark):
        from logparse_rs_spark.schema import load_schema
        from logparse_rs_spark.streaming.stream import (
            kafka_records_to_lines, socket_type_counts)
        schema = load_schema(SCHEMA)
        lines = ["x,y,z,SYSTEM,s,e", "x,y,z,SYSTEM,s,e",
                 "1,2021/01/01 00:00:00,01606001116,TRAFFIC,start,1,"
                 "2021/01/01 00:00:00,10.0.0.1,10.0.1.1,0.0.0.0,0.0.0.0,"
                 "r1,u1,,web-browsing,vsys1",
                 "garbage line with no commas to speak of".replace(" ", "")]
        counts = socket_type_counts(
            kafka_records_to_lines(self._records(spark, lines)), schema)
        got = {r["log_type"]: r["n"] for r in counts.collect()}
        assert got == {"SYSTEM": 2, "TRAFFIC": 1}

    def test_read_lines_kafka_requires_connector(self, spark):
        # in this sandbox the kafka DataSource is absent; the reader must
        # fail at source lookup, not silently degrade
        import pytest as _pytest
        from logparse_rs_spark.streaming.stream import read_lines_kafka
        with _pytest.raises(Exception, match="(?i)kafka"):
            read_lines_kafka(spark, "broker:9092", "logs")


class TestStreamStreamIntervalJoin:
    def test_matches_batch_join_across_microbatches(self, spark, tmp_path):
        """Points and intervals arrive in separate micro-batch files in a
        hostile order (a point's matching interval lands in a LATER batch);
        the stream-stream join must still emit exactly the batch answer."""
        import datetime as dt

        from logparse_rs_spark.streaming.stream import streaming_interval_join

        t0 = dt.datetime(2024, 3, 1, 0, 0, 0)

        def ts(minutes):
            return t0 + dt.timedelta(minutes=minutes)

        # intervals: user 1 click@0 (covers [0, 60)), user 1 click@90,
        # user 2 click@10. points: u1@30 (matches click@0 only), u1@59.99…
        # boundary, u1@60 (half-open: does NOT match click@0), u2@5 (before
        # u2's interval -> no match), u2@20 (matches)
        iv_rows = [
            (101, 1, ts(0), ts(60), ts(0)),
            (102, 1, ts(90), ts(150), ts(90)),
            (103, 2, ts(10), ts(70), ts(10)),
        ]
        pt_rows = [
            (201, 1, ts(30)), (202, 1, ts(60)), (203, 2, ts(5)),
            (204, 2, ts(20)), (205, 1, ts(95)),
        ]
        iv_schema = ("click_id long, user_id long, c_start timestamp_ntz, "
                     "c_end timestamp_ntz, c_ts timestamp_ntz")
        pt_schema = "event_id long, user_id long, ts timestamp_ntz"
        iv_dir = tmp_path / "iv"
        pt_dir = tmp_path / "pt"
        # split so the match for point 204 arrives after the point itself
        spark.createDataFrame(iv_rows[:2], iv_schema).coalesce(1) \
            .write.parquet(str(iv_dir / "b0"))
        spark.createDataFrame(iv_rows[2:], iv_schema).coalesce(1) \
            .write.parquet(str(iv_dir / "b1"))
        spark.createDataFrame(pt_rows, pt_schema).coalesce(1) \
            .write.parquet(str(pt_dir / "b0"))

        ivs = (spark.readStream.schema(iv_schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(str(iv_dir) + "/*"))
        pts = (spark.readStream.schema(pt_schema)
               .option("maxFilesPerTrigger", 1)
               .parquet(str(pt_dir) + "/*"))
        joined = streaming_interval_join(pts, ivs, watermark="2 hours")
        q = (joined.writeStream.outputMode("append").format("memory")
             .queryName("ssj_test").trigger(availableNow=True).start())
        q.awaitTermination()
        got = sorted((r["event_id"], r["click_id"])
                     for r in spark.table("ssj_test").collect())
        assert got == [(201, 101), (204, 103), (205, 102)]


class TestStreamingBandRegistry:
    def test_cross_batch_near_dup_suppression(self, spark, tmp_path):
        """A later-batch NEAR-duplicate (one char changed in a long text)
        must lose its band buckets to the earlier doc; a genuinely novel
        doc owns all its buckets."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from logparse_rs_spark.streaming.stateful import (
            streaming_band_registry)

        base = ("the quick brown fox jumps over the lazy dog and keeps "
                "running through the endless deterministic meadow " * 4)
        near = base.replace("meadow", "meadoq", 1)  # 1-char near-dup
        novel = ("completely different content about spark structured "
                 "streaming state stores and arrow batches " * 4)
        src = tmp_path / "band_stream"
        src.mkdir()
        pq.write_table(pa.table({
            "doc_id": pa.array([0], pa.int64()),
            "text": pa.array([base]),
        }), str(src / "b1.parquet"))
        pq.write_table(pa.table({
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array([near, novel]),
        }), str(src / "b2.parquet"))
        import os
        os.utime(str(src / "b1.parquet"), (1_000_000_000, 1_000_000_000))
        os.utime(str(src / "b2.parquet"), (1_000_000_001, 1_000_000_001))

        from pyspark.sql import functions as F

        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        # UPDATE mode (native streaming min-agg): a bucket touched by
        # several batches re-emits once per touching batch — with
        # ascending ids every emission of a key carries the SAME owner
        q = (streaming_band_registry(stream).writeStream
             .outputMode("update").format("memory")
             .queryName("band_reg_test")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        raw = spark.table("band_reg_test")
        # deterministic registry read: min owner per (band, bucket)
        reg = (raw.groupBy("band", "bucket")
               .agg(F.min("doc_id").alias("doc_id")).collect())
        owners = {}
        for r in reg:
            owners.setdefault(r["doc_id"], 0)
            owners[r["doc_id"]] += 1
        # 16 bands per distinct bucket set. doc 0 owns all its 16; doc 2
        # owns all its 16; doc 1 (the near-dup) lost at least one bucket
        # to doc 0 — a doc that shares any band with earlier content is
        # flagged.
        assert owners.get(0) == 16
        assert owners.get(2) == 16
        assert owners.get(1, 0) < 16
        # every re-emission of a key carries the identical owner (the
        # ascending-id staging invariant the deduped read relies on)
        conflicting = (raw.groupBy("band", "bucket")
                       .agg((F.min("doc_id") != F.max("doc_id"))
                            .alias("c")).filter("c").count())
        assert conflicting == 0
