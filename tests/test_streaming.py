"""Structured Streaming parity: the batch operators run unchanged on a
file-source stream, and the drained (availableNow) result equals the batch
result."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from skope_api_spark.operators.windows import sessionized_events
from skope_api_spark.tables import load

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batch_events(spark):
    return load(spark, SF_DIR, "events")


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # the streaming file source needs a directory: symlink the fixture in
    d = tmp_path_factory.mktemp("events_landing")
    (d / "events.parquet").symlink_to(f"{SF_DIR}/events.parquet")
    return str(d)


def _event_stream(spark, landing):
    """The landing dir as a watermarked stream, ``ts`` converted as
    ``tables.load`` converts it (raw ns longs or a naive timestamp)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.readStream.schema(spark.read.parquet(landing).schema).parquet(landing)
    ts = (
        F.expr("timestamp_micros(ts div 1000)")
        if dict(raw.dtypes)["ts"] == "bigint"
        else F.col("ts").cast("timestamp")
    )
    return raw.withColumn("ts", ts).withWatermark("ts", "2 hours")


def _drain(stream_df, *, query_name, checkpoint, output_mode="append"):
    """Run everything available into a memory table, then stop."""
    (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


class TestBatchStreamParity:
    def test_session_window_stream_equals_batch(self, spark, batch_events, events_dir):
        batch = {
            (r.user_id, r.session_start): (r.n_events, r.session_end)
            for r in sessionized_events(batch_events).collect()
        }
        stream = _event_stream(spark, events_dir)
        sess = sessionized_events(stream)
        with tempfile.TemporaryDirectory() as ckpt:
            _drain(
                sess, query_name="sess_test", checkpoint=ckpt, output_mode="complete"
            )
            got = {
                (r.user_id, r.session_start): (r.n_events, r.session_end)
                for r in spark.sql("SELECT * FROM sess_test").collect()
            }
        assert got == batch
        assert len(got) > 0


class TestSessionWindowSemantics:
    def test_native_sessions_match_window_function_sessionize(self, spark, batch_events):
        """F.session_window must agree with the lag-based batch sessionizer
        (operators.windows.sessionize) on session boundaries."""
        from skope_api_spark.operators.windows import sessionize

        native = {
            (r.user_id, r.session_start, r.session_end): r.n_events
            for r in sessionized_events(batch_events, gap="30 minutes").collect()
        }
        lagged = (
            sessionize(
                batch_events,
                ts_col="ts",
                order_by=("ts", "event_id"),
                partition_by=("user_id",),
                gap="30 minutes",
            )
            .groupBy("user_id", "session_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
            )
        )
        derived = {
            (r.user_id, r.session_start, r.session_end): r.n_events
            for r in lagged.collect()
        }
        assert native == derived


class TestStatelessOpsOnStreams:
    def test_chunk_documents_stream_equals_batch(self, spark, tmp_path_factory):
        """chunk_documents is a pure projection (sequence/slice/posexplode),
        so the SAME operator code runs on a readStream unchanged — the
        streaming ingestion shape for chunk-as-you-land pipelines."""
        from skope_api_spark.operators.text import chunk_documents

        d = tmp_path_factory.mktemp("docs_landing")
        (d / "documents.parquet").symlink_to(
            f"{SF_DIR}/documents.parquet"
        )
        batch_docs = spark.read.parquet(str(d))
        batch = {
            (r.doc_id, r.chunk_id): r.chunk_text
            for r in chunk_documents(batch_docs).collect()
        }
        stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(d))
        chunks = chunk_documents(stream_docs)
        with tempfile.TemporaryDirectory() as ckpt:
            _drain(
                chunks, query_name="chunk_stream_test", checkpoint=ckpt
            )
            got = {
                (r.doc_id, r.chunk_id): r.chunk_text
                for r in spark.sql("SELECT * FROM chunk_stream_test").collect()
            }
        assert got == batch
        assert len(got) > 0
