"""Streaming layer tests: watched-directory XML ingest (microbatch EP1) and
event-stream windowed operators fed from a file stream."""

import os

import pyspark.sql.functions as F
import pytest

from nemsis_xml_parser_spark.streaming.events import (
    dedup_within_watermark,
    session_windows,
    tumbling_counts,
)
from nemsis_xml_parser_spark.operators.bookkeeping import read_files_processed
from nemsis_xml_parser_spark.schema import STATUS_ERROR_PARSE, STATUS_OK, STATUS_SKIPPED
from nemsis_xml_parser_spark.streaming.ingest import start_warehouse_stream
from tests.conftest import NEMSIS_XML


@pytest.mark.etl
def test_streaming_xml_ingest(spark, tmp_path):
    watch = tmp_path / "drop"
    watch.mkdir()
    (watch / "f1.xml").write_text(NEMSIS_XML)
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    q = start_warehouse_stream(spark, str(watch), wh, ckpt, deterministic_ids=True)
    q.awaitTermination(120)

    v = spark.read.parquet(os.path.join(wh, "evitals_01"))
    assert v.count() == 1
    assert v.collect()[0]["evitals_01_value"] == "2025-02-15T12:15:00-05:00"

    # second microbatch: replays nothing (checkpointed), new file with the
    # same PCR UUID overwrites
    (watch / "f2.xml").write_text(NEMSIS_XML.replace("98", "99"))
    q2 = start_warehouse_stream(spark, str(watch), wh, ckpt, deterministic_ids=True)
    q2.awaitTermination(120)
    v10 = spark.read.parquet(os.path.join(wh, "evitals_10"))
    assert {r["evitals_10_value"] for r in v10.collect()} == {"99"}


@pytest.mark.etl
def test_stream_microbatches_are_ingest_batches(spark, tmp_path):
    """Each microbatch is one ``ingest_xml_files`` batch: every file gets a
    status in the ``_files_processed`` log, a malformed file is logged as
    failed, a byte-identical copy in a later microbatch is skipped by MD5,
    a name with '#' ingests, and a corrected version replaces its PCR."""
    watch = tmp_path / "drop"
    watch.mkdir()
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    other = NEMSIS_XML.replace("6e5d2c1a-", "7e5d2c1a-")
    (watch / "good.xml").write_text(NEMSIS_XML)
    (watch / "bad.xml").write_text("<open><unclosed>")
    (watch / "hash#1.xml").write_text(other)
    start_warehouse_stream(spark, str(watch), wh, ckpt, deterministic_ids=True
                           ).awaitTermination(120)

    (watch / "copy.xml").write_text(NEMSIS_XML)
    (watch / "fixed.xml").write_text(NEMSIS_XML.replace("98", "99"))
    start_warehouse_stream(spark, str(watch), wh, ckpt, deterministic_ids=True
                           ).awaitTermination(120)

    log = {r["original_file_name"]: r["status"]
           for r in read_files_processed(spark, wh).collect()}
    assert log == {"good.xml": STATUS_OK, "bad.xml": STATUS_ERROR_PARSE,
                   "hash#1.xml": STATUS_OK, "copy.xml": STATUS_SKIPPED,
                   "fixed.xml": STATUS_OK}
    v10 = {(r["pcr_uuid_context"], r["evitals_10_value"])
           for r in spark.read.parquet(os.path.join(wh, "evitals_10")).collect()}
    assert v10 == {("6e5d2c1a-0000-4000-8000-000000000001", "99"),
                   ("7e5d2c1a-0000-4000-8000-000000000001", "98")}


def _event_stream(spark, tmp_path):
    src = tmp_path / "events_src"
    src.mkdir()
    rows = [
        (1, "2024-01-01 10:05:00", 7, "click", 1.0),
        (2, "2024-01-01 10:20:00", 7, "click", 2.0),
        (3, "2024-01-01 11:05:00", 8, "view", 3.0),
        (1, "2024-01-01 10:05:00", 7, "click", 1.0),  # duplicate event_id
    ]
    import pandas as pd

    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).to_json(src / "batch.json", orient="records", lines=True)
    schema = "event_id long, ts string, user_id long, event_type string, value double"
    return (
        spark.readStream.schema(schema)
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def _run_to_memory(df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_counts_stream(spark, tmp_path):
    ev = _event_stream(spark, tmp_path)
    # complete mode: a single availableNow batch never advances the
    # watermark past its own windows, so append would emit nothing
    _run_to_memory(tumbling_counts(ev, "1 hour", "2 hours"), "tumb", mode="complete")
    out = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM tumb").collect()
    }
    assert out[("2024-01-01 10:00:00", "click")] == 3
    assert out[("2024-01-01 11:00:00", "view")] == 1


def test_session_windows_stream(spark, tmp_path):
    ev = _event_stream(spark, tmp_path)
    _run_to_memory(session_windows(ev, "30 minutes", "2 hours"), "sess", mode="complete")
    rows = spark.sql("SELECT * FROM sess").collect()
    by_user = {r["user_id"]: r["n_events"] for r in rows}
    assert by_user[7] == 3  # 10:05 & 10:20 within one 30-min-gap session
    assert by_user[8] == 1


def test_dedup_within_watermark_stream(spark, tmp_path):
    ev = _event_stream(spark, tmp_path)
    _run_to_memory(dedup_within_watermark(ev, "2 hours"), "dedup")
    rows = spark.sql("SELECT * FROM dedup").collect()
    assert len(rows) == 3  # duplicate event_id=1 dropped


def test_sliding_counts_stream(spark, tmp_path):
    from nemsis_xml_parser_spark.streaming.events import sliding_counts

    ev = _event_stream(spark, tmp_path)
    _run_to_memory(
        sliding_counts(ev, "1 hour", "30 minutes", "2 hours"), "slide", mode="complete"
    )
    out = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM slide").collect()
    }
    # 10:05 & 10:20 clicks land in both the [09:30,10:30) and [10:00,11:00)
    # sliding windows (overlap = the point of sliding vs tumbling)
    assert out[("2024-01-01 09:30:00", "click")] == 3
    assert out[("2024-01-01 10:00:00", "click")] == 3
    assert out[("2024-01-01 11:00:00", "view")] == 1


def test_dedup_stream_by_fingerprint(spark, tmp_path):
    from nemsis_xml_parser_spark.streaming.events import dedup_stream_by_fingerprint
    import pandas as pd

    src = tmp_path / "docs_src"
    src.mkdir()
    rows = [
        (1, "2024-01-01 10:00:00", "hello  world"),
        (2, "2024-01-01 10:01:00", "Hello World"),   # same fingerprint (case/ws)
        (3, "2024-01-01 10:02:00", "different doc"),
    ]
    pd.DataFrame(rows, columns=["doc_id", "ts", "text"]).to_json(
        src / "b.json", orient="records", lines=True
    )
    stream = (
        spark.readStream.schema("doc_id long, ts string, text string")
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    _run_to_memory(dedup_stream_by_fingerprint(stream), "docdedup")
    kept = {r["doc_id"] for r in spark.sql("SELECT * FROM docdedup").collect()}
    assert kept == {1, 3}  # doc 2 is a near-dup of doc 1 (case/whitespace)


def test_dedup_stream_by_minhash(spark, tmp_path):
    from nemsis_xml_parser_spark.streaming.events import dedup_stream_by_minhash
    import pandas as pd

    src = tmp_path / "mh_src"
    src.mkdir()
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "2024-01-01 10:00:00", base),
        (2, "2024-01-01 10:01:00", base),            # identical → same signature
        (3, "2024-01-01 10:02:00", "completely unrelated text about spark"),
    ]
    pd.DataFrame(rows, columns=["doc_id", "ts", "text"]).to_json(
        src / "b.json", orient="records", lines=True
    )
    stream = (
        spark.readStream.schema("doc_id long, ts string, text string")
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    _run_to_memory(dedup_stream_by_minhash(stream), "mhdedup")
    kept = {r["doc_id"] for r in spark.sql("SELECT * FROM mhdedup").collect()}
    assert kept == {1, 3}  # doc 2 collapses to doc 1's signature


def test_minhash_pandas_signature_parity(spark):
    # the vectorized mapInPandas signature must be BYTE-IDENTICAL to the
    # built-in-expression formulation on every text shape: duplicates,
    # whitespace variants, short/empty docs, unicode, tab/newline runs
    from nemsis_xml_parser_spark.functions import hashing as H
    from nemsis_xml_parser_spark.functions import text as T
    from nemsis_xml_parser_spark.streaming.events import (
        minhash_sig_strings_pandas,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "the quick  brown\tfox jumps\nover the lazy dog again and again",
        "a b",             # under shingle length -> sentinel signature
        "",                # empty -> sentinel
        "   ",             # whitespace only -> sentinel
        "one two three",   # exactly one shingle
        "héllo wörld über tokens naïve café crème brûlée encore",
        "x " * 50,         # heavy repetition -> one distinct shingle
        # ADVICE r13 family: boundary UNICODE whitespace + attached
        # control chars — argless str.strip() would remove U+00A0 /
        # U+2028 that the ASCII-\s expression form keeps inside tokens
        " alpha beta gamma delta epsilon tokens here ",
        "\x01ctrl attached words one two three four\x1f",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    shingles = F.array_distinct(T.word_ngrams(F.col("text"), 3))
    jvm_sig = F.concat_ws(
        ",",
        H.minhash_signature_from_pairs(
            H.shingle_hash_pairs(shingles), 16
        ).cast("array<string>"),
    )
    jvm = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", jvm_sig.alias("s")).collect()
    }
    pnd = {
        r["doc_id"]: r["__sig"]
        for r in minhash_sig_strings_pandas(df, "text", 16).collect()
    }
    assert jvm == pnd


def test_dedup_stream_by_minhash_expression_path(spark, tmp_path):
    # the vectorized=False (pure JVM expression) path keeps the same
    # dedup behavior
    from nemsis_xml_parser_spark.streaming.events import dedup_stream_by_minhash
    import pandas as pd

    src = tmp_path / "mh_src2"
    src.mkdir()
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "2024-01-01 10:00:00", base),
        (2, "2024-01-01 10:01:00", base),
        (3, "2024-01-01 10:02:00", "completely unrelated text about spark"),
    ]
    pd.DataFrame(rows, columns=["doc_id", "ts", "text"]).to_json(
        src / "b.json", orient="records", lines=True
    )
    stream = (
        spark.readStream.schema("doc_id long, ts string, text string")
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    _run_to_memory(
        dedup_stream_by_minhash(stream, vectorized=False), "mhdedupexpr"
    )
    kept = {
        r["doc_id"] for r in spark.sql("SELECT * FROM mhdedupexpr").collect()
    }
    assert kept == {1, 3}
