"""Multimodal binary-column plumbing + streaming source/sink API
(O1/O8/O13 write side, and the driver-mandated multimodal extension).
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from left_join_on_timeout_spark.operators.multimodal import (
    decode_dimensions,
    decode_image,
    documents_as_assets,
    extract_features,
    fake_decode,
    sample_frames,
    sniff_type,
)
from left_join_on_timeout_spark.sinks import encode_json_records, start_sink
from left_join_on_timeout_spark.sources.streams import (
    decode_json_records,
    read_keyed_stream,
)

SF_DIR = "/root/testdata/sf0.001"


def _assets(spark):
    return documents_as_assets(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"))


# --- multimodal -------------------------------------------------------------

def test_sniff_type_magics():
    assert sniff_type(b"\x89PNG\r\n\x1a\nrest") == "image/png"
    assert sniff_type(b"\xff\xd8\xff\xe0rest") == "image/jpeg"
    assert sniff_type(b"RIFF....WAVE") == "audio/wav"
    assert sniff_type(b"plain text") == "unknown"
    assert sniff_type(None) == "unknown"
    assert sniff_type(b"") == "unknown"


def test_extract_features_roundtrip(spark):
    """Sniffed container type re-derives media_type; digest/length match
    a driver-side recompute on the same bytes."""
    import hashlib

    feats = extract_features(_assets(spark)).orderBy("asset_id")
    rows = feats.collect()
    raw = {r.asset_id: r.content
           for r in _assets(spark).select("asset_id", "content").collect()}
    assert len(rows) > 0
    for r in rows:
        assert r.sniffed_type == r.media_type
        assert r.byte_len == len(raw[r.asset_id])
        assert r.digest == hashlib.md5(raw[r.asset_id]).hexdigest()
    # content must NOT survive into the feature frame (bytes stay put)
    assert "content" not in feats.columns


def test_sample_frames_shape(spark):
    """Every stride-th fixed-size frame, byte-exact, none past EOF."""
    frames = sample_frames(_assets(spark), frame_size=16, stride=3)
    raw = {r.asset_id: r.content
           for r in _assets(spark).select("asset_id", "content").collect()}
    got = frames.collect()
    assert got
    for r in got:
        content = raw[r.asset_id]
        assert r.frame_no % 3 == 0
        assert bytes(r.frame) == content[r.frame_no * 16:(r.frame_no + 1) * 16]
        assert len(r.frame) == 16
    per_asset = {}
    for r in got:
        per_asset.setdefault(r.asset_id, 0)
        per_asset[r.asset_id] += 1
    for aid, n in per_asset.items():
        assert n == len(range(0, len(raw[aid]) // 16, 3))


def test_sample_frames_validates():
    with pytest.raises(ValueError, match="positive"):
        sample_frames(None, frame_size=0, stride=1)


def test_decode_image_is_gated():
    """The codec stub must be impossible to mistake for a real decoder."""
    try:
        import PIL  # noqa: F401
        pytest.skip("Pillow present — gate not exercised")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_image(b"\x89PNG\r\n\x1a\n")


def test_decode_dimensions_deterministic(spark):
    """fake_decode is content-addressed: same bytes, same dims, on any
    partition; bounds stay in the documented range."""
    dims = decode_dimensions(_assets(spark)).collect()
    raw = {r.asset_id: r.content
           for r in _assets(spark).select("asset_id", "content").collect()}
    for r in dims:
        w, h = fake_decode(raw[r.asset_id])
        assert (r.width, r.height) == (w, h)
        assert 64 <= w < 256 and 64 <= h < 256


# --- sources/sinks ----------------------------------------------------------

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])

ROWS = [(1, "a", dt.datetime(2024, 1, 1)),
        (2, None, dt.datetime(2024, 1, 2)),
        (3, "c", dt.datetime(2024, 1, 3))]


def test_file_stream_source_to_parquet_sink(spark, tmp_path):
    """O1 + O8 end to end: file stream in, durable parquet sink out,
    drained with availableNow — rows survive byte-identical."""
    base = str(tmp_path)
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ck"))
    spark.createDataFrame(ROWS, SCHEMA).write.parquet(src)
    stream = read_keyed_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    assert stream.isStreaming
    q = start_sink(stream, fmt="parquet", path=out, checkpoint=ckpt,
                   trigger_once=True)
    q.awaitTermination(120)
    got = sorted((r.k, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(1, "a"), (2, None), (3, "c")]


def test_encode_decode_json_records(spark):
    """O13 both directions: encode_json_records → Kafka record layout →
    decode_json_records restores the typed columns (null fields kept)."""
    df = spark.createDataFrame(ROWS, SCHEMA).drop("ts")
    records = encode_json_records(df, key_col="k")
    assert records.columns == ["key", "value"]
    vals = {r.key: r.value for r in records.collect()}
    assert vals["1"] == '{"v":"a"}'
    assert vals["2"] == '{"v":null}'

    back = decode_json_records(records, "v STRING", key_type="long")
    got = sorted((r.key, r.v) for r in back.collect())
    assert got == [(1, "a"), (2, None), (3, "c")]


def test_encode_json_records_binary_layout(spark):
    """binary=True produces the exact input schema format('kafka') needs."""
    df = spark.createDataFrame(ROWS, SCHEMA).drop("ts")
    rec = encode_json_records(df, key_col="k", binary=True)
    assert [f.dataType.simpleString() for f in rec.schema.fields] == \
        ["binary", "binary"]
    row = rec.where(F.col("key").cast("string") == "1").collect()[0]
    assert bytes(row.value) == b'{"v":"a"}'


def test_start_sink_validates(spark, tmp_path):
    stream = read_keyed_stream(spark, str(tmp_path), SCHEMA)
    with pytest.raises(ValueError, match="brokers and topic"):
        start_sink(stream, fmt="kafka")
    with pytest.raises(ValueError, match="needs a path"):
        start_sink(stream, fmt="parquet")


def test_resize_images_plumbing(spark):
    from left_join_on_timeout_spark.operators.multimodal import (
        fake_decode,
        resize_images,
    )
    rows = [(1, b"\x89PNG\r\n\x1a\n" + b"x" * 100),
            (2, b"\xff\xd8\xff" + b"y" * 10),
            (3, None)]
    assets = spark.createDataFrame(rows, "asset_id LONG, content BINARY")
    out = {r.asset_id: r
           for r in resize_images(assets, 64, 64).collect()}
    budget = 64 * 64 // 64
    # dims come from the decode stub; payload is exactly the pixel budget
    w, h = fake_decode(rows[0][1])
    assert (out[1].width, out[1].height) == (w, h)
    assert len(out[1].resized) == budget and len(out[2].resized) == budget
    # short content is tiled up, long content truncated — deterministic
    assert bytes(out[2].resized[:13]) == rows[1][1]
    # nulls pass through as null rows (decoder-failure convention)
    assert out[3].width is None and out[3].resized is None


def test_resize_images_validates(spark):
    from left_join_on_timeout_spark.operators.multimodal import resize_images
    with pytest.raises(ValueError, match="positive"):
        resize_images(None, 0, 64)


def test_partitioned_write_prunes_scan(spark, tmp_path):
    """write_partitioned + a partition-column predicate: the read plan
    must show partition pruning (one matching directory, PartitionFilters
    set) and in-file sort order must hold."""
    from left_join_on_timeout_spark.sinks import write_partitioned

    df = spark.range(10_000).select(
        (F.col("id") % 7).alias("day"),
        F.col("id").alias("event_id"),
        (F.col("id") * 13 % 101).alias("v"))
    path = str(tmp_path / "lake")
    write_partitioned(df, path, partition_by=["day"],
                      sort_within=["event_id"])

    back = spark.read.parquet(path).where(F.col("day") == 3)
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the day predicate lands in PartitionFilters (directory pruning),
    # not DataFilters (row filtering after reading everything)
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "day" in pf and "= 3" in pf
    assert back.count() == sum(1 for i in range(10_000) if i % 7 == 3)
    # in-FILE ordering survived (order is per file, not across files)
    import glob as _glob
    for f in _glob.glob(path + "/day=3/*.parquet"):
        rows = [r.event_id
                for r in spark.read.parquet(f).select("event_id").collect()]
        assert rows == sorted(rows)
