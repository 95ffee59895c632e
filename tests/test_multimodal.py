"""Multimodal opaque-binary plumbing: schema, batching, error capture.
The decode kernel is a documented deterministic stub (multimodal.py);
what these tests pin is the Spark-side contract that stays when a real
codec replaces it."""

import pyspark.sql.functions as F

from webextract import multimodal


def _media_df(spark):
    rows = [
        (0, bytearray(b"\x89PNG\r\n" + b"x" * 100), "src0"),
        (1, bytearray(b"\xff\xd8\xff\xe0" + b"y" * 50), "src0"),
        (2, bytearray(b"RIFF....WAVE" + b"z" * 10), "src1"),
        (3, bytearray(b"plain bytes"), "src1"),
        (4, None, "src2"),           # null payload → decode_error
        (5, bytearray(b""), "src2"),  # empty payload → decode_error
    ]
    return spark.createDataFrame(rows, "doc_id bigint, media binary, source string")


def test_decode_schema_and_determinism(spark):
    out = multimodal.decode_media(_media_df(spark))
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "source", "n_bytes", "format", "width", "height",
        "n_frames", "decode_error",
    ]
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[0]["format"] == "png" and rows[1]["format"] == "jpeg"
    assert rows[2]["format"] == "riff/WAVE" and rows[3]["format"] == "raw"
    # deterministic fake dims: re-running yields identical values
    again = {r["doc_id"]: r for r in multimodal.decode_media(_media_df(spark)).collect()}
    for k in rows:
        assert rows[k] == again[k]


def test_decode_failures_are_data(spark):
    rows = {r["doc_id"]: r for r in multimodal.decode_media(_media_df(spark)).collect()}
    for bad in (4, 5):
        assert rows[bad]["decode_error"] is not None
        assert rows[bad]["width"] == 0
    ok = multimodal.decode_media(_media_df(spark)).filter(
        F.col("decode_error").isNull()).count()
    assert ok == 4


def test_resize_plan_dims(spark):
    decoded = multimodal.decode_media(_media_df(spark))
    planned = multimodal.resize_plan(decoded, max_side=256)
    for r in planned.filter(F.col("decode_error").isNull()).collect():
        assert max(r["out_width"], r["out_height"]) <= 256
        assert r["out_width"] >= 1 and r["out_height"] >= 1
        if max(r["width"], r["height"]) <= 256:
            assert (r["out_width"], r["out_height"]) == (r["width"], r["height"])
        else:  # floor(dim * scale) with the same scale on both axes
            assert 0 <= r["width"] * r["scale"] - r["out_width"] < 1
            assert 0 <= r["height"] * r["scale"] - r["out_height"] < 1


def test_sample_frames_deterministic(spark):
    decoded = multimodal.decode_media(_media_df(spark))
    frames = multimodal.sample_frames(decoded, every_nth=3)
    rows = frames.collect()
    assert rows, "no frames sampled"
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_index"])
        assert r["frame_ts_ms"] == r["frame_index"] * 40.0
    for doc, idxs in by_doc.items():
        assert sorted(idxs) == list(range(0, max(idxs) + 1, 3))
    again = {tuple(sorted((r["doc_id"], r["frame_index"]) for r in frames.collect()))}
    assert again == {tuple(sorted((r["doc_id"], r["frame_index"]) for r in rows))}


def test_feature_extract(spark):
    feats = multimodal.extract_features(
        _media_df(spark).select("doc_id", "media"))
    rows = {r["doc_id"]: r for r in feats.collect()}
    assert len(rows) == 6
    for doc, r in rows.items():
        assert len(r["features"]) == 8
        if doc in (4, 5):  # null/empty payloads → zero vector
            assert all(x == 0.0 for x in r["features"])
        else:
            assert abs(sum(r["features"]) - 1.0) < 1e-5  # L1-normalized
            assert r["feat_norm"] > 0
    again = {r["doc_id"]: list(r["features"]) for r in multimodal.extract_features(
        _media_df(spark).select("doc_id", "media")).collect()}
    assert again == {d: list(r["features"]) for d, r in rows.items()}


def test_decode_partition_independence(spark):
    df = _media_df(spark)
    one = {r["doc_id"]: r for r in multimodal.decode_media(df.coalesce(1)).collect()}
    many = {r["doc_id"]: r for r in multimodal.decode_media(df.repartition(4)).collect()}
    assert one == many
