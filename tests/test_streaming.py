"""Structured Streaming: incremental extraction equals the batch oracle, and
restarts resume from the checkpoint without reprocessing."""

from __future__ import annotations

import os

import pytest

from br_doc_ocr_spark import pipeline, streaming
from br_doc_ocr_spark.core.extract import oracle_extract
from br_doc_ocr_spark.synth import make_transcripts_pandas
from tests.test_pipeline_spark import _executions_during, _plan_nodes


@pytest.fixture()
def stream_dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("in", "out", "ckpt", "agg", "agg_ckpt")}
    os.makedirs(d["in"])
    return d


def _write_batch(df, path):
    df = df.copy()
    df["ts"] = df["ts"].astype("datetime64[us]")
    df.to_parquet(path, index=False)


def test_stream_matches_oracle_and_resumes(spark, stream_dirs):
    full = make_transcripts_pandas(n_convs=10, mean_turns=6, seed=9,
                                   skew_conv=False)
    half = len(full) // 2
    _write_batch(full.iloc[:half], f"{stream_dirs['in']}/part1.parquet")

    q = streaming.stream_extract(spark, stream_dirs["in"], stream_dirs["out"],
                                 stream_dirs["ckpt"], available_now=True)
    q.awaitTermination(120)
    first = spark.read.parquet(stream_dirs["out"]).count()
    assert first == half

    # new file lands; a RESTARTED stream picks up only the new file
    _write_batch(full.iloc[half:], f"{stream_dirs['in']}/part2.parquet")
    q = streaming.stream_extract(spark, stream_dirs["in"], stream_dirs["out"],
                                 stream_dirs["ckpt"], available_now=True)
    q.awaitTermination(120)

    got = (spark.read.parquet(stream_dirs["out"]).toPandas()
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    expected = oracle_extract(full)
    assert len(got) == len(expected)  # no duplicates from the restart
    assert got["extracted_text"].tolist() == expected["extracted_text"].tolist()
    assert got["status"].tolist() == expected["status"].tolist()


def test_stream_windowed_status_counts(spark, stream_dirs):
    # Two landing files processed as two micro-batches: the fixture spans
    # ~23 min of event time, so with a 1-minute window and a 2-minute
    # watermark the second batch's watermark advance CLOSES the first
    # batch's windows — append mode then actually emits rows (with the
    # default 1h/2h the sink stayed empty and the test was vacuous).
    df = make_transcripts_pandas(n_convs=8, mean_turns=5, seed=3,
                                 skew_conv=False).sort_values("ts")
    half = len(df) // 2
    _write_batch(df.iloc[:half], f"{stream_dirs['in']}/a.parquet")
    _write_batch(df.iloc[half:], f"{stream_dirs['in']}/b.parquet")
    results, _ = streaming.extract_stream(
        streaming._read_stream(spark, pipeline.TRANSCRIPT_SCHEMA_DDL,
                               stream_dirs["in"], max_files=1))
    counts = streaming.status_counts(results, window="1 minute",
                                     watermark="2 minutes")
    q = (counts.writeStream.format("parquet")
         .option("path", stream_dirs["agg"])
         .option("checkpointLocation", stream_dirs["agg_ckpt"])
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    agg = spark.read.parquet(stream_dirs["agg"]).toPandas()
    assert set(agg.columns) == {"window_start", "window_end", "status",
                                "n_turns", "total_fields"}
    assert len(agg) > 0  # closed windows were emitted
    assert (agg["n_turns"] > 0).all()
    # emitted (closed) windows must tally exactly with a batch recount of
    # the same event-time range
    emitted_end = agg["window_end"].max()
    expected = (oracle_extract(df)
                .loc[lambda d: d["ts"] < emitted_end]
                .groupby("status").size())
    got = agg.groupby("status")["n_turns"].sum()
    assert got.to_dict() == expected.to_dict()


def test_stateful_assembly_accumulates_across_restarts(spark, stream_dirs):
    """applyInPandasWithState: per-conversation field assembly; state
    survives a stream restart via the checkpoint."""
    import pandas as pd

    rows1 = pd.DataFrame({
        "conv_id": ["cA", "cA", "cB"],
        "turn_idx": pd.array([0, 1, 0], dtype="int32"),
        "role": ["user"] * 3,
        "text": ["CPF 123.456.789-00 aqui", "prose only turn",
                 "CNPJ 12.345.678/0001-90"],
        "tool": [""] * 3,
        "ts": pd.to_datetime(["2026-01-01"] * 3).astype("datetime64[us]"),
    })
    rows2 = pd.DataFrame({
        "conv_id": ["cA"],
        "turn_idx": pd.array([2], dtype="int32"),
        "role": ["user"],
        "text": ["agora a data 15/05/1990 e valor R$ 10,50"],
        "tool": [""],
        "ts": pd.to_datetime(["2026-01-01"]).astype("datetime64[us]"),
    })
    out = f"{stream_dirs['agg']}_asm"
    ckpt = f"{stream_dirs['ckpt']}_state"
    rows1.to_parquet(f"{stream_dirs['in']}/b1.parquet", index=False)
    q = streaming.stream_assembled_conversations(spark, stream_dirs["in"],
                                                 out, ckpt)
    q.awaitTermination(120)

    def latest():
        pdf = spark.read.parquet(out).toPandas()
        pdf = pdf.sort_values("batch_seq").groupby("conv_id").last()
        return pdf.to_dict("index")

    snap1 = latest()
    assert snap1["cA"]["n_turns"] == 2 and snap1["cA"]["n_fields"] == 1
    assert snap1["cB"]["n_fields"] == 1

    rows2.to_parquet(f"{stream_dirs['in']}/b2.parquet", index=False)
    q = streaming.stream_assembled_conversations(spark, stream_dirs["in"],
                                                 out, ckpt)
    q.awaitTermination(120)
    snap2 = latest()
    # restart resumed state: cA now 3 turns, fields merged across turns
    assert snap2["cA"]["n_turns"] == 3
    import json
    merged = json.loads(snap2["cA"]["merged_fields_json"])
    assert merged["cpf"] == "123.456.789-00"
    assert merged["data"] == "1990-05-15"
    assert merged["valor"] == "10.5"


def test_stream_lineage_per_micro_batch(spark, stream_dirs, tmp_path):
    """stream_extract_with_lineage writes, per micro-batch, the kernel's
    tally of that batch's output write: its rows, statuses and fields
    reconcile with the rows written under the same batch_seq. Three landing
    files at two per trigger give micro-batches of different partition
    counts, so a tally carried over from the previous batch shows. No plan
    reads a cached relation; lineage carries only counts."""
    from br_doc_ocr_spark.core.extract import _ddl_columns

    full = make_transcripts_pandas(n_convs=9, mean_turns=5, seed=11,
                                   skew_conv=False)
    third = len(full) // 3
    for name, rows in (("a", full.iloc[:third]),
                       ("b", full.iloc[third:2 * third]),
                       ("c", full.iloc[2 * third:])):
        _write_batch(rows, os.path.join(stream_dirs["in"], f"{name}.parquet"))
    lineage_path = str(tmp_path / "lineage")

    def run():
        streaming.stream_extract_with_lineage(
            spark, stream_dirs["in"], stream_dirs["out"], lineage_path,
            stream_dirs["ckpt"], available_now=True,
            max_files_per_trigger=2).awaitTermination()

    store, ids = _executions_during(spark, run)
    names = {node.name() for e in ids for node in _plan_nodes(store, e)}
    assert "MapInPandas" in names  # the status store saw the kernel
    assert not {n for n in names if "InMemory" in n}, names

    out = spark.read.parquet(stream_dirs["out"]).toPandas()
    lin = spark.read.parquet(lineage_path).toPandas()
    assert len(out) == len(full)
    # PII-free by schema: the batch lineage columns plus the batch id
    assert list(lin.columns) == _ddl_columns(pipeline.LINEAGE_DDL) + [
        "batch_seq"]
    parts = lin.groupby("batch_seq")["partition_id"].nunique()
    assert len(parts) == 2 and parts.nunique() == 2, parts
    for seq, batch in out.groupby("batch_seq"):
        rows = lin[lin["batch_seq"] == seq]
        assert rows["partition_id"].is_unique
        assert rows["row_count"].sum() == len(batch)
        assert rows["field_count"].sum() == batch["n_fields"].sum()
        for status in ("success", "partial", "failed", "error"):
            assert rows[f"{status}_count"].sum() == (
                batch["status"] == status).sum()


def test_stream_dedup_suppresses_repeated_content_across_batches(spark,
                                                                 stream_dirs):
    """Watermarked streaming dedup: a payload repeated in a later landing
    file (same content, fresh conv/turn ids) must reach the kernel exactly
    once; distinct payloads all survive."""
    base = make_transcripts_pandas(n_convs=6, mean_turns=4, seed=21,
                                   skew_conv=False)
    _write_batch(base, os.path.join(stream_dirs["in"], "b1.parquet"))
    # second landing file: half duplicate content under new ids, half new
    dup = base.head(len(base) // 2).copy()
    dup["conv_id"] = dup["conv_id"] + "-re"
    fresh = make_transcripts_pandas(n_convs=3, mean_turns=4, seed=22,
                                    skew_conv=False)
    import pandas as pd

    _write_batch(pd.concat([dup, fresh], ignore_index=True),
                 os.path.join(stream_dirs["in"], "b2.parquet"))

    q = streaming.stream_extract_deduplicated(
        spark, stream_dirs["in"], stream_dirs["out"], stream_dirs["ckpt"],
        watermark="365 days")
    q.awaitTermination()
    out = spark.read.parquet(stream_dirs["out"]).toPandas()
    n_distinct_payloads = len(set(base["text"]) | set(fresh["text"]))
    assert len(out) == n_distinct_payloads
    assert out["extracted_text"].notna().all()


def test_stream_redaction_matches_batch_kernel(spark, stream_dirs):
    """extract_stream(redact_fields=...) appends the same span-exact
    redacted_text the batch kernel produces for every turn."""
    from br_doc_ocr_spark.core.extract import (
        DEFAULT_REDACT_FIELDS, extract_batch)

    full = make_transcripts_pandas(n_convs=6, mean_turns=5, seed=21,
                                   skew_conv=False)
    _write_batch(full, f"{stream_dirs['in']}/all.parquet")

    out_dir = stream_dirs["out"] + "_red"
    results, _ = streaming.extract_stream(
        streaming._read_stream(spark, pipeline.TRANSCRIPT_SCHEMA_DDL,
                               stream_dirs["in"]),
        redact_fields=DEFAULT_REDACT_FIELDS)
    q = (results.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", stream_dirs["ckpt"] + "_red")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = (spark.read.parquet(out_dir).toPandas()
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    expected = (extract_batch(full, None, DEFAULT_REDACT_FIELDS)
                .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert "redacted_text" in got.columns
    assert got["redacted_text"].tolist() == expected["redacted_text"].tolist()


def test_stream_media_real_codec_quarantines_corrupt_payload(spark,
                                                             stream_dirs):
    """One corrupt blob inside a micro-batch must NOT kill the trigger
    (VERDICT r04 #7): the real-codec media stream with on_error='skip'
    quarantines exactly that row, and the surviving rows are bit-identical
    to the batch kernel over the clean corpus. Two landing files = two
    micro-batches; the corrupt payload rides in the middle of the first."""
    import pandas as pd

    from br_doc_ocr_spark.ops import multimodal as mm

    png = mm.synth_png_media(spark, n=6).toPandas()
    jpg = mm.synth_jpeg_media(spark, n=4, start_id=100).toPandas()
    corrupt = pd.DataFrame(
        [(999, "image", bytearray(b"\x89PNG\r\n\x1a\nthis is not a png"),
          {"width": 64, "height": 64, "n_frames": 1, "sample_rate": 0,
           "format": "png"})],
        columns=["media_id", "kind", "payload", "meta"])
    batch1 = pd.concat([png.iloc[:3], corrupt, png.iloc[3:]],
                       ignore_index=True)
    spark.createDataFrame(batch1, schema=mm.MEDIA_SCHEMA_DDL) \
        .coalesce(1).write.parquet(f"{stream_dirs['in']}/b1")
    spark.createDataFrame(jpg, schema=mm.MEDIA_SCHEMA_DDL) \
        .coalesce(1).write.parquet(f"{stream_dirs['in']}/b2")

    q = streaming.stream_media_features(
        spark, stream_dirs["in"], stream_dirs["out"], stream_dirs["ckpt"],
        max_files_per_trigger=1)
    q.awaitTermination(120)
    assert q.exception() is None  # the poison blob did not stop the query

    got = (spark.read.parquet(stream_dirs["out"]).toPandas()
           .sort_values("media_id").reset_index(drop=True))
    clean = pd.concat([png, jpg], ignore_index=True)
    expected = (mm.image_features(
        spark.createDataFrame(clean, schema=mm.MEDIA_SCHEMA_DDL))[0].toPandas()
        .sort_values("media_id").reset_index(drop=True))
    assert 999 not in set(got["media_id"])  # quarantined, not poisoned
    assert len(got) == len(expected) == 10
    for col in ("media_id", "out_width", "out_height", "phash"):
        assert got[col].tolist() == expected[col].tolist()
    assert got["mean_intensity"].tolist() == pytest.approx(
        expected["mean_intensity"].tolist())


def test_stream_media_on_error_raise_fails_the_query(spark, stream_dirs):
    """The contract's other half: with on_error='raise' the same corrupt
    payload DOES fail the streaming query — quarantine is an explicit
    opt-in posture, never a silent default data loss."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from br_doc_ocr_spark.ops import multimodal as mm

    import pandas as pd

    corrupt = pd.DataFrame(
        [(1, "image", bytearray(b"garbage-not-an-image"),
          {"width": 8, "height": 8, "n_frames": 1, "sample_rate": 0,
           "format": "png"})],
        columns=["media_id", "kind", "payload", "meta"])
    spark.createDataFrame(corrupt, schema=mm.MEDIA_SCHEMA_DDL) \
        .coalesce(1).write.parquet(f"{stream_dirs['in']}/b1")

    q = streaming.stream_media_features(
        spark, stream_dirs["in"], stream_dirs["out"], stream_dirs["ckpt"],
        on_error="raise")
    with pytest.raises((StreamingQueryException, Py4JJavaError)):
        q.awaitTermination(120)


def test_stream_media_audio_kind_reaches_sink(spark, stream_dirs):
    """kind='audio' routes real RIFF/WAVE payloads through MediaDecoder to
    the streaming sink (review r05: the image-only routing made the audio
    family unreachable under streaming and counted its rows as quarantine
    drops). Mixed landing zone: image rows are excluded by the explicit
    kind predicate — NOT quarantined — and one corrupt WAV IS quarantined
    without killing the trigger; survivors match the batch kernel."""
    import pandas as pd

    from br_doc_ocr_spark.ops import multimodal as mm

    wav = mm.synth_wav_media(spark, n=4, start_id=300).toPandas()
    png = mm.synth_png_media(spark, n=2).toPandas()
    corrupt = pd.DataFrame(
        [(999, "audio", bytearray(b"RIFF\x00\x00\x00\x00WAVEgarbage"),
          {"width": 0, "height": 0, "n_frames": 1, "sample_rate": 8000,
           "format": "wav"})],
        columns=["media_id", "kind", "payload", "meta"])
    mixed = pd.concat([wav.iloc[:2], png, corrupt, wav.iloc[2:]],
                      ignore_index=True)
    spark.createDataFrame(mixed, schema=mm.MEDIA_SCHEMA_DDL) \
        .coalesce(1).write.parquet(f"{stream_dirs['in']}/b1")

    q = streaming.stream_media_features(
        spark, stream_dirs["in"], stream_dirs["out"], stream_dirs["ckpt"],
        kind="audio")
    q.awaitTermination(120)
    assert q.exception() is None

    got = (spark.read.parquet(stream_dirs["out"]).toPandas()
           .sort_values("media_id").reset_index(drop=True))
    expected = (mm.audio_features(
        spark.createDataFrame(wav, schema=mm.MEDIA_SCHEMA_DDL))[0].toPandas()
        .sort_values("media_id").reset_index(drop=True))
    assert got["media_id"].tolist() == expected["media_id"].tolist()
    assert 999 not in set(got["media_id"])          # corrupt WAV quarantined
    assert len(got) == len(wav)                     # image rows excluded, not lost
    assert got["n_samples"].tolist() == expected["n_samples"].tolist()
    assert got["rms"].tolist() == pytest.approx(expected["rms"].tolist())


def test_stream_media_rejects_unknown_kind(spark, stream_dirs):
    with pytest.raises(ValueError, match="kind must be 'image' or 'audio'"):
        streaming.stream_media_features(
            spark, stream_dirs["in"], stream_dirs["out"],
            stream_dirs["ckpt"], kind="video")
