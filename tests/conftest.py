"""Shared fixtures: one session-scoped local SparkSession (SURVEY.md §5)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from br_doc_ocr_spark.session import build_session

    session = build_session(app_name="br-doc-ocr-spark-tests", cpus=4,
                            shuffle_partitions=8)
    yield session
    session.stop()


@pytest.fixture(scope="session")
def tiny_transcripts():
    """Deterministic tiny transcript table incl. the skewed conv-heavy id."""
    from br_doc_ocr_spark.synth import make_transcripts_pandas

    return make_transcripts_pandas(n_convs=25, mean_turns=8, seed=42,
                                   skew_conv=True, skew_factor=40)


@pytest.fixture(scope="session")
def tiny_transcripts_path(tiny_transcripts, tmp_path_factory):
    path = tmp_path_factory.mktemp("data") / "transcripts_tiny.parquet"
    df = tiny_transcripts.copy()
    df["ts"] = df["ts"].astype("datetime64[us]")  # Spark rejects TIMESTAMP(NANOS)
    df.to_parquet(path, index=False)
    return str(path)


SF_DIR = "/root/testdata/sf0.001"


def sorted_in_file_order(files: list[str]) -> bool:
    """True iff the (conv_id, turn_idx) keys of ``files``, read with pandas
    one by one in the given order and concatenated, are sorted."""
    import pandas as pd

    keys = [k for f in files
            for k in pd.read_parquet(f, columns=["conv_id", "turn_idx"])
            .itertuples(index=False, name=None)]
    return keys == sorted(keys)


def part_file_bytes(path: str) -> list[tuple[str, bytes]]:
    """Each parquet part file under ``path`` as (its directory relative to
    ``path``, its bytes), in path order (part files of one write share a
    job id in their names, so path order is partition order)."""
    from pathlib import Path

    return [(str(f.parent.relative_to(path)), f.read_bytes())
            for f in sorted(Path(path).rglob("*.parquet"))]


def spark_jobs_of(spark, call) -> int:
    """The number of Spark jobs ``call()`` runs: it runs under a job group of
    its own, whose job ids the status tracker lists afterwards."""
    import uuid

    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        call()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
