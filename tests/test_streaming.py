"""Structured Streaming replay: streamed routed output == batch routed output."""

import os

import pyspark.sql.functions as F
import pytest

from log_parser_cli_spark.plans.pipeline import read_routed, run_pipeline
from log_parser_cli_spark.streaming.stream import stream_replay


def test_stream_replay_matches_batch(spark, fixture_dir, pipeline_out, tmp_path):
    mapping = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))
    out = str(tmp_path / "stream_out")
    q = stream_replay(spark, fixture_dir, out, mapping, available_now=True)
    q.awaitTermination(120)

    streamed = read_routed(spark, out)
    batch = read_routed(spark, pipeline_out)
    assert streamed.count() == batch.count()
    s_counts = {
        (r.source, r.template_id): r.n
        for r in streamed.groupBy("source", "template_id").agg(F.count("*").alias("n")).collect()
    }
    b_counts = {
        (r.source, r.template_id): r.n
        for r in batch.groupBy("source", "template_id").agg(F.count("*").alias("n")).collect()
    }
    assert s_counts == b_counts

    # restart with availableNow on the same checkpoint: no new data → no dupes
    q2 = stream_replay(spark, fixture_dir, out, mapping, available_now=True)
    q2.awaitTermination(60)
    assert read_routed(spark, out).count() == batch.count()


def test_stream_with_discovery_evolves_library(spark, fixture_dir, pipeline_out, tmp_path):
    """Two micro-batches with per-batch library evolution end with the same
    per-(source, template_star) routed counts as the single-shot batch run,
    and batch-1 template ids survive batch 2 unchanged."""
    import pyspark.sql.functions as FN

    from log_parser_cli_spark.streaming.stream import stream_with_discovery

    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    stream_dir = str(tmp_path / "stream_src")
    ordinal = FN.substring("doc_id", 5, 9).cast("long")
    seq.filter(ordinal % 2 == 0).coalesce(1).write.parquet(stream_dir)
    seq.filter(ordinal % 2 == 1).coalesce(1).write.mode("append").parquet(stream_dir)

    out = str(tmp_path / "stream_out")
    q = stream_with_discovery(spark, fixture_dir, stream_dir, out, available_now=True)
    q.awaitTermination(180)

    streamed = read_routed(spark, out)
    batch = read_routed(spark, pipeline_out)
    s_counts = {
        (r.source, r.template_star): r.n
        for r in streamed.groupBy("source", "template_star").agg(FN.count("*").alias("n")).collect()
    }
    b_counts = {
        (r.source, r.template_star): r.n
        for r in batch.groupBy("source", "template_star").agg(FN.count("*").alias("n")).collect()
    }
    assert s_counts == b_counts
    # library only grew: every routed template id appears in the final mapping
    from log_parser_cli_spark.streaming.stream import read_mapping

    mapping = read_mapping(spark, out)
    mapped_ids = {r.template_id for r in mapping.select("template_id").distinct().collect()}
    routed_ids = {
        r.template_id
        for r in streamed.select("template_id").distinct().collect()
        if not r.template_id.startswith("__")
    }
    assert routed_ids <= mapped_ids


def test_stream_kill_mid_batch_never_exposes_partial(
    spark, fixture_dir, pipeline_out, tmp_path, monkeypatch
):
    """A micro-batch killed between staging its data and the snapshot commit
    point is invisible to readers (no torn partial dir, unlike the previous
    plain batch_id=N layout); the restarted stream replays the batch and
    converges to the batch pipeline's counts with no duplicates."""
    from log_parser_cli_spark.plans.snapshots import SnapshotTable

    mapping = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))
    out = str(tmp_path / "stream_out")
    real = SnapshotTable.commit_batch

    def kill_mid_batch(self, df, batch_id, **kw):
        self._stage(df, kw.get("partition_by"))  # the data bytes land...
        raise RuntimeError("killed mid-batch")  # ...but never reach the commit point

    monkeypatch.setattr(SnapshotTable, "commit_batch", kill_mid_batch)
    q = stream_replay(spark, fixture_dir, out, mapping, available_now=True)
    with pytest.raises(Exception):
        q.awaitTermination(120)
    # a reader between the kill and the restart sees "no table yet", never
    # the staged partial bytes
    with pytest.raises(FileNotFoundError):
        read_routed(spark, out)

    monkeypatch.setattr(SnapshotTable, "commit_batch", real)
    q2 = stream_replay(spark, fixture_dir, out, mapping, available_now=True)
    q2.awaitTermination(120)
    assert read_routed(spark, out).count() == read_routed(spark, pipeline_out).count()


def test_mapping_commit_survives_crash_mid_write(spark, tmp_path):
    """A crash between the version-dir write and the pointer flip must leave
    the previous library fully readable (ADVICE: the old overwrite-in-place
    scheme lost the accumulated library and renumbered ids)."""
    from log_parser_cli_spark.streaming.stream import (
        _commit_mapping,
        latest_mapping_dir,
        read_mapping,
    )

    root = str(tmp_path / "out" / "mapping")
    os.makedirs(root)
    m1 = spark.createDataFrame(
        [("s", "sig1", "s#1", "alpha <*>")],
        "source string, content_sig string, template_id string, template_star string",
    )
    _commit_mapping(m1, root, 0)
    v0 = os.path.basename(latest_mapping_dir(root))
    assert v0.startswith("v000000000000")

    # simulate a crash mid-write of batch 1: staged dir half-written (no
    # _SUCCESS), pointer never flipped — the committed library is untouched
    broken = os.path.join(root, "v000000000001-deadbeef")
    os.makedirs(broken)
    with open(os.path.join(broken, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    assert os.path.basename(latest_mapping_dir(root)) == v0
    got = read_mapping(spark, str(tmp_path / "out")).collect()
    assert [(r.template_id, r.template_star) for r in got] == [("s#1", "alpha <*>")]

    # the retried batch stages a FRESH dir (never overwriting the pointer's
    # target in place), flips the pointer, and GCs every other version dir
    m2 = m1.unionByName(
        spark.createDataFrame(
            [("s", "sig2", "s#2", "beta <*>")],
            "source string, content_sig string, template_id string, template_star string",
        )
    )
    _commit_mapping(m2, root, 1)
    v1 = os.path.basename(latest_mapping_dir(root))
    assert v1.startswith("v000000000001")
    assert read_mapping(spark, str(tmp_path / "out")).count() == 2
    assert not os.path.exists(broken)
    assert not os.path.exists(os.path.join(root, v0))

    # a RE-retry of the same batch while the pointer already targets a
    # same-batch dir (the round-3 ADVICE scenario): stages a second unique
    # dir, never touching v1's bytes mid-read
    _commit_mapping(m2, root, 1)
    v1b = os.path.basename(latest_mapping_dir(root))
    assert v1b.startswith("v000000000001") and v1b != v1
    assert read_mapping(spark, str(tmp_path / "out")).count() == 2
