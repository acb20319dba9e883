"""End-to-end pipeline tests: counts vs ground truth, routed-row byte equality,
variable extraction, histogram, lineage (SURVEY.md §5.2 golden E2E)."""

import os

import pyspark.sql.functions as F

from log_parser_cli_spark.plans.pipeline import read_routed


def test_sink_counts_match_ground_truth(spark, fixture_dir, pipeline_out):
    counts = spark.read.parquet(os.path.join(pipeline_out, "sink_counts"))
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet"))
    gt_counts = gt.groupBy(
        "source", F.col("event_template").alias("template_star")
    ).agg(F.count("*").alias("n_gt"))
    mine = counts.groupBy("source", "template_star").agg(F.sum("n_sequences").alias("n_mine"))
    j = gt_counts.join(mine, ["source", "template_star"], "full")
    bad = j.filter(
        F.col("n_gt").isNull() | F.col("n_mine").isNull() | (F.col("n_gt") != F.col("n_mine"))
    )
    assert bad.count() == 0, bad.collect()[:5]


def test_routed_rows_byte_exact_token_equality(spark, fixture_dir, pipeline_out):
    routed = read_routed(spark, pipeline_out)
    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    assert routed.count() == seq.count()  # no row lost or duplicated
    joined = routed.select("doc_id", F.col("tokens").alias("routed_tokens")).join(
        seq.select("doc_id", "tokens"), "doc_id"
    )
    mismatches = joined.filter(F.col("tokens") != F.col("routed_tokens")).count()
    assert mismatches == 0


def test_unparsed_rows_routed_to_failure_sink(spark, fixture_dir, pipeline_out):
    routed = read_routed(spark, pipeline_out)
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet"))
    n_noise = gt.filter(~F.col("head_matched")).count()
    assert n_noise > 0  # fixture must exercise the unparsed path
    unparsed = routed.filter(F.col("template_id") == "__UNPARSED__")
    assert unparsed.count() == n_noise
    assert unparsed.select("sink").distinct().collect()[0][0] == "sink-failures"
    # no row silently fell into the unmatched bucket in discovery mode
    assert routed.filter(F.col("template_id") == "__UNMATCHED__").count() == 0


def test_word_variable_extraction_matches_ground_truth(spark, fixture_dir, pipeline_out):
    routed = read_routed(spark, pipeline_out)
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet"))
    mine = routed.select(
        "doc_id",
        F.col("n_vars").alias("my_n_vars"),
        F.array_join(
            F.expr("transform(sequence(1, n_vars), i -> variables[concat('v', i)])"), "|"
        ).alias("my_vars"),
    )
    j = mine.join(gt.select("doc_id", "n_vars", "word_var_concat"), "doc_id")
    bad = j.filter(
        (F.col("my_n_vars") != F.col("n_vars"))
        | (F.coalesce("my_vars", F.lit("")) != F.col("word_var_concat"))
    )
    assert bad.count() == 0, bad.collect()[:5]


def test_ntok_histogram_consistency(spark, fixture_dir, pipeline_out):
    hist = spark.read.parquet(os.path.join(pipeline_out, "ntok_hist"))
    gt = spark.read.parquet(os.path.join(fixture_dir, "ground_truth.parquet"))
    total_hist = hist.agg(F.sum("cnt")).first()[0]
    assert total_hist == gt.count()
    gt_hist = gt.groupBy("source", "n_tok").agg(F.count("*").alias("n_gt"))
    mine = hist.groupBy("source", "n_tok").agg(F.sum("cnt").alias("n_mine"))
    bad = gt_hist.join(mine, ["source", "n_tok"], "full").filter(
        F.coalesce("n_gt", F.lit(-1)) != F.coalesce("n_mine", F.lit(-2))
    )
    assert bad.count() == 0


def test_lineage_metrics_written(spark, pipeline_out):
    metrics = spark.read.parquet(os.path.join(pipeline_out, "run_metrics"))
    stages = {r.stage for r in metrics.select("stage").distinct().collect()}
    assert {"parse", "route"} <= stages
    per_stage = metrics.groupBy("stage").agg(F.sum("count").alias("rows")).collect()
    totals = {r.stage: r.rows for r in per_stage}
    assert totals["parse"] == totals["route"]


def test_routed_partition_layout(pipeline_out):
    """Fan-out write is physically partitioned by sink and template_id (K1),
    inside the current snapshot's immutable data dir."""
    from log_parser_cli_spark.plans.pipeline import routed_data_dirs

    (data_dir,) = routed_data_dirs(pipeline_out)
    sinks = [d for d in os.listdir(data_dir) if d.startswith("sink=")]
    assert len(sinks) >= 5
    one = os.path.join(data_dir, sorted(sinks)[0])
    assert any(d.startswith("template_id=") for d in os.listdir(one))


def test_salted_fanout_splits_hot_template(spark, fixture_dir, pipeline_out, tmp_path):
    """Skew handling: the hot (sink, template) partition is written by multiple
    salted tasks, not serialized into one writer (north_rule skew clause).

    At this test's row count AQE would coalesce the whole shuffle into one
    partition (correct for tiny data); pin coalescing off to observe the salt
    fan-out that large partitions get at scale.
    """
    import glob

    from log_parser_cli_spark.plans.pipeline import read_routed, route_stage, routed_data_dirs

    enriched = read_routed(spark, pipeline_out)
    counts = spark.read.parquet(os.path.join(pipeline_out, "sink_counts"))
    hot = counts.orderBy(F.desc("n_sequences")).first()

    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        out = str(tmp_path / "salted")
        route_stage(enriched, out, salt_buckets=4)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    from urllib.parse import quote

    # Spark URL-encodes partition values in directory names ('#' → '%23')
    (data_dir,) = routed_data_dirs(out)
    tpl_dir = os.path.join(
        data_dir, f"sink={hot.sink}", f"template_id={quote(hot.template_id, safe='')}"
    )
    files = glob.glob(os.path.join(tpl_dir, "*.parquet"))
    assert len(files) >= 2, f"hot template wrote {len(files)} file(s) — salting ineffective"


def _jobs_submitted(spark, fn) -> int:
    """Spark jobs ``fn`` submits: the status tracker's job-id set difference
    around the call, after the listener bus has delivered every event."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup())
    fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(set(tracker.getJobIdsForGroup()) - before)


def test_lineage_adds_no_spark_job(spark, fixture_dir, pipeline_out, tmp_path):
    from log_parser_cli_spark.plans.pipeline import run_pipeline

    with_lineage = _jobs_submitted(
        spark, lambda: run_pipeline(spark, fixture_dir, str(tmp_path / "on"), lineage=True)
    )
    without = _jobs_submitted(
        spark, lambda: run_pipeline(spark, fixture_dir, str(tmp_path / "off"), lineage=False)
    )
    assert with_lineage == without


def test_lineage_rows_carry_stage_wall_time(spark, pipeline_out):
    import json

    metrics = spark.read.parquet(os.path.join(pipeline_out, "run_metrics")).collect()
    assert metrics and all(r.wall_ms > 0 for r in metrics)
    with open(os.path.join(pipeline_out, "_manifest.json")) as f:
        stages = json.load(f)["stages"]
    for r in metrics:
        assert r.wall_ms == stages[r.stage]["wall_ms"]
    for name in ("parse", "route"):
        assert stages[name]["rows"] == sum(r["count"] for r in metrics if r.stage == name)


def test_one_shot_parsed_count_is_input_rows(spark, fixture_dir, tmp_path):
    from log_parser_cli_spark.plans.pipeline import run_pipeline

    seq = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    res = run_pipeline(spark, fixture_dir, str(tmp_path / "out"), checkpoint_parse=False)
    assert res.counts["parsed"] == seq.count()


def test_run_replay_returns_sink_count_total(spark, fixture_dir, pipeline_out, tmp_path):
    from log_parser_cli_spark.plans.pipeline import run_replay

    mapping = spark.read.parquet(os.path.join(pipeline_out, "template_mapping"))
    out = str(tmp_path / "replay")
    n = run_replay(spark, fixture_dir, out, mapping)
    counts = spark.read.parquet(os.path.join(out, "sink_counts"))
    assert n == counts.agg(F.sum("n_sequences")).first()[0]
    assert not os.path.exists(os.path.join(out, "parsed"))  # one-shot: no parse checkpoint


def test_lineage_needs_parse_checkpoint(spark, fixture_dir, tmp_path):
    import pytest

    from log_parser_cli_spark.plans.pipeline import run_pipeline

    with pytest.raises(ValueError):
        run_pipeline(spark, fixture_dir, str(tmp_path), lineage=True, checkpoint_parse=False)


def test_written_files_counts_footers_and_needs_success_marker(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from log_parser_cli_spark.plans.pipeline import written_files

    d = tmp_path / "w"
    (d / "k=a").mkdir(parents=True)
    pq.write_table(pa.table({"x": [1, 2, 3]}), str(d / "k=a" / "part-00002-u.c000.parquet"))
    pq.write_table(pa.table({"x": [4]}), str(d / "part-00007-u.c000.parquet"))
    with pytest.raises(FileNotFoundError):
        written_files(str(d))
    with pytest.raises(FileNotFoundError):
        written_files(str(tmp_path / "missing"))
    (d / "_SUCCESS").touch()
    assert sorted(written_files(str(d))) == [(2, 3), (7, 1)]
