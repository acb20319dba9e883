"""The benchmark's workloads, their correctness checks and their traced calls.

Each workload generates its input with ``datagen.generate`` from the run's
seed; the engine sees only the generated files. Calls go through the engine's
public functions: ``run_pipeline`` for ``discover_full`` and
``stream_replay`` for ``stream_small_batches``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import trace as tr

UNPARSED = "__UNPARSED__"
UNMATCHED = "__UNMATCHED__"
# Stream split files carry fixed names and strictly increasing mtimes from this
# epoch second, so the file source hands the same file to the same micro-batch
# in every run.
SPLIT_MTIME_BASE = 1_700_000_000
_ROUTED_PARTITIONING = ds.partitioning(
    pa.schema([("sink", pa.string()), ("template_id", pa.string())]), flavor="hive"
)


@dataclass
class Call:
    """One timed call: its wall time, output dir and routed-file layout."""

    wall_s: float
    out_dir: str
    file_sizes: list[int]
    progress: list[dict] = field(default_factory=list)
    span: str | None = None
    gc_ms: int = 0


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def token_digest(table: pa.Table) -> tuple[int, int]:
    """Order-independent digest of the (doc_id, tokens) rows of ``table``:
    the sum mod 2**64 of a 64-bit hash per row, with the row count."""
    doc_ids = table.column("doc_id").combine_chunks()
    tokens = table.column("tokens").combine_chunks()
    lengths = tokens.value_lengths().to_numpy(zero_copy_only=False)
    flat = tokens.flatten().to_numpy(zero_copy_only=False).astype("<i4").tobytes()
    total, pos, mask = 0, 0, (1 << 64) - 1
    for doc, n in zip(doc_ids.to_pylist(), lengths.tolist()):
        end = pos + 4 * n
        digest = hashlib.blake2b(doc.encode() + b"\0" + flat[pos:end], digest_size=8).digest()
        total = (total + int.from_bytes(digest, "little")) & mask
        pos = end
    return total, len(lengths)


def routed_file_sizes(out_dir: str) -> list[int]:
    """Byte sizes of the parquet files of the committed routed snapshot."""
    from log_parser_cli_spark.plans.pipeline import routed_data_dirs

    sizes = []
    for d in routed_data_dirs(out_dir):
        for root, _dirs, files in os.walk(d):
            sizes += [
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet") and not f.startswith(".")
            ]
    return sizes


def read_routed_rows(out_dir: str, columns: list[str]) -> pa.Table:
    from log_parser_cli_spark.plans.pipeline import routed_data_dirs

    parts = [
        ds.dataset(d, format="parquet", partitioning=_ROUTED_PARTITIONING).to_table(columns=columns)
        for d in routed_data_dirs(out_dir)
    ]
    return pa.concat_tables(parts)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _d, files in os.walk(path) for f in files
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def gc_ms(spark) -> int:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(int(b.getCollectionTime()) for b in beans)


def signature_stats(spark, parsed) -> list:
    """The (source, content_sig, n_rows, first_doc) set discovery collects."""
    from pyspark.sql import functions as F

    return (
        parsed.filter(F.col("head_matched"))
        .groupBy("source", "content_sig")
        .agg(F.count("*").alias("n_rows"), F.min("doc_id").alias("first_doc"))
        .collect()
    )


def time_drain(sig_rows) -> float:
    """Seconds ``cluster_signatures`` takes over a collected signature set,
    fed per source in first-seen order as ``discover_templates`` feeds it."""
    from log_parser_cli_spark.operators.drain import cluster_signatures

    per_source: dict[str, list] = {}
    for r in sig_rows:
        per_source.setdefault(r.source, []).append((r.content_sig, int(r.n_rows), r.first_doc))
    ranked = []
    for _source, rows in sorted(per_source.items()):
        by_doc = sorted(rows, key=lambda t: (t[2], t[0]))
        ranked.append([(sig, n, rank) for rank, (sig, n, _doc) in enumerate(by_doc)])
    t0 = time.perf_counter()
    for rows in ranked:
        cluster_signatures(rows)
    return time.perf_counter() - t0


def file_skew(sizes: list[int]) -> float:
    return max(sizes) / statistics.median(sizes)


def _iso_to_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def finish_layers(layers: dict[str, float], wall: float) -> dict[str, float]:
    """Clamp differenced self-times at 0 (a noisy difference can dip below)
    and report how closely the clamped layers add up to the traced wall."""
    out = {k: max(0.0, v) for k, v in layers.items()}
    out["trace.layer_sum_over_wall"] = sum(out.values()) / wall
    return out


def python_layer(m) -> dict[str, float]:
    """The parse layer's JVM<->Python boundary, from its jobs' task metrics."""
    return {
        "parse.python_run_ms": m["python_run_ms"],
        "parse.python_init_ms": m["python_init_ms"],
        "parse.bytes_to_python": m["python_bytes_sent"],
        "parse.bytes_from_python": m["python_bytes_returned"],
    }


def probe_layers(tracer: tr.Tracer, steps: list[tuple[str, object]]) -> None:
    """Noop-materialize each DataFrame in ``steps`` under its own span; each
    step's plan extends the previous one, so differences give layer times."""
    for name, df in steps:
        with tracer.span(name):
            noop(df)


class Workload:
    name = ""
    # A median of three calls drops one slow call: the first call after the
    # warm-up still runs 10-30% slow, and a slow spell of the host can catch
    # any one call.
    min_calls = 3

    def __init__(self, work_dir: str, seed: int):
        self.work = work_dir
        self.seed = seed
        self.fixture = os.path.join(work_dir, "fixture")
        self.input_rows = 0
        self.input_bytes = 0
        self._n_out = 0
        self._input_digest: tuple[int, int] | None = None

    def new_out(self, tag: str) -> str:
        self._n_out += 1
        return os.path.join(self.work, f"out-{tag}-{self._n_out}")

    def generate(self) -> dict:
        from log_parser_cli_spark import datagen

        datagen.generate(self.fixture, self.gen_rows(), seed=self.seed)
        seq = os.path.join(self.fixture, "sequences.parquet")
        return {
            "seed": self.seed,
            "rows": self.gen_rows(),
            "gen_version": datagen.GEN_VERSION,
            "sequences_sha256": sha256_file(seq),
        }


class DiscoverFull(Workload):
    """``run_pipeline(..., lineage=True)``: checkpointed parse, discovery
    (signature aggregation + driver-side Drain), enrich, route, aggregate and
    the ``_lineage`` jobs, all inside one timed call."""

    name = "discover_full"

    def __init__(self, work_dir: str, seed: int, rows: int = 50_000, warmup_calls: int = 1):
        super().__init__(work_dir, seed)
        self.rows = rows
        self.warmup_calls = warmup_calls

    def gen_rows(self) -> int:
        return self.rows

    def generate(self) -> dict:
        info = super().generate()
        self.input_rows = self.rows
        self.input_bytes = os.path.getsize(os.path.join(self.fixture, "sequences.parquet"))
        return info

    def setup(self, spark) -> None:
        for _ in range(self.warmup_calls):
            out = self.new_out("warmup")
            self._run(spark, out)
            shutil.rmtree(out)

    def _run(self, spark, out: str) -> None:
        from log_parser_cli_spark.plans.pipeline import run_pipeline

        run_pipeline(spark, self.fixture, out, run_id=os.path.basename(out), lineage=True)

    def call(self, spark, tracer: tr.Tracer | None, i: int) -> Call:
        out = self.new_out("call")
        span = f"call.{i}"
        t0 = time.perf_counter()
        if tracer is None:
            self._run(spark, out)
        else:
            with tracer.span(span):
                self._run(spark, out)
        wall = time.perf_counter() - t0
        return Call(wall, out, routed_file_sizes(out), span=span if tracer else None)

    def checks(self, call: Call) -> list[tuple[str, bool, str]]:
        if self._input_digest is None:
            seq = pq.read_table(os.path.join(self.fixture, "sequences.parquet"),
                                columns=["doc_id", "tokens"])
            self._input_digest = token_digest(seq)
        routed = read_routed_rows(call.out_dir, ["doc_id", "tokens"])
        counted = pq.read_table(os.path.join(call.out_dir, "sink_counts"), columns=["n_sequences"])
        n_counted = int(pa.compute.sum(counted.column("n_sequences")).as_py() or 0)
        gt = pq.read_table(
            os.path.join(self.fixture, "ground_truth.parquet"),
            columns=["source", "event_template", "head_matched"],
        ).to_pydict()
        gt_set = {
            (s, t) for s, t, m in zip(gt["source"], gt["event_template"], gt["head_matched"]) if m
        }
        mapping = pq.read_table(
            os.path.join(call.out_dir, "template_mapping"), columns=["source", "template_star"]
        ).to_pydict()
        found = set(zip(mapping["source"], mapping["template_star"]))
        n_input = self._input_digest[1]
        return [
            ("row_counts", n_input == routed.num_rows == n_counted,
             f"input={n_input} routed={routed.num_rows} sink_counts={n_counted}"),
            ("token_digest", self._input_digest == token_digest(routed), "doc_id+tokens multiset"),
            ("template_set", found == gt_set,
             f"missing={len(gt_set - found)} extra={len(found - gt_set)}"),
        ]

    def layers(self, spark, tracer: tr.Tracer, call: Call) -> dict:
        """Add the manifest's stage spans under the traced call, then run the
        noop probes that split the lazily fused layers. Returns the values
        that need Spark; the rest come from the event log after stop."""
        from log_parser_cli_spark.operators.parse import parse_stage
        from log_parser_cli_spark.plans.pipeline import enrich_stage, load_dims

        with open(os.path.join(call.out_dir, "_manifest.json")) as f:
            stages = json.load(f)["stages"]
        for name, info in stages.items():
            end = info["committed_at"]
            tracer.add(f"stage.{name}", end - info["wall_ms"] / 1000.0, end, parent=call.span)

        vocab, heads, sources = load_dims(spark, self.fixture)
        seq = spark.read.parquet(os.path.join(self.fixture, "sequences.parquet"))
        ckpt = spark.read.parquet(os.path.join(call.out_dir, "parsed"))
        mapping = spark.read.parquet(os.path.join(call.out_dir, "template_mapping"))
        probe_layers(tracer, [
            ("probe.scan", seq),
            ("probe.parse", parse_stage(spark, seq, vocab, heads)),
            ("probe.scan_ckpt", ckpt),
            ("probe.enrich", enrich_stage(ckpt, mapping, sources)),
        ])
        sig_rows = signature_stats(spark, ckpt)
        counts = pq.read_table(
            os.path.join(call.out_dir, "sink_counts"), columns=["template_id", "n_sequences"]
        ).to_pydict()
        by_tid: dict[str, int] = {}
        for tid, n in zip(counts["template_id"], counts["n_sequences"]):
            by_tid[tid] = by_tid.get(tid, 0) + n
        total = sum(by_tid.values())
        head_matched = total - by_tid.get(UNPARSED, 0)
        mapping_rows = pq.read_table(
            os.path.join(call.out_dir, "template_mapping"), columns=["template_id"]
        ).column("template_id").to_pylist()
        return {
            "stages": {k: v["wall_ms"] for k, v in stages.items()},
            "drain_s": time_drain(sig_rows),
            "signatures": len(mapping_rows),
            "templates": len(set(mapping_rows)),
            "head_matched_ratio": head_matched / total,
            "unmatched_ratio": by_tid.get(UNMATCHED, 0) / head_matched,
            "checkpoint_bytes": dir_bytes(os.path.join(call.out_dir, "parsed")),
        }

    def per_layer(self, tracer: tr.Tracer, log: tr.EventLog, call: Call, extra: dict) -> dict:
        owned_jobs, owned_execs = tr.attribute(tracer, log)
        d = {s.name: s.duration for s in tracer.spans}

        def jobs(span):
            return tr.jobs_under(tracer, owned_jobs, span)

        def execs(span):
            return [e for s in tr.subtree(tracer, span) for e in owned_execs[s]]

        parse_m = log.job_metrics(jobs("stage.parse"))
        route_m = log.job_metrics(jobs("stage.route"))
        agg_m = log.job_metrics(jobs("stage.aggregate"))
        agg_d = log.driver_metrics(execs("stage.aggregate"))
        route_d = log.driver_metrics(execs("stage.route"))
        # parse reads the input; the checkpoint layer writes the parsed rows
        # and reads them back for the route stage
        layers = {
            "scan.self_s": d["probe.scan"],
            "parse.self_s": d["probe.parse"] - d["probe.scan"],
            "checkpoint.self_s": d["stage.parse"] - d["probe.parse"] + d["probe.scan_ckpt"],
            "discover.self_s": d["stage.discover"],
            "enrich.self_s": d["probe.enrich"] - d["probe.scan_ckpt"],
            "route.self_s": d["stage.route"] - d["probe.enrich"],
            "aggregate.self_s": d["stage.aggregate"],
            "driver.self_s": tracer.self_time(call.span),
        }
        out = finish_layers(layers, d[call.span])
        out.update(python_layer(parse_m))
        out.update({
            "parse.head_matched_ratio": extra["head_matched_ratio"],
            "enrich.unmatched_ratio": extra["unmatched_ratio"],
            "route.shuffle_write_bytes": route_m["shuffle_write_bytes"],
            "route.spill_bytes": route_m["spill_bytes"],
            "route.files_written": route_d["files_written"],
            "route.file_bytes_max_over_p50": file_skew(call.file_sizes),
            "route.driver_ms": 1000.0 * tr.driver_time(tracer, log, "stage.route"),
            "aggregate.files_read": agg_d["files_read"],
            "aggregate.bytes_read": agg_d["file_bytes_read"],
            "aggregate.shuffle_write_bytes": agg_m["shuffle_write_bytes"],
            "discover.signatures": extra["signatures"],
            "discover.templates": extra["templates"],
            "discover.drain_s": extra["drain_s"],
            "pipeline.spark_jobs": len(jobs(call.span)),
            "checkpoint.bytes_written": extra["checkpoint_bytes"],
        })
        for stage in ("parse", "discover", "route", "aggregate"):
            out[f"pipeline.stage_wall_ms.{stage}"] = extra["stages"][stage]
        return out


class StreamSmallBatches(Workload):
    """``stream_replay`` with a frozen mapping, one small file per trigger:
    many ``commit_batch`` appends, each rewriting a growing snapshot
    manifest, so fixed per-batch cost dominates."""

    name = "stream_small_batches"
    file_rows = 5_000
    files = 3  # per drain, one per trigger
    # the warm-up drain is as long as a timed one: later triggers of a drain
    # append to a larger snapshot manifest, and they warm up too
    warmup_files = 3

    def __init__(self, work_dir: str, seed: int):
        super().__init__(work_dir, seed)
        self.split = os.path.join(work_dir, "split")
        self.warm_split = os.path.join(work_dir, "split-warmup")
        self.mapping = None
        self.mapping_rows: list = []
        self.discover_s = 0.0

    def gen_rows(self) -> int:
        return self.file_rows * (self.files + self.warmup_files)

    def generate(self) -> dict:
        info = super().generate()
        table = pq.read_table(os.path.join(self.fixture, "sequences.parquet"))
        self._write_split(table, self.split, 0, self.files)
        self._write_split(table, self.warm_split, self.files * self.file_rows, self.warmup_files)
        self.input_rows = self.files * self.file_rows
        self.input_bytes = dir_bytes(self.split)
        return info

    def _write_split(self, table: pa.Table, dst: str, first: int, n_files: int) -> None:
        os.makedirs(dst)
        for j in range(n_files):
            path = os.path.join(dst, f"part-{j:05d}.parquet")
            pq.write_table(table.slice(first + j * self.file_rows, self.file_rows), path)
            os.utime(path, (SPLIT_MTIME_BASE + j, SPLIT_MTIME_BASE + j))

    def setup(self, spark) -> None:
        from log_parser_cli_spark.operators.parse import parse_stage
        from log_parser_cli_spark.plans.pipeline import discover_templates, load_dims

        vocab, heads, _sources = load_dims(spark, self.fixture)
        seq = spark.read.parquet(os.path.join(self.fixture, "sequences.parquet"))
        t0 = time.perf_counter()
        mapping = discover_templates(spark, parse_stage(spark, seq, vocab, heads))
        frozen = mapping.collect()
        self.discover_s = time.perf_counter() - t0
        self.mapping = spark.createDataFrame(frozen, mapping.schema)
        self.mapping_rows = frozen
        out = self.new_out("warmup")
        self._drain(spark, out, self.warm_split)
        shutil.rmtree(out)

    def _drain(self, spark, out: str, split: str):
        from log_parser_cli_spark.streaming.stream import stream_replay

        query = stream_replay(spark, self.fixture, out, self.mapping, max_files_per_trigger=1,
                              stream_dir=split)
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"stream drain failed: {query.exception()}")
        return [p for p in query.recentProgress if p["numInputRows"] > 0]

    def call(self, spark, tracer: tr.Tracer | None, i: int) -> Call:
        out = self.new_out("drain")
        span = f"call.{i}"
        t0 = time.perf_counter()
        if tracer is None:
            progress = self._drain(spark, out, self.split)
        else:
            with tracer.span(span):
                progress = self._drain(spark, out, self.split)
        wall = time.perf_counter() - t0
        return Call(wall, out, routed_file_sizes(out), progress, span if tracer else None)

    def checks(self, call: Call) -> list[tuple[str, bool, str]]:
        if self._input_digest is None:
            self._file_digests = [
                token_digest(pq.read_table(os.path.join(self.split, f"part-{j:05d}.parquet"),
                                           columns=["doc_id", "tokens"]))
                for j in range(self.files)
            ]
            whole = pq.read_table(self.split, columns=["doc_id", "tokens"])
            self._input_digest = token_digest(whole)
        routed = read_routed_rows(call.out_dir, ["doc_id", "tokens", "batch_id"])
        batch_ids = routed.column("batch_id").to_pylist()
        same_batches = len(call.progress) == self.files
        for j, digest in enumerate(self._file_digests):
            rows = routed.filter(pa.array([b == j for b in batch_ids]))
            same_batches &= digest == token_digest(rows)
        n_input = self._input_digest[1]
        return [
            ("row_counts", n_input == routed.num_rows == self.input_rows,
             f"input={n_input} routed={routed.num_rows}"),
            ("token_digest", self._input_digest == token_digest(routed), "doc_id+tokens multiset"),
            ("batch_contents", same_batches,
             f"batches={len(call.progress)}; micro-batch j holds exactly file j"),
        ]

    def layers(self, spark, tracer: tr.Tracer, call: Call) -> dict:
        from log_parser_cli_spark.operators.parse import parse_stage
        from log_parser_cli_spark.plans.pipeline import enrich_stage, load_dims

        for p in call.progress:
            start = _iso_to_epoch(p["timestamp"])
            tracer.add(f"batch.{p['batchId']}", start,
                       start + p["durationMs"]["triggerExecution"] / 1000.0, parent=call.span)
        vocab, heads, sources = load_dims(spark, self.fixture)
        seq = spark.read.parquet(self.split)
        parsed = parse_stage(spark, seq, vocab, heads)
        probe_layers(tracer, [
            ("probe.scan", seq),
            ("probe.parse", parsed),
            ("probe.enrich", enrich_stage(parsed, self.mapping, sources)),
        ])
        routed = read_routed_rows(call.out_dir, ["template_id"]).column("template_id").to_pylist()
        n_unparsed = sum(t == UNPARSED for t in routed)
        manifests = sorted(os.listdir(os.path.join(call.out_dir, "routed", "_snapshots")))
        tids = [r.template_id for r in self.mapping_rows]
        return {
            "drain_s": time_drain(signature_stats(spark, parsed)),
            "signatures": len(tids),
            "templates": len(set(tids)),
            "head_matched_ratio": (len(routed) - n_unparsed) / len(routed),
            "unmatched_ratio": sum(t == UNMATCHED for t in routed) / (len(routed) - n_unparsed),
            "manifest_bytes_last": os.path.getsize(
                os.path.join(call.out_dir, "routed", "_snapshots", manifests[-1])),
            "checkpoint_bytes": dir_bytes(os.path.join(call.out_dir, "_stream_checkpoint")),
        }

    def per_layer(self, tracer: tr.Tracer, log: tr.EventLog, call: Call, extra: dict) -> dict:
        owned_jobs, owned_execs = tr.attribute(tracer, log)
        d = {s.name: s.duration for s in tracer.spans}
        batch_spans = tracer.children(call.span)
        all_jobs = tr.jobs_under(tracer, owned_jobs, call.span)
        m = log.job_metrics(all_jobs)
        execs = [e for s in tr.subtree(tracer, call.span) for e in owned_execs[s]]
        add_batch = [p["durationMs"]["addBatch"] / 1000.0 for p in call.progress]
        job_iv = [(j.submit, j.end) for j in log.jobs.values()]
        batch_driver = [
            max(0.0, a - tr.covered(job_iv, s.start, s.end))
            for a, s in zip(add_batch, batch_spans)
        ]
        trigger = [s.duration for s in batch_spans]
        logs = [(p["durationMs"]["walCommit"] + p["durationMs"]["commitOffsets"]) / 1000.0
                for p in call.progress]
        layers = {
            "scan.self_s": d["probe.scan"],
            "parse.self_s": d["probe.parse"] - d["probe.scan"],
            "enrich.self_s": d["probe.enrich"] - d["probe.parse"],
            "route.self_s": sum(add_batch) - d["probe.enrich"],
            # offset and commit log writes: the stream's checkpoint
            "checkpoint.self_s": sum(logs),
            "stream.self_s": sum(trigger) - sum(add_batch) - sum(logs),
            "driver.self_s": tracer.self_time(call.span),
        }
        out = finish_layers(layers, d[call.span])
        out.update(python_layer(m))
        out.update({
            "parse.head_matched_ratio": extra["head_matched_ratio"],
            "enrich.unmatched_ratio": extra["unmatched_ratio"],
            "route.shuffle_write_bytes": m["shuffle_write_bytes"],
            "route.spill_bytes": m["spill_bytes"],
            "route.files_written": log.driver_metrics(execs)["files_written"],
            "route.file_bytes_max_over_p50": file_skew(call.file_sizes),
            "route.driver_ms": 1000.0 * sum(batch_driver),
            "discover.self_s": self.discover_s,
            "discover.signatures": extra["signatures"],
            "discover.templates": extra["templates"],
            "discover.drain_s": extra["drain_s"],
            "pipeline.spark_jobs": len(all_jobs),
            "checkpoint.bytes_written": extra["checkpoint_bytes"],
            "stream.add_batch_ms_p50": 1000.0 * statistics.median(add_batch),
            "stream.wal_commit_ms_p50": statistics.median(
                p["durationMs"]["walCommit"] for p in call.progress),
            "stream.commit_offsets_ms_p50": statistics.median(
                p["durationMs"]["commitOffsets"] for p in call.progress),
            "stream.batch_driver_ms_p50": 1000.0 * statistics.median(batch_driver),
            "stream.manifest_bytes_last": extra["manifest_bytes_last"],
            "stream.files_per_batch": len(call.file_sizes) / len(call.progress),
        })
        return out


WORKLOADS = {w.name: w for w in (DiscoverFull, StreamSmallBatches)}
