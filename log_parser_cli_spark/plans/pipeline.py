"""The parse → enrich → route → aggregate pipeline (the engine's flagship job).

Spark-first re-expression of the reference CLI's full run (SURVEY.md §3.1-3.2):

| reference                                   | here                                  |
|---------------------------------------------|---------------------------------------|
| stream file in 50k-line batches             | partitioned scan of the token table   |
| LLM template discovery per batch            | distinct-signature agg + driver Drain |
| replay: re-match all chunks vs final library| single pass vs the frozen mapping     |
| per-library chunk fan-out (chunk-manager)   | partitionBy(sink, template_id) write  |
| match counts + conflict/failure reports     | sink_counts/ntok_hist/failures tables |

Scale shape (designed for 10^12 rows / 1000 executors, exercised on local[N]):
- stage boundaries are shuffle exchanges; the only wide op on the full fact
  stream is the final fan-out repartition (salted: sink × template × doc-hash
  salt) and the aggregate shuffles, which run on pre-combined map-side rows;
- template mapping and source dims are broadcast (KB-MB) → all enrichment
  joins are broadcast-hash, no shuffle;
- discovery aggregates (source, content_sig) — cardinality ~templates, not
  rows — then runs Drain on the driver over that tiny set;
- AQE handles the deliberately-skewed hot source; the salt bounds the largest
  fan-out task.
"""

from __future__ import annotations

import os
import re
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_parser_cli_spark.operators.drain import cluster_signatures
from log_parser_cli_spark.operators.parse import parse_stage
from log_parser_cli_spark.plans.checkpoint import Manifest

UNPARSED = "__UNPARSED__"
UNMATCHED = "__UNMATCHED__"
# the routed table's columns: content/content_sig are derivable (render +
# mask of tokens), so they are not carried through the fan-out shuffle;
# tokens ride untouched
ROUTED_COLUMNS = (
    "doc_id", "tokens", "n_tok", "source", "sink", "template_id",
    "template_star", "variables", "n_vars",
)
_PART_FILE = re.compile(r"part-(\d+).*\.parquet$")


@dataclass
class PipelineResult:
    out_dir: str
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=dict)


def load_dims(spark: SparkSession, fixture_dir: str) -> tuple[list[tuple[int, str]], dict[str, tuple[str, int]], DataFrame]:
    """Load vocab + source-head config (small driver-side dims) + sources df."""
    vocab_rows = [
        (int(r.token_id), r.text)
        for r in spark.read.parquet(os.path.join(fixture_dir, "vocab.parquet")).collect()
    ]
    sources_df = spark.read.parquet(os.path.join(fixture_dir, "sources.parquet"))
    source_heads = {
        r.source: (r.head_pattern, int(r.content_group)) for r in sources_df.collect()
    }
    return vocab_rows, source_heads, sources_df


def discover_templates(
    spark: SparkSession, parsed: DataFrame, max_signatures_per_source: int = 10_000
) -> DataFrame:
    """Distinct-signature aggregation + driver-side Drain → signature mapping.

    Returns the mapping DataFrame (source, content_sig, template_id,
    template_star) — the frozen "template library" equivalent. Deterministic:
    ids ordered by first-seen doc_id then signature (SURVEY.md §7.4).

    Driver safety: the collected set is CAPPED at ``max_signatures_per_source``
    per source (top-N by row count, deterministic tie-break) — if mask classes
    flap on pathological vocab and distinct signatures explode, the driver
    stays bounded and overflow signatures simply get no mapping row, routing
    those rows to UNMATCHED/sink-failures (the reference's unresolved-samples
    path, pipeline.ts:142).
    """
    from pyspark.sql import Window

    sig_stats_df = (
        parsed.filter(F.col("head_matched"))
        .groupBy("source", "content_sig")
        .agg(F.count("*").alias("n_rows"), F.min("doc_id").alias("first_doc"))
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("n_rows"), F.asc("first_doc"), F.asc("content_sig")
    )
    sig_stats = (
        sig_stats_df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_signatures_per_source)
        .drop("_rk")
        .collect()
    )
    per_source: dict[str, list[tuple[str, int, str]]] = {}
    for r in sig_stats:
        per_source.setdefault(r.source, []).append((r.content_sig, int(r.n_rows), r.first_doc))
    mapping_rows = []
    for source in sorted(per_source):
        # first-seen order = lexicographic doc-id rank (zero-padded ids ⇒
        # arrival order; arbitrary non-numeric ids still order deterministically
        # — never parse doc_id arithmetic)
        by_doc = sorted(per_source[source], key=lambda t: (t[2], t[0]))
        sig_rows = [(sig, n, rank) for rank, (sig, n, _doc) in enumerate(by_doc)]
        clusters = cluster_signatures(sig_rows)
        order = sorted(clusters, key=lambda c: (c.first_seen, c.template_words))
        for idx, cluster in enumerate(order, start=1):
            tid = f"{source}#{idx}"
            star = cluster.template_star
            for sig in cluster.signatures:
                mapping_rows.append((source, sig, tid, star))
    return spark.createDataFrame(
        mapping_rows, "source string, content_sig string, template_id string, template_star string"
    )


def extend_mapping(
    spark: SparkSession,
    frozen_mapping: DataFrame,
    parsed_new: DataFrame,
    max_signatures_per_source: int = 10_000,
) -> DataFrame:
    """Incremental library evolution: extend a frozen mapping with a new batch.

    The reference persists ``nextTemplateNumber`` and, on later runs, matches
    against the existing library first and appends templates only for what is
    still unmatched, never renumbering or widening stored templates
    (sqlite-template-manager.ts:79-85, pipeline.ts:109-121). Here:

    - existing (source, content_sig) rows pass through BYTE-IDENTICAL,
    - novel signatures that are star-compatible with an existing cluster
      (same word count, every non-``<*>`` template word equal) map to that
      existing template_id — the "pre-match against known templates" step,
    - the remaining truly-novel signatures are Drain-clustered per source and
      appended with dense ids ``source#N+1...`` (N = current max ordinal),
      deterministic first-seen order.

    Both driver-side sets (frozen distinct templates, capped novel signatures)
    are small; the new batch is scanned once.
    """
    from pyspark.sql import Window

    from log_parser_cli_spark.functions.masking import signature_to_star

    novel_stats_df = (
        parsed_new.filter(F.col("head_matched"))
        .groupBy("source", "content_sig")
        .agg(F.count("*").alias("n_rows"), F.min("doc_id").alias("first_doc"))
        .join(frozen_mapping.select("source", "content_sig"), ["source", "content_sig"], "left_anti")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("n_rows"), F.asc("first_doc"), F.asc("content_sig")
    )
    novel = (
        novel_stats_df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_signatures_per_source)
        .drop("_rk")
        .collect()
    )
    frozen_rows = frozen_mapping.collect()
    if not novel:
        return frozen_mapping

    # existing clusters per source: (template_id, star words), max ordinal
    clusters_by_source: dict[str, list[tuple[str, list[str]]]] = {}
    max_ordinal: dict[str, int] = {}
    seen_tid: set[str] = set()
    for r in frozen_rows:
        if r.template_id not in seen_tid:
            seen_tid.add(r.template_id)
            clusters_by_source.setdefault(r.source, []).append(
                (r.template_id, r.template_star.split(" "))
            )
        try:
            ordinal = int(r.template_id.rsplit("#", 1)[1])
        except (IndexError, ValueError):
            ordinal = 0
        max_ordinal[r.source] = max(max_ordinal.get(r.source, 0), ordinal)

    def _id_order(entry: tuple[str, list[str]]):
        tid = entry[0]
        try:
            return (0, int(tid.rsplit("#", 1)[1]), tid)
        except (IndexError, ValueError):
            return (1, 0, tid)

    # star-compat pre-match scans clusters in dense-id (discovery/precedence)
    # order — collect() order is parquet file-listing order, NOT deterministic
    for src in clusters_by_source:
        clusters_by_source[src].sort(key=_id_order)

    def star_compatible(star_words: list[str], sig_words: list[str]) -> bool:
        return len(star_words) == len(sig_words) and all(
            s == "<*>" or s == w for s, w in zip(star_words, sig_words)
        )

    new_rows: list[tuple[str, str, str, str]] = []
    leftover: dict[str, list[tuple[str, int, str]]] = {}
    for r in novel:
        sig_star_words = signature_to_star(r.content_sig).split(" ")
        target = None
        for tid, star_words in clusters_by_source.get(r.source, []):
            if star_compatible(star_words, sig_star_words):
                target = (tid, " ".join(star_words))
                break
        if target is not None:
            new_rows.append((r.source, r.content_sig, target[0], target[1]))
        else:
            leftover.setdefault(r.source, []).append(
                (r.content_sig, int(r.n_rows), r.first_doc)
            )
    # truly-novel clusters: Drain per source, appended ids source#N+1...
    for source in sorted(leftover):
        # first-seen order = lexicographic doc-id rank (doc ids are
        # zero-padded, so lexicographic == arrival order; arbitrary ids
        # still give a deterministic insertion order)
        by_doc = sorted(leftover[source], key=lambda t: (t[2], t[0]))
        ranked = [(sig, n, rank) for rank, (sig, n, _doc) in enumerate(by_doc)]
        clusters = cluster_signatures(ranked)
        order = sorted(clusters, key=lambda c: (c.first_seen, c.template_words))
        base = max_ordinal.get(source, 0)
        for idx, cluster in enumerate(order, start=1):
            tid = f"{source}#{base + idx}"
            star = cluster.template_star
            for sig in cluster.signatures:
                new_rows.append((source, sig, tid, star))
    appended = spark.createDataFrame(
        new_rows, "source string, content_sig string, template_id string, template_star string"
    )
    return frozen_mapping.unionByName(appended)


def refine_mapping(
    spark: SparkSession,
    parsed: DataFrame,
    mapping: DataFrame,
    seed_library: list[dict] | None = None,
    samples_per_template: int = 20,
) -> tuple[DataFrame, list[dict]]:
    """Route the discovered clusters through the reference's full
    integrate → conflict → delete → re-queue machine (pipeline.ts:130-165,
    355-451, 561-612) and return the refined signature mapping.

    Spark-first shape: the state machine runs over the DISTINCT-SIGNATURE
    dimension (cardinality ~templates, never the fact stream). Each signature
    is represented by its first-seen content; candidates are the Drain
    clusters exported as anchored regex templates (plans/export.py) in
    discovery order; conflicts are checked against per-template stored samples
    scoped to the candidate's source. After the queue drains, the FINAL
    library re-matches every signature representative — the reference's
    replay-vs-final-library semantics — so orphans re-queued after their
    rightful template was already integrated still land correctly. Signatures
    no surviving template matches get no mapping row (→ UNMATCHED, the
    unresolved-samples path, pipeline.ts:451-456).

    ``seed_library``: pre-existing template dicts (template_id, source,
    pattern, created_at, template_star) — e.g. a carried-over library whose
    overbroad entries the machine should detect and delete.

    Returns (refined mapping DataFrame, per-candidate reports).
    """
    from log_parser_cli_spark.operators.matcher import match_templates
    from log_parser_cli_spark.plans.export import export_template_library
    from log_parser_cli_spark.plans.library_ops import discover_with_refine

    sig_df = (
        parsed.filter(F.col("head_matched"))
        .groupBy("source", "content_sig")
        .agg(F.min(F.struct("doc_id", "content")).alias("_f"))
        .select(
            F.col("_f.doc_id").alias("doc_id"),
            "source",
            "content_sig",
            F.col("_f.content").alias("content"),
        )
    )
    enriched_sigs = sig_df.join(F.broadcast(mapping), ["source", "content_sig"])
    candidates = export_template_library(spark, enriched_sigs)
    candidates.sort(key=lambda t: (t["source"], t["created_at"], t["template_id"]))

    library = [dict(t) for t in (seed_library or [])]
    base = sig_df.select("doc_id", "source", "content_sig", "content")
    seeded = match_templates(spark, base, library)
    matches = seeded.filter(F.col("template_id").isNotNull())
    pending = seeded.filter(F.col("template_id").isNull()).drop("template_id", "variables")
    res = discover_with_refine(
        spark,
        library,
        matches,
        pending,
        candidates,
        pin_state=True,
        samples_per_template=samples_per_template,
        sample_scope_col="source",
    )
    final = match_templates(spark, base, res["library"], version=1)
    star_of = {t["template_id"]: t.get("template_star", "") for t in res["library"]}
    rows = [
        (r["source"], r["content_sig"], r["template_id"], star_of.get(r["template_id"], ""))
        for r in final.filter(F.col("template_id").isNotNull())
        .select("source", "content_sig", "template_id")
        .collect()
    ]
    refined = spark.createDataFrame(
        rows, "source string, content_sig string, template_id string, template_star string"
    )
    return refined, res["reports"]


def enrich_stage(parsed: DataFrame, mapping: DataFrame, sources_df: DataFrame) -> DataFrame:
    """Broadcast-join enrichment (J1): signature → template, source → sink.

    Pure Catalyst; both build sides are tiny ⇒ broadcast-hash joins, no
    shuffle. Variable extraction is a JVM higher-order-function expression
    (zip content words against the template's <*> skeleton) — no Python.
    """
    enriched = (
        parsed.join(F.broadcast(mapping), ["source", "content_sig"], "left")
        .join(F.broadcast(sources_df.select("source", "vendor", "sink")), ["source"], "left")
        .withColumn(
            "template_id",
            F.when(~F.col("head_matched"), F.lit(UNPARSED)).otherwise(
                F.coalesce(F.col("template_id"), F.lit(UNMATCHED))
            ),
        )
        .withColumn(
            "sink",
            F.when(
                F.col("template_id").isin(UNPARSED, UNMATCHED), F.lit("sink-failures")
            ).otherwise(F.col("sink")),
        )
        .withColumn("template_star", F.coalesce(F.col("template_star"), F.lit("")))
    )
    # word-level variables: positions where the template skeleton disagrees
    # with the content (i.e. <*>-bearing words). v1..vN naming (F7 semantics).
    return enriched.withColumn(
        "word_vars",
        F.when(
            F.col("template_star") == "",
            F.expr("CAST(array() AS array<string>)"),
        ).otherwise(
            F.expr(
                "filter(zip_with(split(content, ' '), split(template_star, ' '),"
                " (w, t) -> IF(t = w, NULL, w)), x -> x IS NOT NULL)"
            )
        ),
    ).withColumn(
        "variables",
        F.expr(
            "map_from_entries(transform(word_vars,"
            " (w, i) -> struct(concat('v', i + 1) AS key, w AS value)))"
        ),
    ).withColumn("n_vars", F.size("word_vars"))


def route_stage(
    enriched: DataFrame,
    out_dir: str,
    salt_buckets: int = 16,
    shuffle_partitions: int | None = None,
    retain_snapshots: int = 2,
) -> str:
    """Deterministic fan-out write partitioned by (sink, template_id) — K1.

    Salting: within one (sink, template_id) partition, rows spread over
    ``salt_buckets`` tasks keyed by hash(doc_id) — the hot source cannot
    serialize into one writer task. Original ``tokens`` ride along untouched.

    The write is a SNAPSHOT COMMIT (plans/snapshots.py): data lands in an
    immutable uniquely-named dir and becomes visible only when the manifest
    links in atomically — SURVEY §2.1's Iceberg prescription for K1, vendored.
    A crashed or concurrent re-route never leaves readers a half-written or
    mixed fan-out; the previous snapshot stays readable until vacuumed.
    """
    from log_parser_cli_spark.plans.snapshots import SnapshotTable

    routed_path = os.path.join(out_dir, "routed")
    table = SnapshotTable(routed_path)
    table.commit_overwrite(
        enriched.select(*ROUTED_COLUMNS).repartition(
            F.col("sink"), F.col("template_id"), F.pmod(F.hash("doc_id"), F.lit(salt_buckets))
        ),
        partition_by=("sink", "template_id"),
    )
    # auto-vacuum is safe against concurrent committers: never-referenced
    # dirs are age-gated (snapshots.vacuum orphan_grace_s); retention is a
    # caller policy (jobs.py --retain-snapshots / --vacuum for maintenance)
    table.vacuum(keep_last=retain_snapshots)
    return routed_path


def read_routed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current committed snapshot of a run's routed table (batch AND
    streaming sinks both commit through SnapshotTable); falls back to a
    plain parquet read only for legacy pre-snapshot run dirs."""
    from log_parser_cli_spark.plans.snapshots import SnapshotTable

    root = os.path.join(out_dir, "routed")
    if SnapshotTable.is_snapshot_dir(root):
        return SnapshotTable(root).read(spark)
    if os.path.isdir(root) and any(n.startswith("data-") for n in os.listdir(root)):
        # staged dirs but no manifest: a writer crashed before its first
        # commit point — that is "table does not exist yet", never "read the
        # partial bytes"
        raise FileNotFoundError(f"{root}: staged data but no committed snapshot")
    return spark.read.parquet(root)


def routed_data_dirs(out_dir: str) -> list[str]:
    """Absolute physical dirs (sink=/template_id= roots) of the current routed
    snapshot — for file-layout inspection (skew reports, tests)."""
    from log_parser_cli_spark.plans.snapshots import SnapshotTable

    root = os.path.join(out_dir, "routed")
    if SnapshotTable.is_snapshot_dir(root):
        table = SnapshotTable(root)
        return [os.path.join(root, d) for d in table.manifest()["data_dirs"]]
    return [root]


def aggregate_stage(spark: SparkSession, routed: DataFrame, out_dir: str) -> dict[str, str]:
    """Per-sink aggregates: template counts (A2) + n_tok histogram (A13).

    ``routed`` may be the in-flight enriched stream (no re-scan of the fan-out
    files — the aggregates reduce the same rows the route stage shuffles) or a
    read-back of the routed table (verification mode). Both aggregates are
    map-side-combinable group-bys on tiny key cardinality.
    """
    counts_path = os.path.join(out_dir, "sink_counts")
    hist_path = os.path.join(out_dir, "ntok_hist")

    def write_counts():
        (
            routed.groupBy("source", "sink", "template_id", "template_star")
            .agg(F.count("*").alias("n_sequences"), F.sum("n_tok").alias("sum_n_tok"))
            .write.mode("overwrite")
            .parquet(counts_path)
        )

    def write_hist():
        (
            routed.groupBy("source", "sink", "template_id", "n_tok")
            .agg(F.count("*").alias("cnt"))
            .write.mode("overwrite")
            .parquet(hist_path)
        )

    # Two independent reductions — submit concurrently (Spark's scheduler
    # interleaves their stages; halves the serial action latency).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(write_counts), pool.submit(write_hist)]
        for fut in futures:
            fut.result()
    return {"sink_counts": counts_path, "ntok_hist": hist_path}


def written_files(path: str) -> list[tuple[int, int]]:
    """(partition_id, rows) of every parquet file one finished Spark write
    left under ``path`` (partition subdirs included), read from the file
    footers on the driver — exact, and no Spark job.

    ``partition_id`` is the writer task's ``part-NNNNN`` number; a
    partitioned write leaves one file per (task, partition value), so an id
    can repeat. Raises FileNotFoundError when ``path`` holds no ``_SUCCESS``
    marker (missing, unfinished or non-local dir): never a silent 0.
    """
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        raise FileNotFoundError(f"{path}: no _SUCCESS marker, not a finished write")
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for name in sorted(names):
            m = _PART_FILE.match(name)
            if m:
                rows = pq.read_metadata(os.path.join(root, name)).num_rows
                files.append((int(m.group(1)), rows))
    return files


def _append_run_metrics(
    out_dir: str, stage: str, run_id: str, wall_ms: float, files: list[tuple[int, int]]
) -> None:
    """Append one ``run_metrics`` row per written file (K4 analog), with
    pyarrow on the driver."""
    n = len(files)
    table = pa.table(
        {
            "partition_id": pa.array([p for p, _ in files], pa.int32()),
            "count": pa.array([c for _, c in files], pa.int64()),
            "stage": pa.array([stage] * n, pa.string()),
            "run_id": pa.array([run_id] * n, pa.string()),
            "wall_ms": pa.array([wall_ms] * n, pa.float64()),
        }
    )
    metrics_dir = os.path.join(out_dir, "run_metrics")
    os.makedirs(metrics_dir, exist_ok=True)
    pq.write_table(table, os.path.join(metrics_dir, f"{stage}-{uuid.uuid4().hex[:12]}.parquet"))


def run_replay(
    spark: SparkSession,
    fixture_dir: str,
    out_dir: str,
    mapping_df: DataFrame,
    salt_buckets: int = 16,
    seq_df: DataFrame | None = None,
    retain_snapshots: int = 2,
) -> int:
    """Lean scoring pass — the reference's replay phase
    (replay-matcher.ts:40-111): ``run_pipeline`` against the frozen
    ``mapping_df`` with no parse checkpoint. Returns the routed row count."""
    result = run_pipeline(
        spark,
        fixture_dir,
        out_dir,
        salt_buckets=salt_buckets,
        mapping_df=mapping_df,
        seq_df=seq_df,
        checkpoint_parse=False,
        retain_snapshots=retain_snapshots,
    )
    return result.counts["parsed"]


def run_pipeline(
    spark: SparkSession,
    fixture_dir: str,
    out_dir: str,
    run_id: str = "run-1",
    resume: bool = False,
    lineage: bool = False,
    salt_buckets: int = 16,
    mapping_df: DataFrame | None = None,
    seq_df: DataFrame | None = None,
    checkpoint_parse: bool = True,
    derive_heads: bool = False,
    infer_missing_sources: bool = False,
    refine: bool = False,
    seed_library: list[dict] | None = None,
    retain_snapshots: int = 2,
) -> PipelineResult:
    """Full parse → enrich → route → aggregate job.

    ``mapping_df``: a frozen template mapping runs match-only (the
    reference's --match-only path); otherwise discovery runs first.
    ``checkpoint_parse=True`` (default) writes the parsed stream to parquet,
    so ``resume=True`` can skip stages committed in the manifest. With
    ``False`` the run is one-shot: in match-only mode parse streams straight
    into the route shuffle; with discovery the parsed stream is persisted
    DISK_ONLY for its two consumers. A crash then restarts from stage 1.
    ``lineage=True`` appends one ``run_metrics`` row per written file of the
    parse and route stages (needs ``checkpoint_parse``).
    ``derive_heads`` / ``infer_missing_sources`` derive head patterns /
    missing sources from the token table before parsing; ``refine`` runs the
    discovered clusters through ``refine_mapping`` (against an optional
    ``seed_library``) and writes ``out_dir/refine_reports.json``.

    Row counts come from the footers of the files each stage writes
    (``written_files``): ``counts["parsed"]`` is the parse stage's rows, or
    in one-shot mode the routed rows — every parsed row is routed exactly
    once, as both enrich joins are left joins on unique keys.
    """
    if lineage and not checkpoint_parse:
        raise ValueError("lineage=True needs checkpoint_parse=True (no parse output to count)")
    result = PipelineResult(out_dir=out_dir)
    manifest = Manifest(out_dir, run_id)
    vocab_rows, source_heads, sources_df = load_dims(spark, fixture_dir)
    if seq_df is None:
        seq_df = spark.read.parquet(os.path.join(fixture_dir, "sequences.parquet"))
    if infer_missing_sources:
        from log_parser_cli_spark.operators.parse import infer_sources

        seq_df = infer_sources(spark, seq_df, vocab_rows, source_heads)
    if derive_heads:
        from log_parser_cli_spark.operators.head_derive import derive_heads_stage

        source_heads = derive_heads_stage(spark, seq_df, vocab_rows)

    parsed_path = os.path.join(out_dir, "parsed")
    discover = mapping_df is None

    def stage(name: str, fn):
        """Run ``fn`` → (dir it wrote or None, manifest info); count the
        written dir's rows and commit the stage to the manifest."""
        if resume and manifest.is_done(name):
            result.stages_skipped.append(name)
            return
        t0 = time.time()
        written, info = fn()
        files = written_files(written) if written is not None else None
        wall_ms = (time.time() - t0) * 1000.0
        if files is not None:
            info["rows"] = sum(n for _, n in files)
            if lineage:
                _append_run_metrics(out_dir, name, run_id, wall_ms, files)
        manifest.commit(name, wall_ms=wall_ms, **info)
        result.stages_run.append(name)

    # -- stage 1: parse
    parsed: DataFrame | None = None

    def do_parse():
        nonlocal parsed
        parsed = parse_stage(spark, seq_df, vocab_rows, source_heads)
        if checkpoint_parse:
            parsed.write.mode("overwrite").parquet(parsed_path)
            parsed = spark.read.parquet(parsed_path)
            return parsed_path, {}
        if discover:
            # discovery and route both read the stream. Persist it on local
            # disk, not in executor memory: a memory cache of the fat parsed
            # stream competes with the route shuffle's execution memory and
            # thrashes (measured route 33 s from a memory cache vs 23 s from
            # DISK_ONLY at bench scale), and no persist re-pays the Python
            # parse per consumer (measured 53-56 s total vs ~46 s).
            from pyspark import StorageLevel

            parsed = parsed.persist(StorageLevel.DISK_ONLY)
        return None, {}

    stage("parse", do_parse)
    if parsed is None:
        parsed = spark.read.parquet(parsed_path)

    # -- stage 2: discover (skipped in match-only mode)
    mapping_path = os.path.join(out_dir, "template_mapping")
    if discover:

        def do_discover():
            mapping = discover_templates(spark, parsed)
            info: dict = {}
            if refine:
                import json as _json

                mapping, reports = refine_mapping(
                    spark, parsed, mapping, seed_library=seed_library
                )
                with open(os.path.join(out_dir, "refine_reports.json"), "w") as f:
                    _json.dump(reports, f, indent=1)
                info["refine_accepted"] = sum(1 for r in reports if r["accepted"])
                info["refine_deleted"] = sorted({d for r in reports for d in r["deleted_ids"]})
            mapping.write.mode("overwrite").parquet(mapping_path)
            info["templates"] = mapping.select("template_id").distinct().count()
            return None, info

        stage("discover", do_discover)
        mapping_df = spark.read.parquet(mapping_path)

    # -- stage 3: enrich + route
    enriched = enrich_stage(parsed, mapping_df, sources_df)

    def do_route():
        routed_path = route_stage(
            enriched, out_dir, salt_buckets=salt_buckets, retain_snapshots=retain_snapshots
        )
        (data_dir,) = routed_data_dirs(out_dir)
        return data_dir, {"routed_path": routed_path}

    stage("route", do_route)

    # -- stage 4: aggregate from the routed files. Counter-intuitive but
    #    measured: the aggregates touch 5 tiny columns, so a column-pruned
    #    re-read of the fan-out parquet (no tokens, no variables) is ~2×
    #    cheaper than re-deriving the enriched stream from the parse cache —
    #    and the gap widens at scale where the cache may not be resident.
    stage("aggregate", lambda: (None, aggregate_stage(spark, read_routed(spark, out_dir), out_dir)))

    if parsed.is_cached:
        parsed.unpersist()
    counted = manifest.stage_info("parse" if checkpoint_parse else "route") or {}
    if "rows" in counted:
        result.counts["parsed"] = counted["rows"]
    return result
