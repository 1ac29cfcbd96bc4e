"""End-to-end checkpointed ER pipeline with stage manifests and resume.

Stage graph (SURVEY.md §3.4):

  pages ─extract(mapInPandas)→ mentions  [ckpt 1, narrow]
        ─block keys (+skew split)→ blocked [ckpt 2, one agg]
        ─self-join→ pairs ─score→ edges   [ckpt 3, the big shuffle]
        ─large/small-star→ clusters       [ckpt 4, iterated]

Each stage writes parquet plus a ``_manifest.json`` (stage name, resume
key, row count, per-partition counts, write time). The resume key is the
manifest version, the input fingerprint, the stage's own parameters and
the write time of the stage it reads. ``run_pipeline`` skips a stage when
its manifest carries the current key — a rerun after a crash resumes
mid-run without recomputation (north rule), while a rerun under other
parameters recomputes that stage and, through the write time, every stage
downstream of it.
Counters come from ``df.observe`` where cheap and from the manifest rows
otherwise; they are also the per-partition lineage record.

On a real cluster the parquet roots live on HDFS/S3 and the same logic
holds; Iceberg would add snapshot ids to the manifest — parquet + manifest
is the sandbox-portable equivalent (TESTDATA.md has no Iceberg catalog).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indian_address_parser_spark.eval.pairwise import pairwise_scores
from indian_address_parser_spark.operators.blocking import with_block_key
from indian_address_parser_spark.operators.cc import attach_clusters, connected_components
from indian_address_parser_spark.operators.extract import extract_mentions
from indian_address_parser_spark.operators.pairs import PAIR_INPUT_COLS, candidate_pairs
from indian_address_parser_spark.operators.scoring import DEFAULT_THRESHOLD, FIELD_WEIGHTS, score_pairs

STAGES = ("mentions", "blocked", "edges", "clusters")

# Part of every resume key: bump when a stage's output schema or semantics
# change, so manifests written by older code never resume.
MANIFEST_VERSION = 2


def _manifest_path(root: str, stage: str) -> str:
    return os.path.join(root, stage, "_manifest.json")


# semantic per-stage counters recorded in the manifest (observability /
# lineage record alongside the per-partition row counts)
_STAGE_COUNTERS = {
    "mentions": lambda: [
        F.count(F.col("pincode")).alias("with_pincode"),
        F.count(F.col("city")).alias("with_city"),
        F.count(F.col("locality")).alias("with_locality"),
    ],
    "blocked": lambda: [
        F.countDistinct("block_key").alias("distinct_blocks"),
        F.countDistinct("join_key").alias("distinct_join_keys"),
        F.max("block_size").alias("max_block_size"),
    ],
    "edges": lambda: [
        F.min("score").alias("min_score"),
        F.avg("score").alias("avg_score"),
    ],
    "clusters": lambda: [
        F.countDistinct("cluster_id").alias("n_clusters"),
    ],
}


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the classpath (the
    north star checkpoints stages to Iceberg; this sandbox has no jar, so
    the parquet+manifest path below is the tested fallback)."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _write_stage(
    df: DataFrame,
    root: str,
    stage: str,
    key: dict,
    iceberg_prefix: str | None = None,
) -> DataFrame:
    """Write stage output + manifest; return the re-read DataFrame (so the
    downstream plan reads from storage — cutting lineage like a checkpoint).

    With ``iceberg_prefix`` (e.g. ``catalog.db``) AND the Iceberg runtime on
    the classpath, stages land in Iceberg tables and the manifest records
    the snapshot id (ACID commit + time-travel for resume); otherwise plain
    parquet. The manifest is written either way — it carries the lineage
    counters Iceberg's own snapshot summary does not."""
    spark = df.sparkSession
    storage: dict = {"format": "parquet"}
    if iceberg_prefix and iceberg_available(spark):  # pragma: no cover - needs jar
        table = f"{iceberg_prefix}.{stage}"
        df.writeTo(table).using("iceberg").createOrReplace()
        out = spark.read.table(table)
        snap = (
            spark.sql(f"SELECT snapshot_id FROM {table}.snapshots "
                      "ORDER BY committed_at DESC LIMIT 1").collect()
        )
        storage = {"format": "iceberg", "table": table,
                   "snapshot_id": snap[0][0] if snap else None}
        return _finish_manifest(out, root, stage, key, storage)
    path = os.path.join(root, stage)
    df.write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)
    return _finish_manifest(out, root, stage, key, storage)


def _finish_manifest(
    out: DataFrame, root: str, stage: str, key: dict, storage: dict
) -> DataFrame:
    per_part = (
        out.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    )
    counters = {}
    agg_exprs = _STAGE_COUNTERS.get(stage)
    if agg_exprs:
        row = out.agg(*agg_exprs()).collect()[0]
        counters = {k: (v if not hasattr(v, "item") else v.item()) for k, v in row.asDict().items()}
    manifest = {
        "stage": stage,
        "key": key,
        "rows": sum(r["count"] for r in per_part),
        "partitions": {str(r["pid"]): r["count"] for r in per_part},
        "counters": counters,
        "storage": storage,
        "written_at": time.time(),
    }
    os.makedirs(os.path.join(root, stage), exist_ok=True)
    with open(_manifest_path(root, stage), "w") as f:
        json.dump(manifest, f)
    return out


def _valid_manifest(root: str, stage: str, key: dict) -> dict | None:
    """The stage's manifest if it was written under ``key``, else None."""
    try:
        with open(_manifest_path(root, stage)) as f:
            manifest = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    if manifest.get("stage") != stage or manifest.get("key") != key:
        return None
    return manifest


def _input_fingerprint(pages: DataFrame) -> str:
    row = pages.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(url))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    work_dir: str,
    threshold: float = DEFAULT_THRESHOLD,
    max_block_size: int = 200,
    labeled_pairs: DataFrame | None = None,
    resume: bool = True,
    iceberg_prefix: str | None = None,
    cc_stars: str = "auto",
    cc_giant_degree_threshold: int = 1_000_000,
    cc_audit_min_nodes: int = 100_000_000,
    _cc_strategy_log: list | None = None,
) -> dict:
    """Run (or resume) the full pipeline. Returns stage row counts, timings
    and (if labeled_pairs given) pairwise P/R/F1. ``iceberg_prefix`` opts
    stage checkpoints into Iceberg tables when the runtime jar is present
    (see _write_stage); manifests drive resume either way. ``cc_stars``
    picks the connected-components round strategy ("auto" measures the max
    node degree per round and switches window→join past the giant-component
    threshold; "window" for bounded component sizes, "join" for graphs with
    possible giant components — see operators/cc.py).
    ``cc_giant_degree_threshold`` tunes the auto switch;
    ``cc_audit_min_nodes`` gates CC's runtime hash-collision audit on graph
    size (see operators/cc.py — 0 forces it); ``_cc_strategy_log`` (tests)
    receives the per-round strategy choices."""
    os.makedirs(work_dir, exist_ok=True)
    fp = _input_fingerprint(pages)
    report: dict = {"input_fingerprint": fp, "stages": {}, "resumed": []}
    upstream = None  # write time of the last stage run or resumed

    def stage(name: str, params: dict, build):
        nonlocal upstream
        key = {"version": MANIFEST_VERSION, "input_fingerprint": fp,
               "params": params, "upstream": upstream}
        key = json.loads(json.dumps(key))  # compare equal to the stored form
        manifest = _valid_manifest(work_dir, name, key) if resume else None
        if manifest is not None:
            report["resumed"].append(name)
            report["stages"][name] = manifest
            upstream = manifest["written_at"]
            storage = manifest.get("storage", {})
            if storage.get("format") == "iceberg":  # pragma: no cover - needs jar
                return spark.read.table(storage["table"])
            return spark.read.parquet(os.path.join(work_dir, name))
        t0 = time.perf_counter()
        out = _write_stage(build(), work_dir, name, key, iceberg_prefix)
        with open(_manifest_path(work_dir, name)) as f:
            report["stages"][name] = json.load(f)
        report["stages"][name]["seconds"] = time.perf_counter() - t0
        upstream = report["stages"][name]["written_at"]
        return out

    mentions = stage("mentions", {}, lambda: extract_mentions(pages))
    # checkpoint only the projection the pair join reads — the wide mention
    # payload (url, normalized text) is re-joined from the mentions stage
    # where needed and would otherwise dominate this stage's write volume
    blocked = stage(
        "blocked",
        {"max_block_size": max_block_size},
        lambda: with_block_key(mentions, max_block_size).select(*PAIR_INPUT_COLS),
    )
    edges = stage(
        "edges",
        {"threshold": threshold, "spec": FIELD_WEIGHTS},
        lambda: score_pairs(candidate_pairs(blocked), threshold),
    )
    clusters = stage(
        "clusters",
        {"cc_stars": cc_stars},
        lambda: attach_clusters(
            mentions.select("mention_id", "url", "normalized"),
            connected_components(
                edges,
                stars=cc_stars,
                giant_degree_threshold=cc_giant_degree_threshold,
                audit_min_nodes=cc_audit_min_nodes,
                _strategy_log=_cc_strategy_log,
            ),
        ),
    )

    if labeled_pairs is not None:
        report["pairwise"] = pairwise_scores(clusters, labeled_pairs)
    return report
