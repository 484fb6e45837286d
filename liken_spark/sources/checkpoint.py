"""Stage checkpointing with per-partition lineage + resume.

North-rule requirement: "every stage checkpoints to Iceberg with
per-partition lineage and row-count/signature metrics so the pipeline
resumes mid-run."

pyspark bundles no Iceberg runtime, so stages are plain parquet
directories, each with a JSON manifest carrying the metadata. The
manifest records:

- row_count, schema, an order-insensitive xxhash64 XOR checksum of all
  columns (cheap, distributed, deterministic)
- per-partition lineage: rows per spark partition at write time
- the stage name + logical params fingerprint, so a resume only reuses a
  checkpoint produced by the *same* logical stage

Count, checksum and lineage come from ONE aggregation job per stage.

``StageCheckpointer.materialize(name, df)`` returns the checkpointed
DataFrame — reading back from storage when a valid checkpoint exists
(that's the resume path: a killed run re-executes only the stages whose
checkpoints are missing or stale). ``checkpointed_dedup`` runs the
north-star stage graph (``jobs.dedup_corpus``'s) with ``materialize`` as
its sink."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F


def _manifest_stats(df: DataFrame) -> tuple[int, int, list[dict]]:
    """(row count, checksum, per-partition lineage) in one job: per input
    partition, its row count and the bit_xor of the rows' xxhash64 over
    all columns. The count is the sum over partitions and the checksum
    their XOR — order-insensitive and overflow-free (ANSI-safe)."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
        )
        .collect()
    )
    lineage, checksum = [], 0
    for r in sorted(rows, key=lambda r: r["pid"]):
        lineage.append({"partition": int(r["pid"]), "rows": int(r["rows"])})
        checksum ^= int(r["h"])
    return sum(p["rows"] for p in lineage), checksum, lineage


@dataclass
class StageCheckpointer:
    base_path: str
    run_id: str
    verify_checksum_on_resume: bool = False
    stages: list[dict] = field(default_factory=list)

    def _dir(self, name: str) -> str:
        return os.path.join(self.base_path, self.run_id, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "_liken_manifest.json")

    def has_valid(self, name: str, params_fingerprint: str = "") -> bool:
        mp = self._manifest_path(name)
        if not os.path.exists(mp):
            return False
        try:
            with open(mp) as f:
                manifest = json.load(f)
        except (OSError, json.JSONDecodeError):
            return False
        return manifest.get("complete") is True and manifest.get("params") == params_fingerprint

    def materialize(
        self,
        name: str,
        df: DataFrame,
        params_fingerprint: str = "",
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Write-or-reuse: if a complete, parameter-matching checkpoint
        exists, read it back (resume); else compute, write data + manifest,
        and return the read-back frame (truncating lineage either way)."""
        spark = df.sparkSession
        path = self._dir(name)
        data_path = os.path.join(path, "data")

        if self.has_valid(name, params_fingerprint):
            with open(self._manifest_path(name)) as f:
                manifest = json.load(f)
            out = spark.read.parquet(data_path)
            if self.verify_checksum_on_resume:
                cnt, h, _ = _manifest_stats(out)
                if [cnt, h] != manifest["checksum"]:
                    raise RuntimeError(
                        f"stage {name!r}: checkpoint corrupt (checksum mismatch)"
                    )
            self.stages.append({"stage": name, "resumed": True, **manifest["stats"]})
            return out

        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_path)

        out = spark.read.parquet(data_path)
        cnt, h, lineage = _manifest_stats(out)
        manifest = {
            "complete": True,
            "stage": name,
            "params": params_fingerprint,
            "checksum": [cnt, h],
            "schema": out.schema.jsonValue(),
            "stats": {"row_count": cnt, "n_partitions": len(lineage)},
            "partition_lineage": lineage,
        }
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(name))
        self.stages.append({"stage": name, "resumed": False, **manifest["stats"]})
        return out


def checkpointed_dedup(
    spark: SparkSession,
    df: DataFrame,
    ckpt: StageCheckpointer,
    text_col: str = "transcript",
    id_col: str = "clip_id",
    lsh_threshold: float = 0.7,
    lsh_ngram: int = 3,
    num_perm: int = 128,
    substring_min_len: int = 30,
) -> DataFrame:
    """``jobs.dedup_corpus``'s stage graph with a checkpoint after every
    stage (00_ingest .. 05_canonical_map, see ``liken_spark.jobs``).

    Checkpoints are NARROW (ids/keys/edges/labels — never the payload
    column): at 10^12-clip scale a payload checkpoint would double storage
    and dominate wall time, and the durable input table already holds
    those bytes. The final canonicalized frame is reconstructed lazily by
    a remap join against the input table. ``02_lsh_pairs`` holds each
    undirected edge once.

    Killing the job between any two stages and re-running resumes from the
    last complete checkpoint (see tests/test_checkpoint.py for the
    kill-and-resume proof). ``spark`` is unused; the session is ``df``'s."""
    from liken_spark.jobs import _dedup_stages

    return _dedup_stages(
        df, ckpt.materialize, text_col, id_col, lsh_threshold, lsh_ngram, num_perm,
        substring_min_len,
    )
