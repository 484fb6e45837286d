"""Kill-and-resume proof for the staged checkpoint pipeline: a second run
over the same checkpoint directory must NOT recompute completed stages —
shown by mutating the input between runs and observing that resumed output
still reflects the checkpointed (old) data. Also: manifest lineage/metrics
and params-fingerprint invalidation."""

from __future__ import annotations

import json
import os

import pytest

from liken_spark.sources import audio
from liken_spark.sources.checkpoint import StageCheckpointer, checkpointed_dedup


@pytest.fixture
def clips(spark):
    return audio.synth_audio_table(spark, 30, seed=42, with_audio=False)


def test_checkpoint_resume(spark, clips, tmp_path):
    base = str(tmp_path / "ckpt")
    ck1 = StageCheckpointer(base, "run1")
    out1 = checkpointed_dedup(spark, clips, ck1)
    # snapshot results now — the frame is backed by checkpoint files that
    # the simulated kill below rewrites
    r1 = {(r["clip_id"], r["canonical_id"]) for r in out1.collect()}
    assert len(r1) == 30
    assert all(not s["resumed"] for s in ck1.stages)

    # manifest: row counts + per-partition lineage + checksum present
    with open(os.path.join(base, "run1", "04_components", "_liken_manifest.json")) as f:
        manifest = json.load(f)
    assert manifest["complete"] is True
    assert manifest["stats"]["row_count"] == sum(p["rows"] for p in manifest["partition_lineage"])
    assert isinstance(manifest["checksum"], list) and len(manifest["checksum"]) == 2

    # narrow-state invariant: no checkpoint carries the payload column
    for stage in os.listdir(os.path.join(base, "run1")):
        with open(os.path.join(base, "run1", stage, "_liken_manifest.json")) as f:
            fields = [fld["name"] for fld in json.load(f)["schema"]["fields"]]
        assert "bytes" not in fields, f"payload leaked into checkpoint {stage}"

    # the fused manifest job's checksum equals a direct bit_xor(xxhash64)
    # over the stage's parquet, and its row count the parquet's row count
    from pyspark.sql import functions as F

    for stage in os.listdir(os.path.join(base, "run1")):
        with open(os.path.join(base, "run1", stage, "_liken_manifest.json")) as f:
            checksum = json.load(f)["checksum"]
        data = spark.read.parquet(os.path.join(base, "run1", stage, "data"))
        direct = data.agg(
            F.count(F.lit(1)).alias("c"),
            F.coalesce(F.bit_xor(F.xxhash64(*data.columns)), F.lit(0)).alias("h"),
        ).collect()[0]
        assert checksum == [direct["c"], direct["h"]], stage

    # simulate a kill after stage 03: delete the last two stage checkpoints
    import shutil

    for stage in ("04_components", "05_canonical_map"):
        shutil.rmtree(os.path.join(base, "run1", stage))

    # resume with DIFFERENT input data: stages 00-03 must come from the
    # checkpoint (old data), proving no recompute happened
    other = audio.synth_audio_table(spark, 30, seed=99, with_audio=False)
    ck2 = StageCheckpointer(base, "run1")
    out2 = checkpointed_dedup(spark, other, ck2)
    resumed = {s["stage"]: s["resumed"] for s in ck2.stages}
    assert resumed["00_ingest"] and resumed["01_exact_pairs"]
    assert resumed["02_lsh_pairs"] and resumed["03_substring_pairs"]
    assert not resumed["04_components"] and not resumed["05_canonical_map"]

    # output identical to run1 (seed=42 world), NOT seed=99's clustering
    r2 = {(r["clip_id"], r["canonical_id"]) for r in out2.collect()}
    assert r1 == r2


def test_params_fingerprint_invalidates(spark, clips, tmp_path):
    base = str(tmp_path / "ckpt2")
    ck1 = StageCheckpointer(base, "runA")
    checkpointed_dedup(spark, clips, ck1, lsh_threshold=0.7)
    ck2 = StageCheckpointer(base, "runA")
    checkpointed_dedup(spark, clips, ck2, lsh_threshold=0.9)  # different config
    assert all(not s["resumed"] for s in ck2.stages)  # nothing reused


def test_recall_via_checkpointed_pipeline(spark, clips, tmp_path):
    ck = StageCheckpointer(str(tmp_path / "ckpt3"), "runR")
    out = checkpointed_dedup(spark, clips, ck)
    truth = audio.truth_clusters(spark, 30)
    joined = out.join(truth, "clip_id").collect()
    canon = {r["clip_id"]: r["canonical_id"] for r in joined}
    by_truth: dict = {}
    for r in joined:
        by_truth.setdefault(r["true_cluster"], []).append(r["clip_id"])
    total = hit = 0
    for members in by_truth.values():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                total += 1
                hit += canon[members[i]] == canon[members[j]]
    assert total > 0 and hit / total >= 0.99
