#!/usr/bin/env python
"""Per-phase scaling diagnostic for the dedup_corpus job.

Runs the same stages as jobs.dedup_corpus but times each phase separately,
so a 4-core vs 16-core comparison shows WHICH phase fails to scale (the
end-to-end efficiency number hides it). Diagnostic only — the production
job fuses these into one plan; phase boundaries here force materialization
(counts / noop writes) that the fused plan doesn't pay.

Usage:
    python scripts/profile_dedup.py --cpus 4  [--input DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

INPUT_DIR = os.environ.get("SPARK_GRAFT_SCALING_INPUT", "/tmp/liken_scaling_input")


def main(cpus: int, input_dir: str) -> None:
    import liken_spark as lk
    from liken_spark.constants import ROW_ID
    from liken_spark.ids import with_row_id
    from liken_spark.operators.cc import _components
    from liken_spark.operators.dedupers import LshSpec
    from liken_spark.operators.executor import _apply_comp_df
    from liken_spark.operators.textdedup import SubstringSpec
    from liken_spark.sources import audio
    from pyspark.sql import functions as F

    os.environ.setdefault("LIKEN_SPARK_DRIVER_MEM", "48g")
    spark = lk.get_spark(
        app_name=f"liken-profile-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=64,
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "8192"},
    )
    clips = spark.read.parquet(input_dir)
    # warmup: python workers + page cache (untimed, same as scaling.py)
    clips.select(F.sum(F.length("bytes")), F.sum(F.length("transcript"))).collect()
    audio.audio_invariant(clips.sample(0.01, seed=1), seed=42).count()

    phases: dict[str, float] = {}

    def timed(name):
        class _T:
            def __enter__(self):
                self.t0 = time.perf_counter()

            def __exit__(self, *a):
                phases[name] = round(time.perf_counter() - self.t0, 2)
                print(json.dumps({"phase": name, "sec": phases[name]}), flush=True)

        return _T()

    base = with_row_id(clips, materialize=False)
    narrow = base.select(ROW_ID, "transcript").persist()

    with timed("narrow_materialize"):
        narrow.count()

    with timed("exact_pairs"):
        hkey = F.struct(
            F.xxhash64(F.col("transcript")).alias("h1"),
            F.xxhash64(F.col("transcript"), F.lit(1)).alias("h2"),
        )
        hashed = narrow.select(F.col(ROW_ID), hkey.alias("hk"))
        roots = (
            hashed.groupBy("hk")
            .agg(F.min(ROW_ID).alias("src"), F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > 1)
        )
        exact_pairs = (
            hashed.join(roots, "hk")
            .where(F.col(ROW_ID) != F.col("src"))
            .select("src", F.col(ROW_ID).alias("dst"))
        ).localCheckpoint(eager=True)

    lspec = LshSpec(threshold=0.7, ngram=3, num_perm=128)
    with timed("lsh_band_frame"):
        banded = lspec._banded(narrow, "transcript", [])
        banded.count()
    with timed("lsh_star_edges"):
        lsh_pairs = lspec.gen_pairs(narrow, "transcript", []).localCheckpoint(eager=True)

    with timed("substring_pairs"):
        sspec = SubstringSpec(min_len=30)
        sub_pairs = sspec.gen_pairs(narrow, "transcript", []).localCheckpoint(eager=True)

    with timed("cc"):
        pairs = exact_pairs.union(lsh_pairs).union(sub_pairs)
        comps, local_cc = _components(pairs)

    with timed("canonical_join_write"):
        from liken_spark.constants import CANONICAL_ID

        ids = base.select(ROW_ID, F.col("clip_id")).withColumn(
            CANONICAL_ID, F.col("clip_id")
        )
        canon_map = _apply_comp_df(ids, comps, keep="first", local_cc=local_cc)
        canon_map = canon_map.select(ROW_ID, CANONICAL_ID)
        canon_map = F.broadcast(canon_map.localCheckpoint(eager=True))
        base.join(canon_map, ROW_ID).drop(ROW_ID).write.format("noop").mode(
            "overwrite"
        ).save()

    with timed("invariant"):
        bad = (
            audio.audio_invariant(clips, seed=42)
            .where("NOT audio_ok OR NOT transcript_ok")
            .count()
        )

    total = round(sum(phases.values()), 2)
    print(
        json.dumps(
            {
                "cpus": cpus,
                "phases": phases,
                "total": total,
                "invariant_failures": bad,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--input", default=INPUT_DIR)
    args = ap.parse_args()
    main(args.cpus, args.input)
