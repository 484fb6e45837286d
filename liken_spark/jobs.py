"""The north-star job: full audio-corpus dedup as one staged Spark plan.

Unlike the reference-parity pipeline API (which *chains* dedupers,
rewriting canonical_id between steps — the reference's sequential
semantics, executor.py:89-101), this job unions the candidate pairs of all
three passes (exact, MinHash-LSH, suffix-window substring) and runs ONE
connected-components pass. That is both cheaper (one CC, one canonical
join, no intermediate windows) and transitively complete: a~b via LSH and
b~c via substring land in one cluster even when no single pass links them.

The job is one stage graph, ``_dedup_stages``. Each stage's frame goes
through a sink, ``sink(name, df, params) -> df``, and later stages read
what the sink returns:

  00_ingest           (row_id, id, text) — the narrow frame every pass reads
  01_exact_pairs      star pairs per 128-bit hash of the text
  02_lsh_pairs        MinHash-LSH band-collision edges
  03_substring_pairs  suffix-window containment edges
  04_components       (node, comp) over the union of all pairs
  05_canonical_map    keep="first" canonical ids: in memory (row_id,
                      canonical_id) of every row; stored, (id,
                      canonical_id) of the rows not their own canonical
  then one join back onto the payload columns.

``dedup_corpus`` passes the in-memory sink: stages stay lazy plans, only
the ingest frame is cached. ``sources.checkpoint.checkpointed_dedup``
passes ``StageCheckpointer.materialize``: every stage is written with a
manifest, and a rerun resumes from the last complete stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from liken_spark.constants import CANONICAL_ID, ROW_ID, TMP_PREFIX
from liken_spark.ids import with_row_id
from liken_spark.operators import cc as _cc
from liken_spark.operators.cc import (
    defer_eager_persists,
    materialize_concurrently,
    run_concurrently,
)
from liken_spark.operators.dedupers import LshSpec
from liken_spark.operators.executor import _apply_comp_df
from liken_spark.operators.textdedup import SubstringSpec

# byte cap for a forced broadcast (exact-pass roots, canonical map)
_BROADCAST_BYTES = 256 << 20


def dedup_corpus(
    df: DataFrame,
    text_col: str = "transcript",
    id_col: str = "clip_id",
    lsh_threshold: float = 0.7,
    lsh_ngram: int = 3,
    num_perm: int = 128,
    substring_min_len: int = 30,
    deterministic_source: bool = True,
) -> DataFrame:
    """df + canonical_id (first-seen id per near-dup cluster). The payload
    columns never enter the pair/CC shuffles — only (row_id, id, text)
    does.

    ``deterministic_source=True`` (file/Iceberg-backed input, the
    north-star contract) skips row-id materialization entirely: pair
    generation reads ONLY the pruned narrow columns from the scan; the
    payload is scanned once, for the final canonical join. Pass False for
    arbitrarily-shuffled in-memory inputs."""
    return _dedup_stages(
        df, _in_memory, text_col, id_col, lsh_threshold, lsh_ngram, num_perm,
        substring_min_len, deterministic_source,
    )


def _in_memory(name: str, df: DataFrame, params: str = "") -> DataFrame:
    """``dedup_corpus``'s sink: every stage stays a lazy plan except the
    ingest frame, which all three passes read. The passes' per-row work
    (signature UDF, window hashing) runs before any exchange, so its
    parallelism is the input partition count — spread a narrow input over
    the cores once (row ids are already assigned; a no-op at scale where
    partitions >= cores), then cache it."""
    if name != "00_ingest":
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        df = df.repartition(cores)
    return df.persist()


def _id_stats(ids: DataFrame, id_col: str) -> tuple[int, float]:
    """(rows, mean id bytes) of the canonical map — octet_length, not
    length, because broadcast cost is bytes and multibyte UTF-8 ids
    undercount up to 4x by chars."""
    row = ids.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.avg(F.octet_length(F.col(id_col).cast("string"))), F.lit(0.0)).alias("w"),
    ).collect()[0]
    return int(row["n"]), float(row["w"])


def _dedup_stages(
    df: DataFrame,
    sink,
    text_col: str,
    id_col: str,
    lsh_threshold: float,
    lsh_ngram: int,
    num_perm: int,
    substring_min_len: int,
    deterministic_source: bool = True,
) -> DataFrame:
    """The stage graph (module docstring) over ``sink``. Only the
    in-memory sink keeps its stages as plans; with any other sink each
    stage is re-read from storage, so its output must be rebuildable from
    the stage frames plus the input table alone."""
    in_memory = sink is _in_memory
    params = (
        f"lsh={lsh_threshold}/{lsh_ngram}/{num_perm};sub={substring_min_len};"
        f"text={text_col};id={id_col}"
    )
    base = with_row_id(df, materialize=not deterministic_source)
    narrow = sink("00_ingest", base.select(ROW_ID, id_col, text_col), params)

    # exact pass: group on a 128-bit hash of the text, not the text itself,
    # so it shuffles 16-byte keys instead of full transcripts (at corpus
    # scale the dominant shuffle-byte term). False-merge probability is
    # n^2/2^129 — ~4e-15 even at 10^12 rows. Star pairs per hash group (no
    # collect_list: a giant dup class must not materialize in one task).
    hkey = F.struct(
        F.xxhash64(F.col(text_col)).alias("h1"),
        F.xxhash64(F.col(text_col), F.lit(1)).alias("h2"),
    )
    hashed = narrow.select(F.col(ROW_ID), hkey.alias("hk"))
    roots = (
        hashed.groupBy("hk")
        .agg(F.min(ROW_ID).alias("src"), F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
    )
    if in_memory:
        # The cached narrow frame must be materialized BEFORE the pair
        # generators: all three passes read it, AQE runs their branch jobs
        # concurrently, and a not-yet-built cache is silently recomputed
        # per branch (see cc.scoped_persist).
        narrow.count()
    # The LSH band frame and the substring window frame are independent
    # children of the narrow frame — defer their eager pins and run the
    # counts as CONCURRENT jobs instead of serial ones (each count is its
    # frame's only consumer, so the caching is race-free; the cheap
    # substring filter scan overlaps the expensive MinHash UDF pass).
    with defer_eager_persists() as pending:
        lsh_pairs = LshSpec(
            threshold=lsh_threshold, ngram=lsh_ngram, num_perm=num_perm
        ).gen_pairs(narrow, text_col, [])
        sub_pairs = SubstringSpec(min_len=substring_min_len).gen_pairs(narrow, text_col, [])
    # (row_id, id, canonical=id) for the canonical map; in memory it reads
    # the pruned id column of the source scan
    ids = (base if in_memory else narrow).select(ROW_ID, F.col(id_col))
    ids = ids.withColumn(CANONICAL_ID, F.col(id_col))
    if in_memory:
        # Two more jobs ride the pin batch, both reading only pinned or
        # source frames: the exact roots' lazy checkpoint, whose count
        # truncates lineage and gives the gate below its cardinality, and
        # the canonical map's broadcast-gate stats. (A stored stage is
        # written by one job, its only consumer — nothing to overlap.)
        roots = roots.localCheckpoint(eager=False)
        n_roots, *_, id_stats = run_concurrently(
            [roots.count, *(p.count for p in pending), lambda: _id_stats(ids, id_col)]
        )
        # the checkpointed roots have no Catalyst stats, so AQE would plan
        # a shuffle join however small they are. Force the broadcast ONLY
        # under a byte gate: one row per duplicate text group (~64B: 16B hk
        # + 8B src + 8B c + row overhead) can reach n/2 rows on a
        # heavily-duplicated corpus — an ungated broadcast there is a
        # driver OOM. Above the cap the plain shuffle join is right anyway.
        if n_roots * 64 <= _BROADCAST_BYTES:
            roots = F.broadcast(roots)
    else:
        materialize_concurrently(pending)
    exact_pairs = (
        hashed.join(roots, "hk")
        .where(F.col(ROW_ID) != F.col("src"))
        .select("src", F.col(ROW_ID).alias("dst"))
    )
    exact_pairs = sink("01_exact_pairs", exact_pairs, params)
    if not in_memory:
        # several bands of one row pair collide, so the band edges repeat
        # (27,670 emitted vs 3,548 distinct on a 6k-clip corpus). In memory
        # the CC pass's own normalize dedups them for free; a stored stage
        # holds each undirected edge once.
        lsh_pairs = (
            lsh_pairs.select(
                F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
    lsh_pairs = sink("02_lsh_pairs", lsh_pairs, params)
    sub_pairs = sink("03_substring_pairs", sub_pairs, params)

    pairs = exact_pairs.union(lsh_pairs).union(sub_pairs)
    if in_memory:
        comps, local_cc = _cc._components(pairs)
    else:
        # looked up on the module at call time, so a wrapper installed
        # there (tracing) sees the call. The stage is re-read from storage,
        # so the fast path's LocalRelation never reaches the canonical map.
        comps, local_cc = _cc.connected_components(pairs), False
    comps = sink("04_components", comps, params)

    # keep="first": the canonical id of a row is the id at its component's
    # min row id (``comp`` IS that row id, cc contract)
    canon = _apply_comp_df(ids, comps, keep="first", local_cc=local_cc)
    if in_memory:
        # the map (one row per corpus row, two small values) joins back
        # onto the payload by row id. Below the byte gate force a
        # broadcast so the wide payload never shuffles; beyond it the
        # planner shuffles both sides — one payload shuffle total, the
        # floor. (A 20M-row corpus of wide string ids would be a multi-GB
        # broadcast — hence bytes, not rows.)
        canon_map = sink("05_canonical_map", canon.select(ROW_ID, CANONICAL_ID), params)
        n_ids, w_ids = id_stats
        if n_ids * (28 + w_ids) <= _BROADCAST_BYTES:
            canon_map = F.broadcast(canon_map)
        out = base.join(canon_map, ROW_ID)
        narrow.unpersist()
        return out.drop(ROW_ID)

    # A stored map is keyed by the id column, so the output is rebuilt by
    # one narrow join against the input table (the payload never enters a
    # stage), and holds only rows that are not their own canonical. One
    # deterministic min() per id: an input with duplicate id values would
    # otherwise multiply rows in the join back and cross-assign canonicals
    # silently — a no-op for the documented unique-id contract.
    remap = (
        canon.where(F.col(id_col) != F.col(CANONICAL_ID))
        .groupBy(id_col)
        .agg(F.min(CANONICAL_ID).alias(CANONICAL_ID))
    )
    remap = sink("05_canonical_map", remap, params)
    # parquet-backed (known stats): AQE broadcast-converts it when small
    tmp = TMP_PREFIX + "canon"
    return (
        df.drop(CANONICAL_ID)
        .join(remap.withColumnRenamed(CANONICAL_ID, tmp), id_col, "left")
        .withColumn(CANONICAL_ID, F.coalesce(F.col(tmp), F.col(id_col)))
        .drop(tmp)
    )
