"""The workloads: input generation, one timed run, output checks and a
traced decomposition into per-layer calls.

Every workload is a closed loop with one client: a batch job that starts
after the previous one ended and finishes when its output reaches the
``noop`` sink. Inputs derive only from the seed and are written to
file-backed parquet with at least as many files as cores; the library
only ever sees those files, never the truth labels.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import numpy as np

from quality import largest_group, pair_scores, partition_mismatch

CORES = 4
CORPUS_CLIPS = 6_000
PEOPLE_ROWS = 2_000
PEOPLE_DUP_RATE = 0.15

CORPUS_ARGS = dict(
    text_col="transcript", id_col="clip_id", lsh_threshold=0.7,
    lsh_ngram=3, num_perm=128, substring_min_len=30,
)
# The north-star bar is recall >= 0.99. The engine sits on it (0.9879-0.9925
# over seeds 1-10 at 6,000 clips), so the bar is reported, not enforced;
# the enforced floor catches a real loss of recall.
RECALL_BAR = 0.99
MIN_RECALL = 0.98
CC_GATE_ENV = "LIKEN_SPARK_CC_LOCAL_MAX"

# dsl_people: the dict chain's tfidf config, and the pipeline's fuzzy
# verifier with its LSH prefilter
TFIDF_ARGS = dict(threshold=0.85, ngram=3, topn=4, min_df=2, max_df=0.2)
LSH_PREFILTER = dict(threshold=0.5, ngram=3)
FUZZY_ARGS = dict(threshold=0.9)
# Floors on copy recall (the share of planted copies put in their source
# row's cluster; see NOTES.md for the ranges they sit under). Pair recall is
# reported, not enforced: one copy the LSH prefilter misses can split a
# seven-row cluster and cost a third of its pairs, so it swings with the
# seed far more than the per-copy miss rate does.
CHAIN_MIN_COPY_RECALL = 0.03
PIPELINE_MIN_COPY_RECALL = 0.97


class CheckFailed(AssertionError):
    pass


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Workload:
    name = ""
    input_key = ""
    size = 0

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tr = tracer
        self.iteration = 0

    def input_dir(self, cache: str) -> str:
        return os.path.join(cache, f"{self.input_key}-{self.size}-{self.seed}")

    def after_iteration(self) -> None:
        pass

    def decompose(self) -> None:
        pass


# ---------------------------------------------------------------------------
# audio corpus: north-star dedup + invariant


class Corpus(Workload):
    name = "corpus"
    input_key = "clips"
    size = CORPUS_CLIPS

    def generate(self, path: str, spark_factory) -> None:
        from liken_spark.sources import audio

        audio.synth_audio_table(
            spark_factory(), self.size, seed=self.seed, partitions=CORES
        ).write.parquet(os.path.join(path, "table"))

    def prepare(self, spark, path: str) -> None:
        self.spark = spark
        self.clips = spark.read.parquet(os.path.join(path, "table"))
        self.truth = None

    def run_once(self, sink) -> None:
        from liken_spark.jobs import dedup_corpus
        from liken_spark.sources import audio

        with self.tr.span("jobs.dedup_corpus"):
            out = dedup_corpus(self.clips, **CORPUS_ARGS)
        with self.tr.span("executor"):
            sink(out, "dedup")
        with self.tr.span("audio.invariant") as sp:
            bad = (
                audio.audio_invariant(self.clips, seed=self.seed)
                .where("NOT audio_ok OR NOT transcript_ok")
                .count()
            )
            self.tr.count(sp, "failures", bad)
        _require(bad == 0, f"{bad} clips fail the decoded-PCM / transcript invariant")

    def labelled(self, out, what: str):
        """(clip_id, canonical_id, true_cluster) rows of an output, which
        must hold every input clip once; the truth is the library's
        out-of-band oracle, which the timed runs never see."""
        from liken_spark.sources import audio

        pdf = out.select("clip_id", "canonical_id").toPandas()
        _require(len(pdf) == self.size and pdf["clip_id"].nunique() == self.size,
                 f"{what} output does not hold every input clip once")
        if self.truth is None:
            self.truth = audio.truth_clusters(self.spark, self.size).toPandas()
        return pdf.merge(self.truth, on="clip_id", validate="one_to_one")

    def check(self, outputs: dict) -> dict:
        got = self.labelled(outputs["dedup"], "dedup")
        recall, precision = pair_scores(got["canonical_id"], got["true_cluster"])
        _require(recall >= MIN_RECALL, f"dup-pair recall {recall:.4f} < {MIN_RECALL}")
        return {
            "dup_pair_recall": recall,
            "dup_pair_precision": precision,
            "recall_bar_met": float(recall >= RECALL_BAR),
            "largest_cluster_rows": largest_group(got["canonical_id"]),
        }

    def decompose(self) -> None:
        """Call each layer's public function on the same narrow input, one
        materialized span each; ``jobs.dedup_corpus.self_s`` is what these
        leave unaccounted against the whole call."""
        from pyspark.sql import functions as F

        from liken_spark.constants import ROW_ID
        from liken_spark.ids import with_row_id
        from liken_spark.operators.cc import connected_components
        from liken_spark.operators.dedupers import LshSpec
        from liken_spark.operators.textdedup import SubstringSpec

        a = CORPUS_ARGS
        tr = self.tr
        with tr.span("ids"):
            base = with_row_id(self.clips, materialize=False)
            narrow = base.select(ROW_ID, a["text_col"]).repartition(CORES).persist()
            narrow.count()
        truth = base.select(
            F.col(ROW_ID).alias("node"), _clip_truth(F.col("clip_id")).alias("t")
        ).persist()
        lsh = LshSpec(threshold=a["lsh_threshold"], ngram=a["lsh_ngram"], num_perm=a["num_perm"])
        with tr.span("dedupers.lsh") as sp:
            lsh_pairs = lsh.gen_pairs(narrow, a["text_col"], []).persist()
            tr.count(sp, "edges_emitted", lsh_pairs.count())
        _edge_counts(tr, sp, lsh_pairs, truth)
        with tr.span("textdedup.substring") as sp:
            sub_pairs = SubstringSpec(min_len=a["substring_min_len"]).gen_pairs(
                narrow, a["text_col"], []
            ).persist()
            tr.count(sp, "edges_emitted", sub_pairs.count())
        _edge_counts(tr, sp, sub_pairs, truth)
        pairs = lsh_pairs.union(sub_pairs)
        with tr.span("cc") as sp:
            comps = connected_components(pairs)
            noop(comps)
        tr.count(sp, "edges_in", pairs.count())
        tr.count(sp, "largest_component_rows", largest_group(comps.select("comp").toPandas()["comp"]))
        for df in (narrow, truth, lsh_pairs, sub_pairs):
            df.unpersist()


def _clip_truth(clip_id):
    """Planted cluster of a clip id (groups of 5: positions 0-3 are one
    cluster, position 4 a singleton) as a column expression."""
    from pyspark.sql import functions as F

    idx = F.substring(clip_id, 5, 12).cast("long")
    pos = idx % 5
    return F.when(pos < 4, idx - pos).otherwise(idx)


def _edge_counts(tr, sp, pairs, truth) -> None:
    """Distinct undirected edges and the share of emitted edges that join
    two rows of one planted cluster."""
    if sp is None:
        return
    from pyspark.sql import functions as F

    e = pairs.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
    tr.count(sp, "edges_distinct", e.where("a != b").distinct().count())
    ta = truth.select(F.col("node").alias("src"), F.col("t").alias("ta"))
    tb = truth.select(F.col("node").alias("dst"), F.col("t").alias("tb"))
    useful = pairs.join(ta, "src").join(tb, "dst").where("ta = tb").count()
    emitted = sp["counts"].get("edges_emitted", 0)
    tr.count(sp, "useful_ratio", useful / emitted if emitted else 1.0)


# ---------------------------------------------------------------------------
# checkpointed pipeline: cold run + resume


class CheckpointResume(Corpus):
    name = "checkpoint_resume"

    def prepare(self, spark, path: str) -> None:
        super().prepare(spark, path)
        self.ckpt_root = os.path.join(self.work, "ckpt")

    def _checkpointer(self, run_id: str):
        from liken_spark.sources.checkpoint import StageCheckpointer

        tr = self.tr
        if not tr.enabled:
            return StageCheckpointer(self.ckpt_root, run_id)

        class TracedCheckpointer(StageCheckpointer):
            def materialize(self, name, df, *args, **kwargs):
                with tr.span("checkpoint"):
                    return super().materialize(name, df, *args, **kwargs)

        return TracedCheckpointer(self.ckpt_root, run_id)

    def run_once(self, sink) -> None:
        from liken_spark.operators import cc
        from liken_spark.sources.checkpoint import checkpointed_dedup

        run_id = f"run{self.iteration}"
        with self.tr.span("run.cold"), star_loop(), spanned(cc, "connected_components", self.tr, "cc"):
            ck = self._checkpointer(run_id)
            sink(checkpointed_dedup(self.spark, self.clips, ck, **CORPUS_ARGS), "cold")
        _require(not any(s["resumed"] for s in ck.stages), "cold run resumed a stage")
        if self.tr.enabled:
            self.ckpt_bytes = _du(os.path.join(self.ckpt_root, run_id))
        with self.tr.span("run.resume"):
            ck2 = self._checkpointer(run_id)
            sink(checkpointed_dedup(self.spark, self.clips, ck2, **CORPUS_ARGS), "resume")
        _require(
            len(ck2.stages) == len(ck.stages) and all(s["resumed"] for s in ck2.stages),
            "resume recomputed a checkpointed stage",
        )

    def after_iteration(self) -> None:
        shutil.rmtree(os.path.join(self.ckpt_root, f"run{self.iteration}"), ignore_errors=True)

    def check(self, outputs: dict) -> dict:
        from liken_spark.jobs import dedup_corpus

        got = super().check({"dedup": outputs["cold"]})
        ref = self.labelled(dedup_corpus(self.clips, **CORPUS_ARGS), "dedup_corpus")
        ref = ref.set_index("clip_id")["canonical_id"]
        for name in ("cold", "resume"):
            out = self.labelled(outputs[name], name)
            bad = partition_mismatch(out["canonical_id"], ref[out["clip_id"]].to_numpy())
            _require(bad == 0, f"{name} partition differs from dedup_corpus by {bad} pairs")
        return got

    def decompose(self) -> None:
        """Nothing beyond the timed runs: their stage spans are the layer."""


@contextmanager
def star_loop():
    """Send connected_components through its distributed star loop, the
    path a pair graph above the 2M-edge driver gate takes, by the gate's
    public environment setting."""
    old = os.environ.get(CC_GATE_ENV)
    os.environ[CC_GATE_ENV] = "0"
    try:
        yield
    finally:
        if old is None:
            del os.environ[CC_GATE_ENV]
        else:
            os.environ[CC_GATE_ENV] = old


@contextmanager
def spanned(module, attr: str, tracer, name: str):
    """With tracing on, replace ``module.attr`` by a wrapper that opens the
    span ``name`` around each call: a span from outside a library function
    that the library calls itself."""
    if not tracer.enabled:
        yield
        return
    fn = getattr(module, attr)

    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    setattr(module, attr, wrapper)
    try:
        yield
    finally:
        setattr(module, attr, fn)


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def write_parquet(columns: dict, path: str) -> None:
    """Columns as CORES parquet files of consecutive rows under ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(columns)
    os.makedirs(path)
    step = -(-table.num_rows // CORES)
    for i in range(CORES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------------------
# reference-parity DSL on a people table with planted typo'd copies

_SYL = ["ka", "lo", "mi", "ren", "sa", "to", "vi", "dan", "el", "jo", "mar", "ni", "ra", "su", "te", "yo"]
_FIRST = [a + b for a in _SYL for b in _SYL]
_LAST = [a + b + "ez" for a in _SYL for b in _SYL]
_STREET = [f"{a}{b} {k}" for a in _SYL for b in _SYL[:4] for k in ("st", "rd")]
_CITY = [a + b + "ton" for a in _SYL[:6] for b in _SYL[6:12]]


def people_table(seed: int, n: int) -> tuple[dict, np.ndarray]:
    """(columns, source row per row) following ``datasets.fake_people``'s
    recipe: with probability PEOPLE_DUP_RATE a row (other than the first)
    copies the name and address of an earlier row, its source, and plants
    one 'x' typo in the address; every row draws its own email number, and
    3% of emails are null. A row that is no copy is its own source. Unlike
    fake_people, a copy takes its source row's values as that row stored
    them, and the vocabulary is wider so chance collisions stay rare."""
    rng = np.random.default_rng(seed)
    names, addrs, emails = [], [], []
    source = np.arange(n, dtype=np.int64)
    for i in range(n):
        if i > 0 and rng.random() < PEOPLE_DUP_RATE:
            src = int(rng.integers(0, i))
            source[i] = src
            name, addr = names[src], addrs[src]
            pos = int(rng.integers(0, len(addr)))
            addr = addr[:pos] + "x" + addr[pos + 1 :]
        else:
            name = f"{_FIRST[rng.integers(len(_FIRST))]} {_LAST[rng.integers(len(_LAST))]}"
            addr = (
                f"{int(rng.integers(1, 99))} {_STREET[rng.integers(len(_STREET))]}, "
                f"{_CITY[rng.integers(len(_CITY))]}"
            )
        names.append(name)
        addrs.append(addr)
        email = None if rng.random() < 0.03 else f"{name.replace(' ', '.')}{int(rng.integers(1, 99))}@example.com"
        emails.append(email)
    cols = {"id": np.arange(n, dtype=np.int64), "name": names, "address": addrs, "email": emails}
    return cols, source


def planted_clusters(source: np.ndarray) -> np.ndarray:
    """First row of each row's copy chain: a copy of a copy joins its
    source's cluster. Sources precede their copies."""
    root = source.copy()
    for i in range(len(root)):
        root[i] = root[root[i]]
    return root


def copy_recall(labels: np.ndarray, source: np.ndarray) -> float:
    """Share of planted copies that an output puts in their source row's
    cluster."""
    copies = source != np.arange(len(source))
    return float((labels[copies] == labels[source[copies]]).mean()) if copies.any() else 1.0


class DslPeople(Workload):
    name = "dsl_people"
    input_key = "people"
    size = PEOPLE_ROWS

    def generate(self, path: str, spark_factory) -> None:
        cols, source = people_table(self.seed, self.size)
        write_parquet(cols, os.path.join(path, "table"))
        np.save(os.path.join(path, "source.npy"), source)

    def prepare(self, spark, path: str) -> None:
        self.spark = spark
        self.people = spark.read.parquet(os.path.join(path, "table"))
        self.source = np.load(os.path.join(path, "source.npy"))
        self.root = planted_clusters(self.source)

    @staticmethod
    def chain():
        import liken_spark as lk

        return {"email": lk.exact(), "address": (lk.simhash(), lk.tfidf(**TFIDF_ARGS))}

    @staticmethod
    def pipeline():
        import liken_spark as lk

        # the predicate scopes an email exact match: a step holding only the
        # predicate would put every row with an email into one cluster
        return (
            lk.pipeline()
            .step([
                lk.col("name").exact(),
                lk.col("address").fuzzy(prefilter=lk.lsh(**LSH_PREFILTER), **FUZZY_ARGS),
            ])
            .step([~lk.col("email").isna(), lk.col("email").exact()])
        )

    def run_once(self, sink) -> None:
        import liken_spark as lk

        with self.tr.span("api.chain"):
            chain = lk.dedupe(self.people).apply(self.chain()).canonicalize().collect()
            with self.tr.span("executor"):
                sink(chain, "chain")
        with self.tr.span("api.pipeline"):
            kept = lk.dedupe(self.people).apply(self.pipeline()).drop_duplicates()
            with self.tr.span("executor"):
                sink(kept, "pipeline")

    def _labels(self, out) -> np.ndarray:
        """canonical_id per input id of a canonicalize output, which must
        hold every input row once."""
        pdf = out.select("id", "canonical_id").toPandas()
        ids = pdf["id"].to_numpy()
        _require(len(ids) == self.size and len(np.unique(ids)) == self.size,
                 "canonicalize output does not hold every input row once")
        labels = np.empty(self.size, dtype=np.int64)
        labels[ids] = pdf["canonical_id"].to_numpy()
        return labels

    def check(self, outputs: dict) -> dict:
        import liken_spark as lk

        chain = self._labels(outputs["chain"])
        recall, precision = pair_scores(chain, self.root)
        c_copies = copy_recall(chain, self.source)
        _require(c_copies >= CHAIN_MIN_COPY_RECALL,
                 f"chain copy recall {c_copies:.4f} < {CHAIN_MIN_COPY_RECALL}")
        # drop_duplicates keeps exactly one row of every cluster the same
        # pipeline forms under canonicalize
        ref = self._labels(lk.dedupe(self.people).apply(self.pipeline()).canonicalize().collect())
        kept = outputs["pipeline"].select("id").toPandas()["id"].to_numpy()
        clusters = np.unique(ref)
        _require(len(kept) == len(clusters), f"drop_duplicates kept {len(kept)} rows for {len(clusters)} clusters")
        _require(len(np.unique(ref[kept])) == len(clusters), "drop_duplicates kept two rows of one cluster")
        p_copies = copy_recall(ref, self.source)
        _require(p_copies >= PIPELINE_MIN_COPY_RECALL,
                 f"pipeline copy recall {p_copies:.4f} < {PIPELINE_MIN_COPY_RECALL}")
        p_recall, p_precision = pair_scores(ref, self.root)
        return {
            "dup_pair_recall": recall,
            "dup_pair_precision": precision,
            "largest_cluster_rows": largest_group(chain),
            "copy_recall": c_copies,
            "pipeline_copy_recall": p_copies,
            "pipeline_recall": p_recall,
            "pipeline_precision": p_precision,
            "pipeline_rows_kept": len(kept),
        }

    def decompose(self) -> None:
        """Each pair layer's public gen_pairs on a persisted-row-id frame."""
        from liken_spark.constants import ROW_ID
        from liken_spark.ids import with_row_id
        from liken_spark.operators.dedupers import FuzzySpec, LshSpec, TfidfSpec
        from liken_spark.operators.textdedup import SimHashSpec

        tr = self.tr
        with tr.span("ids"):
            base = with_row_id(self.people)
            narrow = base.select(ROW_ID, "address").persist()
            narrow.count()
        with tr.span("textdedup.simhash") as sp:
            tr.count(sp, "edges_emitted", SimHashSpec().gen_pairs(narrow, "address", []).count())
        with tr.span("dedupers.tfidf") as sp:
            tr.count(sp, "candidates", TfidfSpec(**TFIDF_ARGS).gen_pairs(narrow, "address", []).count())
        fuzzy = FuzzySpec(**{**FUZZY_ARGS, "prefilter": LshSpec(**LSH_PREFILTER)})
        with tr.span("dedupers.fuzzy") as sp:
            verified = fuzzy.gen_pairs(narrow, "address", []).count()
        cand = LshSpec(**LSH_PREFILTER).gen_candidate_pairs(narrow, "address", [])
        n_cand = cand.select("src", "dst").distinct().count()
        tr.count(sp, "verified_ratio", verified / n_cand if n_cand else 1.0)
        narrow.unpersist()
        base.unpersist()


WORKLOADS = {w.name: w for w in (Corpus, CheckpointResume, DslPeople)}
