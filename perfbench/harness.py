"""One benchmark run of one workload, in the process session that
``run.py`` starts. Prints a human-readable table and, as the last line of
standard output, the JSON result.

Order of a run: write the seeded input in a child process unless it is
cached, start the JVM untimed, set the session up three times (build +
``get_spark`` warm-up + a first full read of the input), then one checked
warm-up run whose outputs are written to parquet and verified, then timed
runs until ``--seconds`` have passed. With ``--trace 1`` the timed runs
are split into an untraced half and a traced half in a session with an
event log, followed by the per-layer decomposition.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from tracing import Tracer, peak_rss_mb  # noqa: E402
from workloads import CORES, WORKLOADS, CheckFailed, noop  # noqa: E402

SETUPS = 3
LAYERS = [
    "ids", "dedupers.lsh", "textdedup.substring", "textdedup.simhash", "dedupers.tfidf",
    "dedupers.fuzzy", "jobs.dedup_corpus", "cc", "executor", "checkpoint", "audio.invariant",
]
GENERIC = ["s", "jobs", "tasks", "exec_cpu_s", "py_cpu_s", "shuffle_mb", "spill_mb", "driver_gap_s"]
COUNTS = {
    "dedupers.lsh": ["edges_emitted", "edges_distinct", "useful_ratio"],
    "textdedup.substring": ["edges_emitted", "edges_distinct", "useful_ratio"],
    "textdedup.simhash": ["edges_emitted"],
    "dedupers.tfidf": ["candidates"],
    "dedupers.fuzzy": ["verified_ratio"],
    "cc": ["edges_in", "largest_component_rows"],
    "audio.invariant": ["failures"],
}
EXTRA = [
    "quality.dup_pair_recall", "quality.dup_pair_precision", "quality.recall_bar_met",
    "quality.largest_cluster_rows",
    "session.warmup_s", "jobs.dedup_corpus.self_s", "checkpoint.write_s",
    "checkpoint.manifest_s", "checkpoint.read_s", "checkpoint.bytes",
    "checkpoint.cold_s", "checkpoint.resume_s", "trace.untraced_job_s",
    "trace.traced_job_s", "trace.overhead_s",
]


def per_layer_names() -> list[str]:
    names = [f"{layer}.{m}" for layer in LAYERS for m in GENERIC]
    names += [f"{layer}.{c}" for layer, cs in COUNTS.items() for c in cs]
    return names + EXTRA


_RATIOS = ("_ratio", "recall", "precision", "bar_met")


def per_layer_better(name: str) -> str:
    return "higher" if name.endswith(_RATIOS) else "lower"


def per_layer_unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(_RATIOS):
        return "ratio"
    if name.endswith(".bytes"):
        return "bytes"
    return "count"


END_TO_END = {"setup_s": "s", "job_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB"}


class Sessions:
    def __init__(self, work: str, trace_dir: str):
        self.work = work
        self.trace_dir = trace_dir

    def conf(self, eventlog_on: bool) -> list[tuple[str, str]]:
        mem = os.environ["LIKEN_SPARK_DRIVER_MEM"]
        conf = [
            ("spark.master", f"local[{CORES}]"),
            ("spark.app.name", "perfbench"),
            ("spark.driver.memory", mem),
            ("spark.ui.enabled", "false"),
            ("spark.ui.showConsoleProgress", "false"),
            ("spark.local.dir", os.path.join(self.work, "local")),
            ("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse")),
            # benchmark-only JVM setting, not get_spark's: the whole heap is
            # committed and touched at launch, so peak RSS is the heap size
            # plus native memory, not the share of the heap that G1's
            # collection timing happened to touch in this run
            ("spark.driver.extraJavaOptions", f"-Xms{mem} -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.environ['TMPDIR']}"),
        ]
        if eventlog_on:
            # uncompressed and non-rolling: one JSON event per line
            conf += [
                ("spark.eventLog.enabled", "true"),
                ("spark.eventLog.dir", "file://" + self.trace_dir),
                ("spark.eventLog.compress", "false"),
                ("spark.eventLog.rolling.enabled", "false"),
            ]
        return conf

    def launch_jvm(self) -> None:
        """Start the gateway JVM without a Spark context, so that no set-up
        pays for it."""
        from pyspark import SparkConf, SparkContext

        SparkContext._ensure_initialized(conf=SparkConf().setAll(self.conf(False)))

    def build(self, eventlog_on: bool):
        from pyspark.sql import SparkSession

        b = SparkSession.builder
        for k, v in self.conf(eventlog_on):
            b = b.config(k, v)
        return b.getOrCreate()

    def setup(self, read_path: str, eventlog_on: bool = False):
        """(session, build + warm-up + first read seconds, warm-up seconds)."""
        import liken_spark as lk

        t0 = time.perf_counter()
        self.build(eventlog_on)
        t1 = time.perf_counter()
        spark = lk.get_spark(app_name="perfbench", master=f"local[{CORES}]")
        warm = time.perf_counter() - t1
        noop(spark.read.parquet(os.path.join(read_path, "table")))
        return spark, time.perf_counter() - t0, warm


_T0 = time.perf_counter()


def phase(name: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.2f}s] {name}", file=sys.stderr, flush=True)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


KEEP_INPUTS = 12  # per input kind: ten seeds plus the two recorded ones


def ensure_input(args, path: str) -> None:
    """Generate the seeded input in a child process unless it is cached, so
    the measured JVM never ran the generator."""
    if os.path.isdir(path):
        os.utime(path)
        return
    phase("generating input")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--generate", "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", "0"],
        check=True, stdout=subprocess.DEVNULL,
    )


def generate(wl, sessions: Sessions, path: str) -> None:
    """Write the input to ``path`` and keep only the KEEP_INPUTS most
    recently used inputs of its kind."""
    from pyspark import SparkContext

    spark = None

    def spark_factory():
        nonlocal spark
        spark = spark or sessions.build(False)
        return spark

    tmp = path + f".tmp{os.getpid()}"
    wl.generate(tmp, spark_factory)
    if spark is not None:
        spark.stop()
        gateway = SparkContext._gateway
        gateway.proc.stdin.close()  # the JVM exits at the end of its stdin
        gateway.proc.wait()
    os.replace(tmp, path)
    cache = os.path.dirname(path)
    kind = os.path.basename(path).split("-")[0] + "-"
    entries = sorted(
        (os.path.join(cache, e) for e in os.listdir(cache) if e.startswith(kind) and ".tmp" not in e),
        key=os.path.getmtime,
    )
    for old in entries[:-KEEP_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)
    # write the new input back now: dirty pages left to background
    # writeback would stall the timed runs' own file writes
    os.sync()


class Runner:
    def __init__(self, wl, work: str):
        self.wl = wl
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _record_failure(self, exc: BaseException) -> None:
        self.failed += 1
        msg = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
        self.errors.append(msg)
        if not isinstance(exc, CheckFailed):
            traceback.print_exc(file=sys.stderr)

    def checked_run(self, spark) -> dict:
        """Warm-up run whose outputs go to parquet and are verified."""
        out_dir = os.path.join(self.work, "out")
        written: dict[str, str] = {}

        def sink(df, name):
            path = os.path.join(out_dir, f"{name}-{self.wl.iteration}")
            df.drop("bytes").write.mode("overwrite").parquet(path)
            written[name] = path

        self.attempted += 1
        try:
            self.wl.run_once(sink)
            self.wl.after_iteration()
            self.wl.iteration += 1
            outputs = {k: spark.read.parquet(p) for k, p in written.items()}
            return self.wl.check(outputs)
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            self._record_failure(exc)
            return {}

    def timed_runs(self, seconds: float) -> list[float]:
        """Back-to-back runs until ``seconds`` have passed (at least one);
        each run's wall time, in a span when tracing."""
        times: list[float] = []
        start = time.perf_counter()
        while not times or time.perf_counter() - start < seconds:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.wl.tr.span("iteration"):
                    self.wl.run_once(lambda df, name: noop(df))
                times.append(time.perf_counter() - t0)
            except Exception as exc:  # noqa: BLE001 - every failure is counted
                self._record_failure(exc)
                if len(self.errors) > 3:
                    break
            finally:
                self.wl.after_iteration()
                self.wl.iteration += 1
        return times


def layer_metrics(tr: Tracer, log: eventlog.EventLog, warmups: list[float], extra: dict) -> dict:
    stats = eventlog.reduce_spans(log, [s for s in tr.spans if "t1" in s])
    by_id = {s["id"]: s for s in tr.spans}

    def group_of(sp) -> str:
        while sp["parent"] is not None:
            sp = by_id[sp["parent"]]
        return str(sp["id"]) if sp["name"] == "iteration" else "decompose"

    # per layer and per group (one traced iteration, or the decomposition):
    # sums over that group's spans of the layer; reported as the median
    # over groups
    sums: dict[tuple[str, str], dict[str, float]] = {}
    for sp in tr.spans:
        if "t1" not in sp or sp["name"] not in LAYERS:
            continue
        rec = sums.setdefault((sp["name"], group_of(sp)), {k: 0.0 for k in GENERIC})
        rec["s"] += sp["t1"] - sp["t0"]
        rec["py_cpu_s"] += sp["py_cpu_s"]
        for k in ("jobs", "tasks", "exec_cpu_s", "shuffle_mb", "spill_mb", "driver_gap_s"):
            rec[k] += stats[sp["id"]][k]
        for c, v in sp["counts"].items():
            rec[c] = rec.get(c, 0.0) + v
    out = {name: 0.0 for name in per_layer_names()}
    layers = {layer for layer, _ in sums}
    for layer in layers:
        recs = [r for (ly, _), r in sums.items() if ly == layer]
        for k in set().union(*recs):
            if f"{layer}.{k}" in out:
                out[f"{layer}.{k}"] = statistics.median(r.get(k, 0.0) for r in recs)
    out["session.warmup_s"] = statistics.median(warmups)

    def iteration_median(fn) -> float:
        vals = [fn(sp) for sp in tr.spans if sp["name"] == "iteration" and "t1" in sp]
        return statistics.median(vals) if vals else 0.0

    def under(root, name):
        return [
            s for s in tr.spans
            if s["name"] == name and "t1" in s and _has_ancestor(s, root["id"], by_id)
        ]

    def dur(sp) -> float:
        return sp["t1"] - sp["t0"]

    if "jobs.dedup_corpus" in layers:
        decomposed = sum(
            out[f"{ly}.s"] for ly in ("ids", "dedupers.lsh", "textdedup.substring", "cc")
        )
        out["jobs.dedup_corpus.self_s"] = out["jobs.dedup_corpus.s"] - decomposed
    if "checkpoint" in layers:
        def stages(it, phase):
            return [c for p in under(it, "run." + phase) for c in under(p, "checkpoint")]

        write = iteration_median(lambda it: sum(stats[c["id"]]["write_s"] for c in stages(it, "cold")))
        out["checkpoint.write_s"] = write
        out["checkpoint.manifest_s"] = iteration_median(lambda it: sum(map(dur, stages(it, "cold")))) - write
        out["checkpoint.read_s"] = iteration_median(lambda it: sum(map(dur, stages(it, "resume"))))
        for phase in ("cold", "resume"):
            out[f"checkpoint.{phase}_s"] = iteration_median(
                lambda it: sum(map(dur, under(it, "run." + phase)))
            )
    out.update(extra)
    return out


def _has_ancestor(sp: dict, anc: int, by_id: dict) -> bool:
    while sp["parent"] is not None:
        if sp["parent"] == anc:
            return True
        sp = by_id[sp["parent"]]
    return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate", action="store_true", help="only write the seeded input")
    args = ap.parse_args()

    work, cache = os.environ["PERFBENCH_WORK"], os.environ["PERFBENCH_CACHE"]
    trace_dir = os.path.join(work, "eventlog")
    os.makedirs(trace_dir, exist_ok=True)
    sessions = Sessions(work, trace_dir)
    tracer = Tracer(False)
    wl = WORKLOADS[args.workload](args.seed, work, tracer)
    path = wl.input_dir(cache)
    if args.generate:
        generate(wl, sessions, path)
        return 0
    ensure_input(args, path)
    sessions.launch_jvm()
    phase("JVM up")

    # trace on: the last setup gets the event log and runs the traced half
    setups, warmups = [], []
    runner = Runner(wl, work)
    plain = SETUPS - 1 if args.trace else SETUPS
    for i in range(plain):
        spark, dt, warm = sessions.setup(path)
        setups.append(dt), warmups.append(warm)
        if i < plain - 1:
            spark.stop()
    phase("setups done")
    wl.prepare(spark, path)
    quality = runner.checked_run(spark)
    phase("checked run done")
    pid = jvm_pid(spark)
    times = runner.timed_runs(args.seconds / 2 if args.trace else args.seconds)
    phase("timed runs done")
    if not args.trace:
        rss = peak_rss_mb(pid)
    else:
        untraced = times
        spark.stop()
        spark, dt, warm = sessions.setup(path, eventlog_on=True)
        setups.append(dt), warmups.append(warm)
        wl.prepare(spark, path)
        runner.timed_runs(0)
        tracer.enabled, tracer.jvm_pid = True, jvm_pid(spark)
        times = runner.timed_runs(args.seconds / 2)
        try:
            wl.decompose()
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            runner.attempted += 1
            runner._record_failure(exc)
        spark.stop()
        phase("traced half done")
        logs = [p for p in glob.glob(os.path.join(trace_dir, "*")) if not p.endswith(".inprogress")]
        log = eventlog.read(max(logs, key=os.path.getmtime))
        extra = {
            "trace.untraced_job_s": statistics.median(untraced) if untraced else 0.0,
            "trace.traced_job_s": statistics.median(times),
            "checkpoint.bytes": float(getattr(wl, "ckpt_bytes", 0)),
        }
        for k in ("dup_pair_recall", "dup_pair_precision", "recall_bar_met", "largest_cluster_rows"):
            extra["quality." + k] = float(quality.get(k, 0.0))
        extra["trace.overhead_s"] = extra["trace.traced_job_s"] - extra["trace.untraced_job_s"]
        layers = layer_metrics(tracer, log, warmups, extra)

    if not times:
        print("no timed run succeeded:", *runner.errors, sep="\n  ", file=sys.stderr)
        return 1
    job_s = statistics.median(times)
    correct = runner.failed == 0 and bool(quality)
    print(f"workload={wl.name} seed={args.seed} rows={wl.size} cores={CORES} "
          f"timed_runs={len(times)} attempted={runner.attempted} failed={runner.failed}")
    for e in runner.errors:
        print("FAILED:", e)
    for k, v in quality.items():
        print(f"  check {k:<28} {v}")
    if not args.trace:
        values = {
            "setup_s": statistics.median(setups),
            "job_s": job_s,
            "rows_per_s": wl.size / job_s,
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        print(f"  job_s runs: {[round(t, 3) for t in times]}  setups: {[round(s, 3) for s in setups]}")
    else:
        metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in layers.items()}
    for k, m in metrics.items():
        if m["value"] or not args.trace:
            print(f"  {k:<40} {m['value']:>14.4f} {m['unit']}")
    print(json.dumps({
        "correct": correct, "attempted": runner.attempted,
        "failed": runner.failed, "metrics": metrics,
    }), flush=True)
    # skip interpreter teardown; run.py stops the JVM and its workers
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
