"""Static scale-hygiene checks over the engine source (not tests):

- no per-row ``iterrows`` in any kernel (Arrow batches must be consumed
  via ``.to_numpy()`` column access — iterrows materializes a Series per
  row and is the classic 10-100x pandas-UDF slowdown);
- no ``collect()`` loops in operator hot paths other than the documented
  driver-side aggregates (row-id offsets, CC convergence signature);
- no environment knob outside a short allowlist, and no state smuggled
  on ``_liken_*`` DataFrame attributes (any transform drops them and
  Spark Connect does not support them — pass return values instead).
"""

from __future__ import annotations

from pathlib import Path

SRC = Path(__file__).resolve().parent.parent / "liken_spark"


def _sources() -> list[Path]:
    return sorted(SRC.rglob("*.py"))


def test_no_iterrows_in_engine():
    offenders = [
        str(p)
        for p in _sources()
        if ".iterrows(" in p.read_text(encoding="utf-8")
    ]
    assert offenders == [], f"iterrows found in engine source: {offenders}"


def test_no_toPandas_in_engine():
    # A driver-side toPandas is allowed ONLY on a line carrying an explicit
    # "bounded-collect:" pragma documenting the cardinality gate that bounds
    # it (e.g. cc.py's adaptive small-graph fast path, capped at
    # local_max_edges rows by the same-job signature count). Unmarked
    # toPandas = an undeclared full-materialization and fails here.
    offenders = [
        f"{p}:{i}"
        for p in _sources()
        for i, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        if ".toPandas(" in line and "bounded-collect:" not in line
    ]
    assert offenders == [], f"driver-side toPandas found in engine source: {offenders}"


# The ONLY windows allowed in the engine are per-row-bounded top-n ranks:
# their partition key is one row's candidate list ("i" / "vec_id"), whose
# size is bounded by topn-candidate fan-in, never by user-key or canonical
# cluster cardinality. A window partitioned by a user key or canonical id
# ships an entire (possibly web-scale-hot) group into ONE task — the exact
# anti-pattern the round-3 de-windowing of drop_duplicates and the AND-step
# removed (groupBy+min_by/max_by+join instead). This lint fails if such a
# window is reintroduced.
_WINDOW_ALLOWLIST = {
    # (file name, partitionBy argument source text)
    ("operators/dedupers.py", '"i"'),      # tfidf per-row top-n
    ("operators/ann.py", '"vec_id"'),      # ANN per-row top-k (2 sites)
}


def test_windows_only_per_row_bounded():
    import re

    offenders = []
    for p in _sources():
        text = p.read_text(encoding="utf-8")
        rel = str(p.relative_to(SRC))
        for m in re.finditer(r"Window\.partitionBy\(([^)]*)\)", text):
            arg = m.group(1).strip()
            if (rel, arg) not in _WINDOW_ALLOWLIST:
                line = text[: m.start()].count("\n") + 1
                offenders.append(f"{rel}:{line} Window.partitionBy({arg})")
    assert offenders == [], (
        "non-allowlisted Window.partitionBy in engine source (hot-key "
        f"single-task risk — use groupBy+min_by/max_by+join): {offenders}"
    )


# The only LIKEN_SPARK_* environment settings the engine may read: the CC
# driver fast-path gate, the session warm-up switch and the driver memory.
# A/B knobs for measured-and-rejected paths stay out of the library.
_ENV_ALLOWLIST = {"LIKEN_SPARK_CC_LOCAL_MAX", "LIKEN_SPARK_WARMUP", "LIKEN_SPARK_DRIVER_MEM"}


def test_env_knobs_allowlisted():
    import re

    offenders = [
        f"{p.relative_to(SRC)}:{i} {name}"
        for p in _sources()
        for i, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        for name in re.findall(r"LIKEN_SPARK_[A-Z0-9_]+", line)
        if name not in _ENV_ALLOWLIST
    ]
    assert offenders == [], f"non-allowlisted LIKEN_SPARK_* setting in engine source: {offenders}"


# ``sc._liken_warmed`` memoizes the once-per-SparkContext warm-up on the
# context (session.py) — not a DataFrame, so not the hazard checked here.
_ATTR_ALLOWLIST = {"_liken_warmed"}


def test_no_hidden_dataframe_attributes():
    import re

    attr = re.compile(
        r"\.(_liken_\w+)|(?:get|set|has|del)attr\([^,]+,\s*[\"'](_liken_\w+)[\"']"
    )
    offenders = [
        f"{p.relative_to(SRC)}:{i} {a or b}"
        for p in _sources()
        for i, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        for a, b in attr.findall(line)
        if (a or b) not in _ATTR_ALLOWLIST
    ]
    assert offenders == [], f"_liken_* attribute set or read in engine source: {offenders}"
