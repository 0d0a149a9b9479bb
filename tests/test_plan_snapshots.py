"""Plan-shape snapshots for every registry query (VERDICT round-1 item
8): the physical-plan OUTLINE — operator tree, pushed filters, read
schemas, aggregate functions — is checked into docs/plans/*.txt so a
plan regression (lost pushdown, extra shuffle, broadcast→SMJ flip)
shows up as a reviewable diff, not a silent slowdown.

Regenerate after an intentional plan change with:

    FACONNE_REGEN_PLANS=1 python -m pytest tests/test_plan_snapshots.py
"""

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "plans"
)

from faconne_spark.queries import all_queries  # noqa: E402

SNAPSHOT_QUERIES = sorted(all_queries())

# detail lines worth pinning: scan pushdown/pruning, aggregate modes,
# join shapes. Everything else (stats, codegen ids, locations) churns.
_KEEP = re.compile(
    r"^(\(\d+\) |PushedFilters: |ReadSchema: |Functions \[|Join condition: |"
    r"Left keys \[|Right keys \[)"
)


def _normalize(text: str) -> str:
    out = []
    for line in text.splitlines():
        line = line.strip()
        if not _KEEP.match(line):
            continue
        line = re.sub(r"#\d+[L]?", "#N", line)
        # multi-distinct aggregates Expand with gid labels whose
        # NUMBERING is assigned per-session (the same query planned
        # after different predecessors swaps gid 1/2) — the labels are
        # arbitrary, normalize them
        line = re.sub(r"gid#N = \d+", "gid#N = G", line)
        # subexpression-elimination ids are numbered by a session-global
        # counter, so the same query planned after different predecessors
        # gets different _common_expr_NN names — normalize them
        line = re.sub(r"_common_expr_\d+", "_common_expr_K", line)
        line = re.sub(r"plan_id=\d+", "plan_id=X", line)
        line = re.sub(r"hashpartitioning\((.*?), \d+\)", r"hashpartitioning(\1, P)", line)
        line = re.sub(r"\[codegen id : \d+\]", "", line).rstrip()
        out.append(line)
    return "\n".join(out) + "\n"


def _plan_shape(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return _normalize(qe.explainString(mode))


@pytest.fixture(autouse=True)
def _empty_cache(spark):
    """Plan every query against an empty cache. A relation that an
    earlier query persisted and left cached shows up as an
    InMemoryRelation in the plan of any later query that computes the
    same subtree, which would make each snapshot depend on test order."""
    from faconne_spark.operators.dedup import release_caches

    release_caches()
    spark.catalog.clearCache()
    yield
    release_caches()


def test_snapshots_match_registry():
    """Every registry key has a snapshot and every snapshot names a
    registry key (no uncovered key, no orphaned file)."""
    stems = {f[: -len(".txt")] for f in os.listdir(PLANS_DIR) if f.endswith(".txt")}
    assert stems == set(SNAPSHOT_QUERIES), (
        f"uncovered keys: {sorted(set(SNAPSHOT_QUERIES) - stems)}; "
        f"orphaned snapshots: {sorted(stems - set(SNAPSHOT_QUERIES))}"
    )


@pytest.mark.parametrize("name", SNAPSHOT_QUERIES)
def test_plan_snapshot(name, spark, sf_dir):
    df = all_queries()[name](spark, sf_dir)
    shape = _plan_shape(df)
    path = os.path.join(PLANS_DIR, f"{name}.txt")
    if os.environ.get("FACONNE_REGEN_PLANS"):
        os.makedirs(PLANS_DIR, exist_ok=True)
        with open(path, "w") as f:
            f.write(shape)
        return
    assert os.path.exists(path), (
        f"no snapshot for {name}; run FACONNE_REGEN_PLANS=1 pytest {__file__}"
    )
    with open(path) as f:
        want = f.read()
    assert shape == want, (
        f"plan shape changed for {name} — if intentional, regenerate with "
        f"FACONNE_REGEN_PLANS=1 and review the diff"
    )
