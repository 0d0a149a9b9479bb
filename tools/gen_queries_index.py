"""Regenerate docs/QUERIES.md — the registry index, in registry order.

Each row: position, key, oracle kind, and a one-line summary resolved
from the query wrapper's docstring (falling back to the first operator
it calls, for thin wrappers).

    PYTHONPATH=. python tools/gen_queries_index.py
"""

import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from faconne_spark.queries import all_oracles, all_queries  # noqa: E402


def _mods():
    import faconne_spark.operators.dedup as D
    import faconne_spark.operators.multimodal as MM
    import faconne_spark.operators.relational as R
    import faconne_spark.operators.similarity as S
    import faconne_spark.operators.text as TX

    return {"D": D, "TX": TX, "S": S, "MM": MM, "R": R}


def _first_sentence(doc: str) -> str:
    """Docstrings wrap at ~72 cols, so taking one physical line cuts
    summaries mid-sentence; join lines up to the first blank line,
    then truncate at the first sentence end."""
    lines = []
    for line in (doc or "").strip().splitlines():
        if not line.strip():
            break
        lines.append(line.strip())
    text = " ".join(lines)
    m = re.search(r"[.!?](\s|$)", text)
    return text[: m.end()].strip() if m else text


def summary_of(fn, mods) -> str:
    s = _first_sentence(fn.__doc__ or "")
    if s:
        return s
    try:
        src = inspect.getsource(fn)
    except OSError:
        return ""
    for alias, name in re.findall(r"\b(D|TX|S|MM|R)\.(\w+)\(", src):
        target = getattr(mods[alias], name, None)
        s = _first_sentence(getattr(target, "__doc__", "") or "")
        if s:
            return s
    return ""


def main() -> None:
    qs, oracles = all_queries(), all_oracles()
    mods = _mods()
    n_sql = sum(1 for k in qs if k in oracles)
    oracle_note = (
        "every one paired with a DuckDB oracle"
        if n_sql == len(qs)
        else f"{n_sql} paired with a DuckDB oracle, "
        f"{len(qs) - n_sql} rows-only"
    )
    lines = [
        "# QUERIES — the correctness-gate registry",
        "",
        f"{len(qs)} queries, {oracle_note} "
        "(`__spark_entry__.oracle_sql()`) recomputing the same algorithm "
        "on the same parquet. Listed in registry order. Full design notes "
        "per key: SURVEY.md §2.",
        "",
        "| # | key | oracle | summary |",
        "|---|---|---|---|",
    ]
    for i, (k, fn) in enumerate(qs.items(), 1):
        kind = "SQL" if k in oracles else "rows-only"
        lines.append(f"| {i} | {k} | {kind} | {summary_of(fn, mods)} |")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "QUERIES.md",
    )
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {len(qs)} rows to {out}")


if __name__ == "__main__":
    main()
