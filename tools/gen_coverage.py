"""Regenerate the machine-generated registry snapshot in COVERAGE.md.

The hand-written top half of COVERAGE.md maps SURVEY §2 operator IDs to
implementations; this script maintains the section between the GENERATED
markers from the live registry so coverage claims stay machine-checkable
as the registry grows (one row per registered query: verification mode,
tags, driver-check rounds).
Rows are sorted by (module, name), so adding or deleting a query adds or
deletes only its own row.

Usage: python tools/gen_coverage.py
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BEGIN = "<!-- BEGIN GENERATED REGISTRY SNAPSHOT (tools/gen_coverage.py) -->"
END = "<!-- END GENERATED REGISTRY SNAPSHOT -->"


def modules_of(names) -> dict[str, str]:
    """Query name -> the first query module whose source registers it."""
    import inspect
    import pkgutil

    from spark_bam_spark import queries as qpkg

    sources = {
        info.name: inspect.getsource(
            __import__(f"{qpkg.__name__}.{info.name}", fromlist=["x"])
        )
        for info in pkgutil.iter_modules(qpkg.__path__)
    }
    return {
        n: next((m for m, src in sources.items() if f'"{n}"' in src), "?") for n in names
    }


def driver_rounds(name: str) -> str:
    out = []
    for path in sorted(os.listdir(REPO)):
        if path.startswith("CORRECTNESS_r") and path.endswith(".json"):
            rec = json.load(open(os.path.join(REPO, path))).get(name)
            if rec is None:
                continue
            rnd = path[len("CORRECTNESS_"):-len(".json")]
            if rec.get("hash_match"):
                out.append(f"{rnd}:hash")
            elif rec.get("err") == "no_oracle" and rec.get("spark_rows") is not None:
                out.append(f"{rnd}:rows")
            elif rec.get("hash_match") is False:
                out.append(f"{rnd}:FAIL")
            else:
                out.append(f"{rnd}:?")
    return " ".join(out) or "—"


def main() -> None:
    from spark_bam_spark.queries import load_all

    reg = load_all()
    n_golden = sum(1 for s in reg.values() if s.oracle and s.oracle_kind == "golden")
    n_inv = sum(1 for s in reg.values() if s.oracle and s.oracle_kind == "invariant")
    n_derived = sum(1 for s in reg.values() if s.oracle and s.oracle_kind == "derived")
    lines = [
        BEGIN,
        "",
        "## Registry snapshot (generated — do not edit by hand)",
        "",
        f"{len(reg)} registered queries, "
        f"{sum(1 for s in reg.values() if s.oracle)} with DuckDB oracle SQL, "
        f"{sum(1 for s in reg.values() if s.headline)} headline (benched). "
        "Driver column: rounds in which the external driver verified the query "
        "(`hash` = full row/schema/value-hash oracle match, `rows` = rows-only). "
        "Oracle column grades the EVIDENTIARY CLASS, not just presence: "
        "`derived` = the SQL recomputes the result independently from the "
        "input tables / generator truth; `golden` = the SQL replays a "
        "committed dump of one verified engine run (regression-pin grade — "
        "detects changes, cannot detect wrongness present at dump time); "
        "`invariant` = the SQL checks deterministic invariants of a "
        "non-deterministic output (e.g. timing stats). "
        f"Classes: {n_derived} derived, {n_golden} golden, {n_inv} invariant.",
        "",
        "| Query | Module | Oracle | Headline | Tags | Driver-checked |",
        "|---|---|---|---|---|---|",
    ]
    module = modules_of(reg)
    for name in sorted(reg, key=lambda n: (module[n], n)):
        spec = reg[name]
        lines.append(
            f"| `{name}` | {module[name]} | "
            f"{spec.oracle_kind if spec.oracle else 'rows-only'} | "
            f"{'yes' if spec.headline else ''} | "
            f"{' '.join(spec.tags)} | {driver_rounds(name)} |"
        )
    lines += ["", END]

    path = os.path.join(REPO, "COVERAGE.md")
    doc = open(path).read()
    if BEGIN in doc:
        head = doc.split(BEGIN)[0].rstrip()
        tail = doc.split(END, 1)[1].lstrip("\n") if END in doc else ""
    else:
        head, tail = doc.rstrip(), ""
    out = head + "\n\n" + "\n".join(lines) + ("\n" + tail if tail else "\n")
    open(path, "w").write(out)
    print(f"COVERAGE.md: snapshot of {len(reg)} queries written")


if __name__ == "__main__":
    main()
