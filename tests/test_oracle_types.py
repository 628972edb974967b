"""Driver output-type contract: no registered query may return a
top-level ARRAY/MAP/STRUCT column.

The external correctness driver canonicalizes result rows with a pandas
sort before hashing; pandas cannot sort list-valued columns, so any
complex-typed output column turns into a driver-side
``TypeError: unhashable type`` — the query is recorded red even when its
values are correct (this is exactly what happened to ``key_skew_report``
in round 5: its ``top5_keys`` ARRAY<BIGINT> column was the only complex
output type in the registry).  Complex intermediates are fine; outputs
must be scalar (stringify with concat_ws / array_to_string on both
engine sides).

Schema-only: builds every DataFrame (Catalyst analysis) without
executing a job, so the sweep is cheap enough to run always-on.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from spark_bam_spark.queries import load_all


def _complex_cols(schema: StructType) -> list[str]:
    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def test_no_complex_top_level_output_columns(spark, sf_small):
    registry = load_all()
    offenders: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    for name, spec in registry.items():
        try:
            schema = spec.fn(spark, sf_small).schema
        except Exception as exc:  # surface analysis breakage too
            errors[name] = f"{type(exc).__name__}: {exc}"
            continue
        bad = _complex_cols(schema)
        if bad:
            offenders[name] = bad
    assert not errors, f"schema analysis failed for: {errors}"
    assert not offenders, (
        "queries returning top-level complex-typed columns (driver's pandas "
        f"canonicalizer cannot sort them): {offenders}"
    )


def test_registry_names_are_nonempty():
    registry = load_all()
    assert len(registry) >= 192
    assert all(isinstance(n, str) and n for n in registry)


def test_window_ordering_invariants():
    """Driver-window ordering contracts: every never-green or
    force-recheck name must land inside the first 50 entries (the
    driver's verification window), and the priority/recheck tuples must
    only name real registered queries (typo guard)."""
    from spark_bam_spark.queries import (
        _DRIVER_CHECK_PRIORITY,
        _FORCE_RECHECK,
        REGISTRY,
        driver_green_names,
    )

    registry = load_all()
    assert set(_FORCE_RECHECK) <= set(REGISTRY), set(_FORCE_RECHECK) - set(REGISTRY)
    assert set(_DRIVER_CHECK_PRIORITY) <= set(REGISTRY)
    head = set(list(registry)[:50])
    green = driver_green_names()
    missing = {n for n in registry if n not in green} - head
    assert not missing, f"never-green names outside the 50-slot window: {missing}"
    forced_out = set(_FORCE_RECHECK) - head
    assert not forced_out, f"force-recheck names outside the window: {forced_out}"


# ---------------------------------------------------------------------------
# Oracle-side type contract: the driver's value hash is type-sensitive, and
# DuckDB promotes SUM() over integer columns to HUGEINT (int128), which
# hashes differently from Spark's BIGINT even when every value is equal —
# exactly the r2 failure of `boilerplate_segments`.
# DESCRIBE every oracle and reject HUGEINT/UHUGEINT columns (the oracle SQL
# must CAST(... AS BIGINT) explicitly).
# ---------------------------------------------------------------------------

_REGISTRY = load_all()
WITH_ORACLE = sorted(n for n, s in _REGISTRY.items() if s.oracle is not None)


@pytest.fixture(scope="module")
def con():
    from tests.conftest import SF_SMALL
    from tests.oracle import duck_con

    c = duck_con(SF_SMALL)
    yield c
    c.close()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_has_no_hugeint_columns(con, name):
    desc = con.execute(f"DESCRIBE {_REGISTRY[name].oracle}").fetchall()
    huge = [(col, typ) for col, typ, *_ in desc if "HUGEINT" in typ.upper()]
    assert not huge, (
        f"{name}: oracle yields int128 columns {huge}; wrap in CAST(... AS BIGINT) "
        "or the driver's type-sensitive hash will mismatch Spark's BIGINT"
    )


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
