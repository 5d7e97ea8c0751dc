"""Every registered query with an oracle must hash-match DuckDB at sf0.01 —
the same gate the driver applies (BASELINE.md t2)."""

from __future__ import annotations

import pytest

from imdb_top_250_etl_pipeline_spark.plans import QUERIES, SUBSUMED

# Batteries AND their subsumed constituents: a battery hash failure is
# localized by the constituent's own parity test.
ALL = {**QUERIES, **SUBSUMED}

from .conftest import SF_CORRECT
from .oracle_harness import compare, first_diff

ORACLE_QUERIES = sorted(n for n, q in ALL.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in ALL.items() if q.oracle is None)


def _tiered(names):
    """Driver-facing queries run in the DEFAULT tier (they are the
    correctness gate); SUBSUMED constituents run in the --slow tier —
    each battery's order-insensitive hash already verifies every
    constituent's full row multiset, so the per-constituent re-check
    only LOCALIZES a battery failure to one branch."""
    return [
        n if n in QUERIES else pytest.param(n, marks=pytest.mark.slow)
        for n in names
    ]


@pytest.mark.parametrize("name", _tiered(ORACLE_QUERIES))
def test_oracle_parity(spark, duck, name):
    q = ALL[name]
    df = q.fn(spark, SF_CORRECT)
    res = compare(df, duck, q.oracle)
    if not res["hash_match"]:
        only_s, only_d = first_diff(df, duck, q.oracle)
        pytest.fail(
            f"{name}: {res}\nspark-only rows: {only_s}\nduck-only rows: {only_d}"
        )


@pytest.mark.parametrize("name", _tiered(ROWS_ONLY_QUERIES))
def test_rows_only_runs(spark, name):
    q = ALL[name]
    df = q.fn(spark, SF_CORRECT)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_extension_battery_shard_map_constituents_oracle_backed():
    """The sf1 sweep shards extension_battery's oracle into constituent
    oracles (tools/sf1_sweep.py).  The cheap registry-side half of the
    soundness contract runs in the DEFAULT tier: every constituent the
    map names must be registered with a non-None oracle — otherwise
    sharding would silently drop hash coverage for that branch."""
    from imdb_top_250_etl_pipeline_spark.plans import SHARDED_BATTERIES

    for part_key, cname in SHARDED_BATTERIES["extension_battery"].items():
        assert cname in ALL, f"{part_key!r} -> unregistered {cname!r}"
        assert ALL[cname].oracle is not None, (
            f"{part_key!r} -> {cname!r} has no oracle; sharding would "
            "drop hash coverage for that branch"
        )


def test_extension_battery_branch_schemas():
    """Every branch of every table-rendered battery (extension_battery
    and the rest of batteries.BATTERY_TABLES) binds its rendered oracle
    fragment to the battery's declared column types on its own.  The
    battery's UNION ALL would coerce a drifting branch away (an INTEGER
    or HUGEINT slot just widens the whole column), so this is what names
    the branch.  The declared types are what DuckDB binds each schema's
    defaults to (STRING -> VARCHAR).  DESCRIBE only binds each
    fragment; nothing executes."""
    import duckdb

    from imdb_top_250_etl_pipeline_spark.plans import batteries

    from .conftest import SF_SMOKE

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")

    def describe(sql):
        return [(r[0], r[1]) for r in con.execute("DESCRIBE " + sql).fetchall()]

    drift = {}
    for name, (schema, branches) in batteries.BATTERY_TABLES.items():
        defaults = ", ".join(f"{e} AS {c}" for c, e in schema.items())
        want = describe(f"SELECT 'tag' AS part, {defaults}")
        if name == "extension_battery":
            assert want == [
                ("part", "VARCHAR"),
                ("a", "BIGINT"),
                ("b", "BIGINT"),
                ("n", "BIGINT"),
                ("k", "VARCHAR"),
                ("s", "VARCHAR"),
                ("v", "DOUBLE"),
                ("ok", "BOOLEAN"),
            ]
        for branch in branches:
            got = describe(batteries.branch_sql(schema, *branch))
            if got != want:
                drift[f"{name}:{branch[0]}"] = got
    con.close()
    assert not drift, drift


@pytest.mark.slow
def test_extension_battery_shard_map_total(spark):
    """The expensive half (builds and executes the battery at
    sf0.001): every part tag the battery EMITS must resolve through
    the shard map — a newly-added branch with no covering constituent
    would silently lose sweep-scale hash coverage.  --slow tier: the
    default tier already rebuilds the battery once for its parity row,
    and this only changes when batteries.py does (pytest runtime
    budget, round-10 verdict item 7)."""
    from imdb_top_250_etl_pipeline_spark.plans import (
        SHARDED_BATTERIES,
        resolve_battery_part,
    )

    parts_map = SHARDED_BATTERIES["extension_battery"]
    df = ALL["extension_battery"].fn(spark, "/root/testdata/sf0.001")
    parts = sorted(r[0] for r in df.select("part").distinct().collect())
    uncovered = [p for p in parts if resolve_battery_part(p, parts_map) is None]
    assert not uncovered, f"parts with no covering constituent: {uncovered}"
