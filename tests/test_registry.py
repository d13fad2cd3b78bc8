"""Registry invariants: the driver's oracle gate checks the FIRST 50 entries
of queries() in order — round 2 lost two green rows by letting the registry
grow past the window. Pin the contract so it cannot silently regress."""

import pytest

import __spark_entry__ as entrymod

# queries with no SQL-expressible oracle (engine-specific sketch internals);
# the driver records a weaker rows-only check for these by design
ROWS_ONLY = {"approx_distinct_users"}


def test_registry_is_exactly_the_oracle_window():
    qs = entrymod.queries()
    assert len(qs) == 50, (
        f"queries() has {len(qs)} entries; the driver checks exactly the "
        "first 50 — merge or trim before registering more"
    )


def test_every_query_has_an_oracle_or_documented_exemption():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    missing = [k for k in qs if k not in oracles and k not in ROWS_ONLY]
    assert not missing, f"queries without oracle SQL: {missing}"
    orphans = [k for k in oracles if k not in qs]
    assert not orphans, f"oracle SQL for unregistered queries: {orphans}"


def test_bench_branch_tags_match_live_entries(spark):
    """bench.py's per-branch decomposition filters each merged entry on a
    hardcoded (tag_col, values) map; a renamed or added branch would make
    the bench silently time an empty filter (or miss the new branch), so pin
    the map against the live entries' actual discriminator values."""
    import bench

    qs = entrymod.queries()
    for name, (tag, vals) in bench.BRANCH_TAGS.items():
        df = qs[name](spark, "/root/testdata/sf0.001")
        live = {r[0] for r in df.select(tag).distinct().collect()}
        assert live == set(vals), (
            f"{name}: BRANCH_TAGS has {sorted(vals)} but the entry emits "
            f"{sorted(live)}"
        )


@pytest.mark.parametrize(
    "name", ["sink_group_topic_partition", "sink_chunking", "sink_schema_rotation"]
)
def test_sink_naming_entries_match_oracle(spark, sf_dir, name):
    """The gate's sink naming entries run the sink's own record→object rule
    (``prepare_with_filenames``); comparing them with their DuckDB oracles
    here, with the gate's normalisation and hash, puts a naming regression
    in the default suite and not only in the separate gate run."""
    from tools.check_correctness import compare_with_oracle, oracle_connection

    sdf = entrymod.queries()[name](spark, sf_dir)
    n_rows, problems = compare_with_oracle(
        sdf, oracle_connection(sf_dir), entrymod.oracle_sql()[name]
    )
    assert n_rows > 0
    assert problems == []
