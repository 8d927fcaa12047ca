from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"block_start", "n_recs", "sum_value", "n_flagged"} <= set(df.columns)


def test_queries_have_oracles_or_are_flagged(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # the driver's correctness gate checks exactly the first 50 entries
    assert len(qs) <= 50
    # every registry entry is fully oracle-checked: IVF probes rank on
    # rounded similarity, and the sketch entry uses the portable KMV
    # estimator instead of engine-specific HLL
    assert set(qs) == set(oracles)


def test_all_queries_run_at_smoke_sf(spark, sf_dir):
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        df.limit(5).collect()


def test_bench_names_resolve():
    """Every bench headline/extended name must resolve to a q_ function —
    a rename otherwise surfaces as a crashed driver BENCH run."""
    import bench
    import __spark_entry__ as entrymod

    for name in [*bench.HEADLINE, *bench.EXTENDED]:
        assert callable(getattr(entrymod, f"q_{name}", None)), name
