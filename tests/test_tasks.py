from __future__ import annotations

import pytest

from tern_ep_data_pipeline_spark import tasks


@pytest.fixture(autouse=True)
def clean_registry():
    saved = dict(tasks._REGISTRY)
    tasks._REGISTRY.clear()
    yield
    tasks._REGISTRY.clear()
    tasks._REGISTRY.update(saved)


MATRIX = tasks.SiteTaskMatrix(
    {
        "SiteA": {"ingest": True, "status": True},
        "SiteB": {"ingest": True, "status": False},
        "SiteC": {"ingest": False, "status": True},
    }
)


def test_matrix_lookup():
    assert MATRIX.sites_for("ingest") == ["SiteA", "SiteB"]
    assert MATRIX.tasks_for("SiteA") == ["ingest", "status"]


def test_run_task_with_isolation(spark):
    calls = []

    @tasks.register("ingest")
    def ingest(spark_, site):
        calls.append(site)
        if site == "SiteB":
            raise RuntimeError("logger unreachable")
        return spark_.range(3).count()

    results = tasks.run_task(spark, "ingest", MATRIX)
    assert calls == ["SiteA", "SiteB"]
    by_site = {r.site: r for r in results}
    assert by_site["SiteA"].ok and by_site["SiteA"].result == 3
    assert not by_site["SiteB"].ok and "unreachable" in by_site["SiteB"].error


def test_unknown_task_raises(spark):
    with pytest.raises(KeyError, match="unknown task"):
        tasks.run_task(spark, "nope", MATRIX)


def test_builtin_tasks_register_and_run(spark, tmp_path, monkeypatch):
    # reload, not import: any earlier test importing tasks_builtin
    # (test_artifacts does) leaves it in sys.modules, and the autouse
    # registry clear would otherwise make a plain import a no-op here
    import importlib

    import tern_ep_data_pipeline_spark.tasks_builtin as builtin_mod
    from tern_ep_data_pipeline_spark import tasks as task_mod
    from tern_ep_data_pipeline_spark.__main__ import main

    importlib.reload(builtin_mod)

    names = task_mod.registered_tasks()
    assert {"construct_l1", "construct_status_products", "parse_fast_data"} <= set(names)

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setenv("SPARK_GRAFT_OUT", str(tmp_path / "products"))
    matrix = task_mod.SiteTaskMatrix({"TestSite": {"construct_status_products": True}})
    results = task_mod.run_task(spark, "construct_status_products", matrix)
    assert len(results) == 1 and results[0].ok, results[0].error
    out = results[0].result
    import os
    assert os.path.exists(out["geojson"]) and os.path.exists(out["xlsx"])
    assert out["n_variables"] > 0

    # fast path task fails cleanly (isolated) without its input glob
    monkeypatch.delenv("SPARK_GRAFT_TOB_GLOB", raising=False)
    res = task_mod.run_task(
        spark, "parse_fast_data",
        task_mod.SiteTaskMatrix({"TestSite": {"parse_fast_data": True}}),
    )
    assert not res[0].ok and "SPARK_GRAFT_TOB_GLOB" in res[0].error


def test_curate_documents_task(spark, tmp_path, monkeypatch):
    import importlib

    import tern_ep_data_pipeline_spark.tasks_builtin as builtin_mod
    from tern_ep_data_pipeline_spark import tasks as task_mod

    # the autouse fixture cleared the registry; a cached import won't
    # re-register, so reload to re-run the @register decorators
    importlib.reload(builtin_mod)

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setenv("SPARK_GRAFT_OUT", str(tmp_path / "products"))
    matrix = task_mod.SiteTaskMatrix({"TestSite": {"curate_documents": True}})
    results = task_mod.run_task(spark, "curate_documents", matrix)
    assert len(results) == 1 and results[0].ok, results[0].error
    out = results[0].result
    assert 0 < out["rows_out"] <= out["rows_in"]
    curated = spark.read.parquet(out["path"])
    assert {"doc_id", "text", "n_chars_clean"} <= set(curated.columns)


def test_compact_dedup_indexes_task(spark, tmp_path, monkeypatch):
    import importlib

    import tern_ep_data_pipeline_spark.tasks_builtin as builtin_mod
    from tern_ep_data_pipeline_spark import tasks as task_mod
    from tern_ep_data_pipeline_spark.operators.dedup_index import (
        append_to_gram_index,
        append_to_line_index,
        build_gram_index,
        build_line_index,
        clean_against_gram_index,
    )

    importlib.reload(builtin_mod)

    root = str(tmp_path / "didx")
    docs = spark.createDataFrame(
        [(1, " ".join(f"tk{i}" for i in range(12)) + "\nshared line")],
        ["doc_id", "text"],
    )
    build_gram_index(docs, root)
    append_to_gram_index(docs.withColumn("doc_id", docs.doc_id + 1), root)
    build_line_index(docs, root)
    append_to_line_index(docs.withColumn("doc_id", docs.doc_id + 1), root)
    # no chunks table on purpose: absent tables are skipped, not errors
    # a lines compaction killed before its commit left unlisted files:
    # the task compacts the listed rows only
    from tern_ep_data_pipeline_spark.operators import index_log

    index_log.write(index_log.scan(spark, root, "lines"), root, "lines")
    lines_rows = index_log.snapshot(spark, root).rows("lines")

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", root)
    matrix = task_mod.SiteTaskMatrix({"TestSite": {"compact_dedup_indexes": True}})
    results = task_mod.run_task(spark, "compact_dedup_indexes", matrix)
    assert len(results) == 1 and results[0].ok, results[0].error
    out = results[0].result
    assert out["grams"]["rows_after"] < out["grams"]["rows_before"]
    assert out["lines"]["rows_after"] < out["lines"]["rows_before"] == lines_rows
    assert "chunks" not in out
    # the compacted index still answers: an id-3 batch repeating indexed
    # text loses all its tokens
    got = clean_against_gram_index(
        spark,
        docs.withColumn("doc_id", docs.doc_id + 2),
        root,
    ).first()
    from tern_ep_data_pipeline_spark.operators.dedup import release_staged

    release_staged(spark)
    assert got["n_removed_tokens"] == got["n_tokens"]


def test_refresh_dsir_ratio_task(spark, tmp_path, monkeypatch):
    """r13: the scheduled ratio-artifact refresh — builds the frozen
    (bucket, lr_pico) model from the documents table's lang slice,
    publishes a new version, and the streaming scorer loads it."""
    import importlib

    import tern_ep_data_pipeline_spark.tasks_builtin as builtin_mod
    from tern_ep_data_pipeline_spark import tasks as task_mod
    from tern_ep_data_pipeline_spark.streaming.curation import load_dsir_ratio

    importlib.reload(builtin_mod)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    ratio = str(tmp_path / "dsir_ratio")
    monkeypatch.setenv("SPARK_GRAFT_DSIR_RATIO_DIR", ratio)
    monkeypatch.setenv("SPARK_GRAFT_DSIR_BUCKETS", "512")

    matrix = task_mod.SiteTaskMatrix({"TestSite": {"refresh_dsir_ratio": True}})
    results = task_mod.run_task(spark, "refresh_dsir_ratio", matrix)
    assert len(results) == 1 and results[0].ok, results[0].error
    out = results[0].result
    assert out["buckets"] == 512 and out["target_lang"] == "en"
    assert out["version"] == 1
    table, meta = load_dsir_ratio(spark, ratio)
    assert len(table) == meta["n_ratio_rows"] > 0
    assert meta["version"] == 1

    # a second run is a clean refresh (the next version goes live) and
    # reports the version its own commit created
    results = task_mod.run_task(spark, "refresh_dsir_ratio", matrix)
    assert results[0].ok, results[0].error
    assert results[0].result["version"] == 2
    table2, meta2 = load_dsir_ratio(spark, ratio)
    assert table2 == table  # same inputs -> same frozen model
    assert meta2["version"] == 2
