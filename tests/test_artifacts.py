"""Frozen-model artifacts (the DSIR ratio and the quality-model weights)
as index-log roots: each publish commits its tables as the next
manifest, loaders read one snapshot, and the refresh task reports the
version it committed.

Object stores aren't available to the tests; the file:// scheme drives
the same Hadoop FileSystem code paths (URI parsing, listing, create /
delete, manifest reads), and most paths here use it.
"""
from __future__ import annotations

import json
import os

import pytest

from tern_ep_data_pipeline_spark.operators import index_log
from tern_ep_data_pipeline_spark.operators.quality_model import HEURISTIC_FEATURES


def _file_uri(p) -> str:
    return "file://" + str(p)


def _weights(tag: float) -> dict:
    """A quality-model payload told apart by its bias ``tag``."""
    n = len(HEURISTIC_FEATURES)
    return {
        "cols": list(HEURISTIC_FEATURES),
        "mean": [0.0] * n,
        "std": [1.0] * n,
        "w": [0.5] * n,
        "b": float(tag),
    }


def _table_dirs(root, table: str) -> set[str]:
    return set(os.listdir(os.path.join(str(root), table)))


def _dsir_docs(spark):
    rows = [
        (i, f"alpha beta{i % 5} gamma{i % 3} delta{i % 7} shared tail")
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _expected_ratio(docs, target, buckets: int) -> dict:
    from tern_ep_data_pipeline_spark.operators.sampling import dsir_logratio

    return {
        int(r["bucket"]): int(r["lr_pico"])
        for r in dsir_logratio(docs, target, buckets=buckets).collect()
    }


def test_publish_resolve_prune(spark, tmp_path, monkeypatch):
    """Three publishes: each loads as the newest version. The superseded
    versions' files stay while younger than the sweep grace (a reader of
    an older manifest may still be scanning them); a sweep past the
    grace leaves only the live version's files and manifest."""
    from tern_ep_data_pipeline_spark.streaming.curation import (
        load_quality_model,
        write_quality_model_artifact,
    )

    root = tmp_path / "art"
    base = _file_uri(root)
    with pytest.raises(FileNotFoundError):
        load_quality_model(base, spark=spark)

    for i in (1, 2, 3):
        out = write_quality_model_artifact(_weights(i), base, spark=spark)
        assert out == dict(_weights(i), version=i)
        assert load_quality_model(base, spark=spark) == out
    assert len(_table_dirs(root, "model")) == 3
    assert _table_dirs(root, "_v") >= {"1.json", "2.json", "3.json"}

    monkeypatch.setattr(index_log, "GRACE_S", 0.0)
    index_log.sweep(spark, base)
    snap = index_log.snapshot(spark, base)
    assert snap.version == 3
    assert _table_dirs(root, "model") == {
        f["path"].split("/")[1] for f in snap.files("model")
    }
    assert {n for n in _table_dirs(root, "_v") if n.endswith(".json")} == {
        "3.json"
    }
    assert load_quality_model(base, spark=spark) == dict(_weights(3), version=3)


def test_publish_crash_resume(spark, tmp_path, monkeypatch):
    """A publisher that dies mid-payload, or is killed after writing its
    tables and before its commit, leaves only unlisted files: the
    published version stays live, and the next publish commits version
    2 at once and loads its own payload."""
    from tern_ep_data_pipeline_spark.streaming import curation as sc

    docs = _dsir_docs(spark)
    t1, t2 = docs.where("doc_id % 2 = 0"), docs.where("doc_id % 3 = 0")

    # a writer that raises after the ratio and vocab tables landed
    base = _file_uri(tmp_path / "raising")
    sc.write_dsir_ratio_artifact(docs, t1, base, buckets=128, vocab_top_k=4)
    real_write = index_log.write

    def dying_write(df, root, table, *a, **k):
        if table == "meta":
            raise RuntimeError("publisher died")
        return real_write(df, root, table, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(index_log, "write", dying_write)
        with pytest.raises(RuntimeError, match="publisher died"):
            sc.write_dsir_ratio_artifact(docs, t2, base, buckets=128)
    table, meta = sc.load_dsir_ratio(spark, base)
    assert meta["version"] == 1 and meta["vocab_top_k"] == 4
    assert table == _expected_ratio(docs, t1, 128)
    meta = sc.write_dsir_ratio_artifact(docs, t2, base, buckets=128)
    assert meta["version"] == 2 and "vocab_top_k" not in meta
    assert sc.load_dsir_ratio(spark, base) == (
        _expected_ratio(docs, t2, 128), meta
    )
    assert sc.load_dsir_vocab(spark, base) is None

    # a publisher killed between its write and its commit: its table
    # written whole, plus a torn file from a write cut short
    root = tmp_path / "killed"
    base = _file_uri(root)
    sc.write_quality_model_artifact(_weights(1), base, spark=spark)
    killed = spark.createDataFrame([(json.dumps(_weights(9)),)], "json string")
    index_log.write(killed, base, "model")
    torn = root / "model" / "f00dfeed" / "part-00000-torn.snappy.parquet"
    torn.parent.mkdir()
    torn.write_bytes(b"PAR1\x00half")
    assert sc.load_quality_model(base, spark=spark) == dict(_weights(1), version=1)
    out = sc.write_quality_model_artifact(_weights(2), base, spark=spark)
    assert out == dict(_weights(2), version=2)
    assert sc.load_quality_model(base, spark=spark) == out


def test_versioned_dsir_artifact_scores_like_flat(spark, tmp_path):
    """write_dsir_ratio_artifact publishes the same manifest layout on
    a plain local path and on a :// path; the scorer reads either and
    produces integer-equal scores."""
    from tern_ep_data_pipeline_spark.streaming.curation import (
        dsir_scored_stream,
        load_dsir_ratio,
        write_dsir_ratio_artifact,
    )

    rows = [(i, f"tok{i % 7} tok{(i + 1) % 5} shared words here") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.where("doc_id % 2 = 0")

    flat = str(tmp_path / "flat")
    meta_flat = write_dsir_ratio_artifact(docs, target, flat, buckets=128)
    uri = _file_uri(tmp_path / "versioned")
    meta_v = write_dsir_ratio_artifact(docs, target, uri, buckets=128)
    assert meta_v == meta_flat
    assert index_log.snapshot(spark, uri).version == 1
    assert index_log.snapshot(spark, flat).version == 1

    t_flat, m_flat = load_dsir_ratio(spark, flat)
    t_v, m_v = load_dsir_ratio(spark, uri)
    assert t_v == t_flat and m_v == m_flat

    sf = {r["doc_id"]: r["logweight_micro"]
          for r in dsir_scored_stream(docs, flat).collect()}
    sv = {r["doc_id"]: r["logweight_micro"]
          for r in dsir_scored_stream(docs, uri).collect()}
    assert sv == sf


def test_versioned_refresh_never_tears_resolved_reader(spark, tmp_path, monkeypatch):
    """A scorer reads one version at construction and holds it on the
    driver: a refresh that lands AFTER construction must not change (or
    break) that scorer's output, not even once a sweep has deleted the
    files it was read from, while a scorer built after the refresh sees
    the new model."""
    from tern_ep_data_pipeline_spark.streaming.curation import (
        dsir_scored_stream,
        write_dsir_ratio_artifact,
    )

    rows = [(i, f"w{i % 9} w{(i + 2) % 9} body text") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uri = _file_uri(tmp_path / "live")

    write_dsir_ratio_artifact(docs, docs.where("doc_id % 2 = 0"), uri,
                              buckets=128)
    old_scored = dsir_scored_stream(docs, uri)          # reads version 1
    before = {r["doc_id"]: r["logweight_micro"] for r in old_scored.collect()}

    # refresh with a DIFFERENT target -> different model at version 2
    write_dsir_ratio_artifact(docs, docs.where("doc_id % 3 = 0"), uri,
                              buckets=128)
    assert index_log.snapshot(spark, uri).version == 2
    monkeypatch.setattr(index_log, "GRACE_S", 0.0)
    index_log.sweep(spark, uri)                         # version 1's files go
    after_old = {r["doc_id"]: r["logweight_micro"] for r in old_scored.collect()}
    assert after_old == before

    new_scored = {r["doc_id"]: r["logweight_micro"]
                  for r in dsir_scored_stream(docs, uri).collect()}
    assert new_scored != before                         # new model live


def test_versioned_quality_model_roundtrip(spark, tmp_path):
    """Quality-model artifact through the same mechanism: a manifest
    commit + snapshot load + the streaming scorer consumes it, on a ://
    path and a plain local path alike; a base an older build left (a
    flat model file, or a _CURRENT pointer over v=N/ dirs) is refused
    with a request to republish."""
    from tern_ep_data_pipeline_spark.operators.quality_model import (
        repetition_weak_labels,
        train_quality_weights_sampled,
    )
    from tern_ep_data_pipeline_spark.streaming.curation import (
        load_quality_model,
        quality_scored_stream,
        write_quality_model_artifact,
    )

    rows = [(i, ("clean varied sentence number %d with words." % i)
             if i % 2 else ("spam spam spam spam spam " * 4))
            for i in range(24)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    labelled = docs.join(
        repetition_weak_labels(docs, "doc_id", "text"), on="doc_id"
    )
    w = train_quality_weights_sampled(labelled, "doc_id", "text")

    uri = _file_uri(tmp_path / "qm")
    assert write_quality_model_artifact(w, uri, spark=spark)["version"] == 1
    assert load_quality_model(uri, spark=spark) == dict(w, version=1)

    scored = quality_scored_stream(docs, uri)
    probs = {r["doc_id"]: r["quality_prob"] for r in scored.collect()}
    assert set(probs) == {r[0] for r in rows}
    assert all(0.0 <= p <= 1.0 for p in probs.values())

    # a plain local path publishes the same layout (spark defaults to
    # the active session)
    local = str(tmp_path / "model")
    write_quality_model_artifact(w, local)
    assert index_log.snapshot(spark, local).version == 1
    assert load_quality_model(local) == dict(w, version=1)

    flat = tmp_path / "model.json"
    flat.write_text(json.dumps(w))
    pointer = tmp_path / "pointer"
    (pointer / "v=1").mkdir(parents=True)
    (pointer / "v=1" / "model.json").write_text(json.dumps(w))
    (pointer / "_CURRENT").write_text("1 tok")
    for old in (flat, pointer):
        with pytest.raises(ValueError, match="republish.*write_quality_model"):
            load_quality_model(str(old), spark=spark)


def test_refresh_quality_model_task(spark, tmp_path, monkeypatch):
    """The scheduled quality-model refresh: weak labels -> bounded fit
    -> a manifest commit; each run reports the version its own commit
    created, and the stream loader reads the newest."""
    import importlib

    import tern_ep_data_pipeline_spark.tasks_builtin as builtin_mod
    from tern_ep_data_pipeline_spark import tasks as task_mod
    from tern_ep_data_pipeline_spark.streaming.curation import (
        load_quality_model,
    )

    importlib.reload(builtin_mod)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    qm_dir = _file_uri(tmp_path / "qm_task")
    monkeypatch.setenv("SPARK_GRAFT_QM_MODEL_DIR", qm_dir)

    matrix = task_mod.SiteTaskMatrix(
        {"TestSite": {"refresh_quality_model": True}}
    )
    results = task_mod.run_task(spark, "refresh_quality_model", matrix)
    assert len(results) == 1 and results[0].ok, results[0].error
    out = results[0].result
    assert out["version"] == 1 and out["path"] == qm_dir
    w1 = load_quality_model(qm_dir, spark=spark)
    assert set(w1) == {"cols", "mean", "std", "w", "b", "version"}
    assert w1["version"] == 1

    results = task_mod.run_task(spark, "refresh_quality_model", matrix)
    assert results[0].ok and results[0].result["version"] == 2
    # same inputs -> same weights
    assert load_quality_model(qm_dir, spark=spark) == dict(w1, version=2)


def _dsir_payload(spark, base) -> tuple:
    from tern_ep_data_pipeline_spark.streaming import curation as sc

    table, meta = sc.load_dsir_ratio(spark, base)
    return table, meta, sc.load_dsir_vocab(spark, base)


def test_fencing_one_winner_one_clean_abort(spark, tmp_path, monkeypatch):
    """On a store whose create-if-absent degrades to a plain overwrite
    (emulated here), two publishers racing for the same manifest both
    report that version and the loser is not told it lost — but the
    live artifact is still one publisher's whole payload, because each
    manifest lists only its own publisher's files. The race is staged
    deterministically: publisher B runs to completion inside A's
    manifest write, which then overwrites B's."""
    from tern_ep_data_pipeline_spark.streaming.curation import (
        write_dsir_ratio_artifact,
    )

    docs = _dsir_docs(spark)
    t_a, t_b = docs.where("doc_id % 2 = 0"), docs.where("doc_id % 3 = 0")
    base = str(tmp_path / "fence")
    versions, raced = {}, []

    def overwrite(spark_, path, data):
        if not raced:
            raced.append(path)
            versions["b"] = write_dsir_ratio_artifact(
                docs, t_b, base, buckets=128, vocab_top_k=5
            )["version"]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)
        return True

    monkeypatch.setattr(index_log, "create_exclusive", overwrite)
    versions["a"] = write_dsir_ratio_artifact(
        docs, t_a, base, buckets=128, vocab_top_k=3
    )["version"]
    assert versions == {"a": 1, "b": 1}

    table, meta, vocab = _dsir_payload(spark, base)
    assert table == _expected_ratio(docs, t_a, 128)
    assert meta["vocab_top_k"] == 3 == len(vocab)


def test_concurrent_publishers_serialise(spark, tmp_path):
    """Two threads publishing at once on a local base both commit, as
    versions 1 and 2, and the newest version is the whole payload of
    the publisher that committed it."""
    import threading

    from tern_ep_data_pipeline_spark.streaming.curation import (
        write_dsir_ratio_artifact,
    )

    docs = _dsir_docs(spark)
    targets = {
        "a": (docs.where("doc_id % 2 = 0"), 3),
        "b": (docs.where("doc_id % 3 = 0"), 5),
    }
    base = _file_uri(tmp_path / "race")
    results, errors = {}, []
    barrier = threading.Barrier(2)

    def run(tag):
        target, k = targets[tag]
        try:
            barrier.wait()
            results[tag] = write_dsir_ratio_artifact(
                docs, target, base, buckets=128, vocab_top_k=k
            )["version"]
        except Exception as exc:  # surface, don't swallow
            errors.append((tag, exc))

    ts = [threading.Thread(target=run, args=(t,)) for t in targets]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    assert sorted(results.values()) == [1, 2]
    winner = next(tag for tag, v in results.items() if v == 2)
    target, k = targets[winner]
    table, meta, vocab = _dsir_payload(spark, base)
    assert meta["version"] == 2
    assert table == _expected_ratio(docs, target, 128)
    assert meta["vocab_top_k"] == k == len(vocab)
