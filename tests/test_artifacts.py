"""Versioned object-store-capable frozen-model artifacts (r13 verdict
#3/#4): pointer-based publication through sources.artifacts, the DSIR
ratio and quality-model writers on top of it, and the refresh task.

Object stores aren't available to the tests; the file:// scheme drives
the same Hadoop FileSystem code paths (URI parsing, fs.exists / create
/ delete, pointer resolution), and most paths here use it.
"""
from __future__ import annotations

import json
import os

import pytest

from tern_ep_data_pipeline_spark.sources.artifacts import (
    current_artifact_dir,
    current_artifact_version,
    publish_artifact_version,
    read_small_file,
)


def _file_uri(p) -> str:
    return "file://" + str(p)


def test_publish_resolve_prune(spark, tmp_path):
    """Three publishes with keep=2: the pointer flips per publish, the
    live dir is always complete, and only the newest two payloads
    survive (an in-flight reader of the PREVIOUS version never loses
    its files mid-read)."""
    base = _file_uri(tmp_path / "art")
    assert current_artifact_version(spark, base) is None
    with pytest.raises(FileNotFoundError):
        current_artifact_dir(spark, base)

    def writer_for(tag):
        def w(vdir):
            local = vdir[len("file://"):]
            os.makedirs(local, exist_ok=True)
            with open(os.path.join(local, "payload.json"), "w") as fh:
                json.dump({"tag": tag}, fh)
        return w

    for i, tag in enumerate(("a", "b", "c"), start=1):
        v = publish_artifact_version(spark, base, writer_for(tag))
        assert v == i == current_artifact_version(spark, base)
        got = json.loads(
            read_small_file(
                spark, current_artifact_dir(spark, base) + "/payload.json"
            )
        )
        assert got == {"tag": tag}
    root = str(tmp_path / "art")
    assert not os.path.exists(os.path.join(root, "v=1"))  # pruned
    assert os.path.exists(os.path.join(root, "v=2"))      # reader grace
    assert os.path.exists(os.path.join(root, "v=3"))

    with pytest.raises(ValueError, match="keep"):
        publish_artifact_version(spark, base, writer_for("x"), keep=0)


def test_publish_crash_resume(spark, tmp_path):
    """A writer that dies mid-payload leaves the pointer UNCHANGED (the
    old version stays live); the retry reclaims the same version
    number, deleting the half-written leftovers first."""
    base = _file_uri(tmp_path / "cr")

    def ok(vdir):
        local = vdir[len("file://"):]
        os.makedirs(local, exist_ok=True)
        with open(os.path.join(local, "p.txt"), "w") as fh:
            fh.write("good")

    publish_artifact_version(spark, base, ok)

    def boom(vdir):
        local = vdir[len("file://"):]
        os.makedirs(local, exist_ok=True)
        with open(os.path.join(local, "p.txt"), "w") as fh:
            fh.write("torn")
        raise RuntimeError("publisher died")

    with pytest.raises(RuntimeError, match="publisher died"):
        publish_artifact_version(spark, base, boom)
    assert current_artifact_version(spark, base) == 1  # pointer intact
    assert read_small_file(
        spark, current_artifact_dir(spark, base) + "/p.txt"
    ) == b"good"

    v = publish_artifact_version(spark, base, ok)
    assert v == 2
    assert read_small_file(
        spark, current_artifact_dir(spark, base) + "/p.txt"
    ) == b"good"


def test_versioned_dsir_artifact_scores_like_flat(spark, tmp_path):
    """write_dsir_ratio_artifact publishes the same versioned layout on
    a plain local path and on a :// path; the scorer resolves either
    pointer and produces integer-equal scores."""
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
    assert current_artifact_version(spark, uri) == 1
    assert current_artifact_version(spark, flat) == 1

    t_flat, m_flat = load_dsir_ratio(spark, flat)
    t_v, m_v = load_dsir_ratio(spark, uri)
    assert t_v == t_flat and m_v == m_flat

    sf = {r["doc_id"]: r["logweight_micro"]
          for r in dsir_scored_stream(docs, flat).collect()}
    sv = {r["doc_id"]: r["logweight_micro"]
          for r in dsir_scored_stream(docs, uri).collect()}
    assert sv == sf


def test_versioned_refresh_never_tears_resolved_reader(spark, tmp_path):
    """A scorer resolves _CURRENT once at construction: a refresh that
    lands AFTER construction must not change (or break) that scorer's
    output — its version dir survives pruning — while a scorer built
    after the refresh sees the new model. This is the live-stream
    refresh contract verdict r13 #3 asks for."""
    from tern_ep_data_pipeline_spark.streaming.curation import (
        dsir_scored_stream,
        write_dsir_ratio_artifact,
    )

    rows = [(i, f"w{i % 9} w{(i + 2) % 9} body text") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uri = _file_uri(tmp_path / "live")

    write_dsir_ratio_artifact(docs, docs.where("doc_id % 2 = 0"), uri,
                              buckets=128)
    old_scored = dsir_scored_stream(docs, uri)          # resolves v=1
    before = {r["doc_id"]: r["logweight_micro"] for r in old_scored.collect()}

    # refresh with a DIFFERENT target -> different model at v=2
    write_dsir_ratio_artifact(docs, docs.where("doc_id % 3 = 0"), uri,
                              buckets=128)
    assert current_artifact_version(spark, uri) == 2
    after_old = {r["doc_id"]: r["logweight_micro"] for r in old_scored.collect()}
    assert after_old == before                          # v=1 dir intact

    new_scored = {r["doc_id"]: r["logweight_micro"]
                  for r in dsir_scored_stream(docs, uri).collect()}
    assert new_scored != before                         # new model live


def test_versioned_quality_model_roundtrip(spark, tmp_path):
    """Quality-model artifact through the same mechanism: versioned
    write + pointer-resolved load + the streaming scorer consumes it, on
    a :// path and a plain local path alike; a flat model file an older
    build left is refused with a request to republish."""
    import pytest as _pytest

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
    write_quality_model_artifact(w, uri, spark=spark)
    assert current_artifact_version(spark, uri) == 1
    assert load_quality_model(uri, spark=spark) == w

    scored = quality_scored_stream(docs, uri)
    probs = {r["doc_id"]: r["quality_prob"] for r in scored.collect()}
    assert set(probs) == {r[0] for r in rows}
    assert all(0.0 <= p <= 1.0 for p in probs.values())

    # a plain local path publishes the same versioned layout (spark
    # defaults to the active session)
    local = str(tmp_path / "model")
    write_quality_model_artifact(w, local)
    assert current_artifact_version(spark, local) == 1
    assert load_quality_model(local) == w

    flat = tmp_path / "model.json"
    flat.write_text(json.dumps(w))
    with _pytest.raises(ValueError, match="republish"):
        load_quality_model(str(flat), spark=spark)


def test_refresh_quality_model_task(spark, tmp_path, monkeypatch):
    """The scheduled quality-model refresh: weak labels -> bounded fit
    -> versioned publication; a second run bumps the version and the
    stream loader follows the pointer."""
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
    assert set(w1) == {"cols", "mean", "std", "w", "b"}

    results = task_mod.run_task(spark, "refresh_quality_model", matrix)
    assert results[0].ok and results[0].result["version"] == 2
    assert load_quality_model(qm_dir, spark=spark) == w1  # same inputs


def test_fencing_one_winner_one_clean_abort(spark, tmp_path, monkeypatch):
    """r14 verdict #4: on a store where the version claim is NOT atomic
    (create-if-absent degrades to a plain overwrite, emulated here), two
    racing publishers must produce one winner and one CLEAN abort —
    never two publishers both flipping the pointer onto a torn payload.
    The race is staged deterministically: publisher A's writer runs
    publisher B to completion mid-publish, so A's pre-flip fencing
    re-read finds the pointer moved and aborts with nothing changed."""
    from tern_ep_data_pipeline_spark.operators import index_log
    from tern_ep_data_pipeline_spark.sources.artifacts import (
        ArtifactPublishError,
        _write_small_file,
    )

    def overwrite(spark_, path, data):
        _write_small_file(spark_, path, data)
        return True

    monkeypatch.setattr(index_log, "create_exclusive", overwrite)
    base = _file_uri(tmp_path / "fence")

    def plain_writer(tag):
        def w(vdir):
            local = vdir[len("file://"):]
            os.makedirs(local, exist_ok=True)
            with open(os.path.join(local, "p.json"), "w") as fh:
                json.dump({"tag": tag}, fh)
        return w

    def racing_writer(vdir):
        plain_writer("loser")(vdir)
        # competitor B starts AND finishes while A is mid-publish
        publish_artifact_version(spark, base, plain_writer("winner"))

    with pytest.raises(ArtifactPublishError, match="aborting cleanly"):
        publish_artifact_version(spark, base, racing_writer)

    # exactly one publication stands, intact, named by a fenced pointer
    assert current_artifact_version(spark, base) == 1
    live = current_artifact_dir(spark, base)  # token cross-check passes
    assert json.loads(read_small_file(spark, live + "/p.json")) == {
        "tag": "winner"
    }


def test_reader_detects_torn_publication(spark, tmp_path):
    """A pointer whose fencing token disagrees with the version dir's
    _PUBLISHER stake is a torn publication — resolution refuses loudly
    instead of serving a hybrid payload."""
    from tern_ep_data_pipeline_spark.sources.artifacts import (
        ArtifactPublishError,
    )

    root = tmp_path / "torn"
    (root / "v=1").mkdir(parents=True)
    (root / "v=1" / "_PUBLISHER").write_text("tok-b")
    (root / "_CURRENT").write_text("1 tok-a")
    base = _file_uri(root)
    assert current_artifact_version(spark, base) == 1  # version still reads
    with pytest.raises(ArtifactPublishError, match="torn"):
        current_artifact_dir(spark, base)


def test_legacy_pointer_without_token_resolves_and_upgrades(spark, tmp_path):
    """Pre-r15 pointers carry only the version number and version dirs
    have no _PUBLISHER stake: resolution skips the fencing cross-check,
    and the next publish on top writes the fenced format."""
    root = tmp_path / "legacy"
    (root / "v=3").mkdir(parents=True)
    (root / "v=3" / "p.txt").write_text("old")
    (root / "_CURRENT").write_text("3")
    base = _file_uri(root)
    assert current_artifact_version(spark, base) == 3
    assert current_artifact_dir(spark, base).endswith("/v=3")

    def w(vdir):
        local = vdir[len("file://"):]
        os.makedirs(local, exist_ok=True)
        with open(os.path.join(local, "p.txt"), "w") as fh:
            fh.write("new")

    assert publish_artifact_version(spark, base, w) == 4
    ptr = (root / "_CURRENT").read_text().split()
    assert ptr[0] == "4" and len(ptr) == 2  # fenced format now
    assert (root / "v=4" / "_PUBLISHER").read_text() == ptr[1]


def test_concurrent_publishers_serialise(spark, tmp_path):
    """Two threads publishing simultaneously on a local base are
    serialised by the version claim: a publisher that finds its version
    claimed aborts cleanly, every publication that succeeds holds its
    own version, and the final pointer names the complete payload of the
    one winner of the newest version."""
    import threading

    from tern_ep_data_pipeline_spark.sources.artifacts import (
        ArtifactPublishError,
    )

    base = _file_uri(tmp_path / "race")
    results = []
    errors = []

    def writer_for(tag):
        def w(vdir):
            local = vdir[len("file://"):]
            os.makedirs(local, exist_ok=True)
            import time as _t

            _t.sleep(0.2)  # widen the overlap window
            with open(os.path.join(local, "p.json"), "w") as fh:
                json.dump({"tag": tag}, fh)
        return w

    def run(tag):
        try:
            results.append(
                (tag, publish_artifact_version(spark, base, writer_for(tag)))
            )
        except Exception as exc:  # surface, don't swallow
            errors.append((tag, exc))

    ts = [threading.Thread(target=run, args=(t,)) for t in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert all(isinstance(e, ArtifactPublishError) for _, e in errors), errors
    assert len(results) + len(errors) == 2 and results
    versions = sorted(v for _, v in results)
    assert versions == list(range(1, len(versions) + 1))
    assert current_artifact_version(spark, base) == versions[-1]
    live = json.loads(
        read_small_file(spark, current_artifact_dir(spark, base) + "/p.json")
    )
    winner = next(tag for tag, v in results if v == versions[-1])
    assert live == {"tag": winner}
