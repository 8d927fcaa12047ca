"""Built-in tasks: the reference's main entry points, runnable out of the box.

Parity target: the reference ships ~23 registered tasks in ``code/tasks``
(``construct_L1_nc``, ``construct_status_xlsx/geojson``,
``parse_main_fast_data``...). These built-ins mirror the main ones over the
engine's own surfaces, configured by environment:

- ``SPARK_GRAFT_SF_DIR``   input table dir (default /root/testdata/sf0.001)
- ``SPARK_GRAFT_OUT``      output dir (default ./products)
- ``SPARK_GRAFT_TOB_GLOB`` TOB3 input glob for the fast path (task errors
  cleanly when unset — binary inputs are deployment-specific)

Each task takes ``(spark, site)`` per the registry contract and returns a
small JSON-able summary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .plans.l1 import condition_events
from .plans.status import staleness_days, write_status_geojson, write_status_xlsx
from .operators.status import last_valid_stats
from .session import apply_engine_conf
from .sources.tables import load_table
from .tasks import register


def _sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def _out_dir() -> str:
    out = os.environ.get("SPARK_GRAFT_OUT", "products")
    os.makedirs(out, exist_ok=True)
    return out


@register("construct_l1")
def construct_l1(spark: SparkSession, site: str) -> dict:
    """Flagship conditioning chain -> partitioned parquet lake
    (construct_L1_nc analogue; the lake is the canonical store, SURVEY S20)."""
    apply_engine_conf(spark)
    conditioned = condition_events(spark, _sf_dir())
    dest = os.path.join(_out_dir(), "l1", f"site={site}")
    conditioned.write.mode("overwrite").parquet(dest)
    return {"rows": spark.read.parquet(dest).count(), "path": dest}


@register("construct_status_products")
def construct_status_products(spark: SparkSession, site: str) -> dict:
    """Per-variable staleness/validity status -> geojson + json + xlsx
    (construct_status_xlsx/geojson analogue)."""
    apply_engine_conf(spark)
    ev = load_table(spark, _sf_dir(), "events")
    long_df = ev.select(
        F.lit(site).alias("site"),
        F.col("event_type").alias("variable"),
        F.col("ts").alias("DATETIME"),
        F.col("value"),
    )
    stats = last_valid_stats(
        long_df, "DATETIME", "value", F.col("value") >= 0, ["site", "variable"]
    )
    as_of = ev.agg(F.max("ts")).collect()[0][0]
    rows = [r.asDict() for r in staleness_days(stats, as_of).collect()]
    for r in rows:
        r.setdefault("latitude", -34.0)
        r.setdefault("longitude", 140.6)
    out = _out_dir()
    geojson = os.path.join(out, f"status_{site}.geojson")
    xlsx = os.path.join(out, f"status_{site}.xlsx")
    write_status_geojson(rows, geojson)
    write_status_xlsx(rows, xlsx)
    return {"n_variables": len(rows), "geojson": geojson, "xlsx": xlsx}


@register("parse_fast_data")
def parse_fast_data(spark: SparkSession, site: str) -> dict:
    """10 Hz TOB3 -> 30-min TOA5 blocks (parse_main_fast_data analogue);
    needs SPARK_GRAFT_TOB_GLOB pointing at daily TOB3 files."""
    glob = os.environ.get("SPARK_GRAFT_TOB_GLOB")
    if not glob:
        raise ValueError("set SPARK_GRAFT_TOB_GLOB to the TOB3 input glob")
    from .plans.fast_path import run_fast_path

    dest = os.path.join(_out_dir(), "blocks", site)
    n = run_fast_path(spark, glob, dest)
    return {"records": n, "path": dest}


@register("curate_documents")
def curate_documents(spark: SparkSession, site: str) -> dict:
    """Training-corpus curation over the documents table: exact + near-dup
    dedup (canonical keep), quality gate, deterministic sampling -> curated
    parquet (driver-mandate extension; see plans.curation)."""
    from .operators.dedup import release_staged
    from .plans.curation import curate_corpus

    apply_engine_conf(spark)
    docs = load_table(spark, _sf_dir(), "documents")
    # optional text-rewriting stages, off unless the deployment opts in
    ld = os.environ.get("SPARK_GRAFT_LINE_DEDUP_MIN_DOCS")
    ss = os.environ.get("SPARK_GRAFT_SUBSTR_MIN_TOKENS")
    curated = curate_corpus(
        docs,
        minhash_threshold=0.2,
        num_hashes=16,
        bands=4,
        line_dedup_min_docs=int(ld) if ld else None,
        substring_min_tokens=int(ss) if ss else None,
    )
    dest = os.path.join(_out_dir(), "curated", f"site={site}")
    curated.write.mode("overwrite").parquet(dest)
    release_staged(spark)
    n_in, n_out = docs.count(), spark.read.parquet(dest).count()
    return {"rows_in": n_in, "rows_out": n_out, "path": dest}


@register("compact_dedup_indexes")
def compact_dedup_indexes(spark: SparkSession, site: str) -> dict:
    """Lake-schedule compaction of the incremental dedup indexes (the
    off-ingest-path maintenance the index docstrings defer to): for the
    index root at ``$SPARK_GRAFT_INDEX_DIR`` (default ``<out>/dedup_index/
    site=<site>``), rewrite whichever of the grams/chunks/lines tables
    exist to their canonical aggregates (``dedup_index.compact_*_index``)
    and bin-pack the match index's exact/bands files. Returns per-table
    row counts before/after; tables the root's manifest does not list
    are skipped.

    Safe against a live ingest stream on the same root, on any store:
    every compaction and every append is one commit of the root's
    manifest log (``operators.index_log``), so a stream batch that
    commits while this task compacts stays live beside the compacted
    files, and a batch that read the index before a compaction commits
    on top of it unchanged. Each compactor ends by sweeping what crashed
    or superseded writers left behind."""
    from .operators import dedup_index as di
    from .operators.index_log import snapshot

    apply_engine_conf(spark)
    root = os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(_out_dir(), "dedup_index", f"site={site}"),
    )
    out: dict = {"path": root}
    snap = snapshot(spark, root)
    for sub, fn in (
        ("grams", di.compact_gram_index),
        ("chunks", di.compact_chunk_index),
        ("lines", di.compact_line_index),
    ):
        if snap.has(sub):
            out[sub] = fn(spark, root)
    # the match index's exact/bands legs (r15): bin-packing undoes
    # per-micro-batch append file explosion — the measured
    # batch-COUNT-linear classifier degradation (BLOOM_r15)
    if snap.has("exact") or snap.has("bands"):
        out["match"] = di.compact_match_index(spark, root)
    return out


@register("refresh_dsir_ratio")
def refresh_dsir_ratio(spark: SparkSession, site: str) -> dict:
    """Scheduled rebuild of the streaming DSIR ratio artifact (r13) —
    the cadence leg of the frozen-model pattern: the streaming scorer
    (``streaming.curation.dsir_scored_stream``) reads a persisted
    (bucket, lr_pico) table; this task rebuilds it from the current
    raw documents pool and the target slice and publishes it as a new
    version (``write_dsir_ratio_artifact``), so a live stream keeps
    scoring against either the old or the new model, never a torn one.
    The result carries the artifact meta and the version this run
    committed.

    Env knobs: ``$SPARK_GRAFT_DSIR_RATIO_DIR`` (default
    ``<out>/dsir_ratio/site=<site>``), ``$SPARK_GRAFT_DSIR_TARGET_LANG``
    (default ``en`` — target = the documents with that lang),
    ``$SPARK_GRAFT_DSIR_BUCKETS`` (default 10000)."""
    from .streaming.curation import write_dsir_ratio_artifact

    apply_engine_conf(spark)
    raw = load_table(spark, _sf_dir(), "documents")
    lang = os.environ.get("SPARK_GRAFT_DSIR_TARGET_LANG", "en")
    buckets = int(os.environ.get("SPARK_GRAFT_DSIR_BUCKETS", "10000"))
    path = os.environ.get(
        "SPARK_GRAFT_DSIR_RATIO_DIR",
        os.path.join(_out_dir(), "dsir_ratio", f"site={site}"),
    )
    meta = write_dsir_ratio_artifact(
        raw, raw.where(F.col("lang") == lang), path, buckets=buckets
    )
    return {"path": path, "target_lang": lang, **meta}


@register("refresh_quality_model")
def refresh_quality_model(spark: SparkSession, site: str) -> dict:
    """Scheduled rebuild of the frozen quality-model artifact (r13
    verdict #4 — parity with ``refresh_dsir_ratio``): weak labels from
    Gopher's repetition rule (``repetition_weak_labels`` — no human
    labels at corpus scale), a bounded driver-side Newton fit
    (``train_quality_weights_sampled``), published as the artifact's
    next version (``write_quality_model_artifact``, one manifest commit,
    rename-free so object stores work too); a live
    ``quality_scored_stream`` keeps the weights it loaded until restart.
    The result names the version this run committed.

    Env knobs: ``$SPARK_GRAFT_QM_MODEL_DIR`` (default
    ``<out>/quality_model/site=<site>``), ``$SPARK_GRAFT_QM_REP_FRAC``
    (default 0.2 — dup-3-gram labelling threshold),
    ``$SPARK_GRAFT_QM_SAMPLE_ROWS`` (default 100000)."""
    from .operators.quality_model import (
        repetition_weak_labels,
        train_quality_weights_sampled,
    )
    from .streaming.curation import write_quality_model_artifact

    apply_engine_conf(spark)
    docs = load_table(spark, _sf_dir(), "documents")
    frac = float(os.environ.get("SPARK_GRAFT_QM_REP_FRAC", "0.2"))
    sample_rows = int(os.environ.get("SPARK_GRAFT_QM_SAMPLE_ROWS", "100000"))
    path = os.environ.get(
        "SPARK_GRAFT_QM_MODEL_DIR",
        os.path.join(_out_dir(), "quality_model", f"site={site}"),
    )
    labelled = docs.join(
        repetition_weak_labels(docs, "doc_id", "text", frac), on="doc_id"
    )
    weights = train_quality_weights_sampled(
        labelled, "doc_id", "text", sample_rows=sample_rows
    )
    out = write_quality_model_artifact(weights, path, spark=spark)
    return {
        "path": path,
        "version": out["version"],
        "rep_frac_threshold": frac,
        "cols": list(weights["cols"]),
    }
