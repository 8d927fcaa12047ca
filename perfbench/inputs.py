"""Seeded benchmark inputs and their cached oracle answers.

Inputs come from ``tools/gen_scaledata.py`` (``gen_tpch``, ``gen_events``,
``gen_documents``, ``gen_embeddings``) driven by a numpy PCG64 stream
seeded with the benchmark's ``--seed``. ``gen_documents`` normally learns
its token model from a reference corpus outside the repository; the
benchmark reads nothing outside its checkout, so it hands the generator a
fixed model with the same shape instead (:data:`TEXT_MODEL`).

A generated set lives under ``<cache>/<key>/`` where the key hashes
(seed, scale factor, ``generator_digest()``, this file's digest). Each
batch query's DuckDB ``oracle_sql()`` answer is stored next to the tables,
so a later run with the same seed re-checks its outputs without paying
for the oracle again.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
from unittest import mock

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import gen_scaledata  # noqa: E402

#: Token model handed to ``gen_documents``: the reference corpus's shape
#: (five languages with its mix, one shared 30-word vocabulary drawn
#: uniformly, 10..99 tokens per document).
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
TEXT_MODEL = {
    "langs": _LANGS,
    "lang_p": [0.14, 0.41, 0.15, 0.15, 0.15],
    "tokens": {
        lang: (_WORDS, np.full(len(_WORDS), 1.0 / len(_WORDS))) for lang in _LANGS
    },
    "lens": {lang: np.arange(10, 100, dtype=np.int64) for lang in _LANGS},
}

#: Groups of generated tables: ``relational`` (TPC-H-ish tables and
#: events), ``text`` (documents and embeddings) and ``stream`` (documents
#: split into an index seed and micro-batches, see :func:`_stream_batches`).
GROUPS = ("relational", "text", "stream")

#: Share of the stream corpus (by doc id) that seeds the match index.
STREAM_SEED_SHARE = 0.5
#: Per micro-batch: planted exact and near copies of seed documents.
STREAM_EXACT_SHARE = 0.05
STREAM_NEAR_SHARE = 0.05


def _file_digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def input_key(seed: int, sf: float, group: str, batch: int) -> str:
    parts = [str(seed), f"{sf:g}", group, str(batch), gen_scaledata.generator_digest(),
             _file_digest(os.path.abspath(__file__))]
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


def _rng(seed: int, stream: int, sf: float) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream, int(sf * 1000)]))


def _stream_batches(out_dir: str, batch: int, rng: np.random.Generator) -> dict:
    """Split ``documents`` into ``seed_docs`` (the first
    :data:`STREAM_SEED_SHARE` of ids, exact copies collapsed to the
    lowest id, as the match index expects) and ``stream_NNN`` batches of
    ``batch`` consecutive ids. In each batch some documents are replaced
    by planted copies of seed documents: exact copies, and near copies
    with two extra tokens. ``planted`` lists them as (doc_id, kind,
    src_id)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(out_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pandas()
    os.remove(os.path.join(out_dir, "documents.parquet"))
    n_seed = int(len(docs) * STREAM_SEED_SHARE)
    seed = docs.iloc[:n_seed].drop_duplicates("text", keep="first")
    pq.write_table(pa.Table.from_pandas(seed, preserve_index=False),
                   os.path.join(out_dir, "seed_docs.parquet"))
    seed_ids = seed["doc_id"].to_numpy()
    seed_text = dict(zip(seed["doc_id"].tolist(), seed["text"].tolist()))
    n_exact = max(int(batch * STREAM_EXACT_SHARE), 1)
    n_near = max(int(batch * STREAM_NEAR_SHARE), 1)
    planted = []
    n_batches = (len(docs) - n_seed) // batch
    for b in range(n_batches):
        part = docs.iloc[n_seed + b * batch: n_seed + (b + 1) * batch].copy()
        slots = rng.choice(batch, size=n_exact + n_near, replace=False)
        srcs = rng.choice(seed_ids, size=n_exact + n_near, replace=False)
        texts = part["text"].tolist()
        ids = part["doc_id"].tolist()
        for j, (slot, src) in enumerate(zip(slots, srcs)):
            kind = "exact" if j < n_exact else "near"
            text = seed_text[int(src)]
            if kind == "near":
                text += " " + " ".join(rng.choice(_WORDS, size=2))
            texts[slot] = text
            planted.append((ids[slot], kind, int(src)))
        part["text"] = texts
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(out_dir, f"stream_{b:03d}.parquet"))
    pq.write_table(
        pa.table({
            "doc_id": pa.array([p[0] for p in planted], pa.int64()),
            "kind": pa.array([p[1] for p in planted], pa.string()),
            "src_id": pa.array([p[2] for p in planted], pa.int64()),
        }),
        os.path.join(out_dir, "planted.parquet"),
    )
    return {"seed_docs": len(seed), "stream_batches": n_batches, "batch": batch}


def _generate(group: str, seed: int, sf: float, batch: int, out_dir: str) -> dict:
    rows: dict = {}
    if group == "relational":
        rows["events"] = gen_scaledata.gen_events(sf, out_dir, _rng(seed, 0, sf))
        rows.update(gen_scaledata.gen_tpch(sf, out_dir, _rng(seed, 1, sf)))
        return rows
    with mock.patch.object(gen_scaledata, "_empirical_text_model", lambda: TEXT_MODEL):
        rows["documents"] = gen_scaledata.gen_documents(sf, out_dir, _rng(seed, 2, sf))
    if group == "text":
        rows["embeddings"] = gen_scaledata.gen_embeddings(sf, out_dir, _rng(seed, 3, sf))
    else:
        rows.update(_stream_batches(out_dir, batch, _rng(seed, 4, sf)))
    return rows


def ensure_inputs(cache: str, group: str, seed: int, sf: float, batch: int = 0) -> tuple[str, dict]:
    """Directory holding the group's tables for (seed, sf), generated on
    first use; returns (directory, manifest)."""
    key = input_key(seed, sf, group, batch)
    out_dir = os.path.join(cache, f"{group}-{key}")
    manifest_path = os.path.join(out_dir, "MANIFEST.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return out_dir, json.load(fh)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = {
        "group": group,
        "seed": seed,
        "sf": sf,
        "rows": _generate(group, seed, sf, batch, tmp),
        "generator_sha256": gen_scaledata.generator_digest(),
    }
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir, manifest


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted frame with timestamps at microsecond
    precision: the form both engines' answers are compared in."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="last")


def _cell_equal(a, b) -> bool:
    a_null = a is None or a is pd.NaT or (isinstance(a, float) and a != a)
    b_null = b is None or b is pd.NaT or (isinstance(b, float) and b != b)
    if a_null or b_null:
        return a_null and b_null
    if isinstance(a, (float, np.floating)) or isinstance(b, (float, np.floating)):
        try:
            return float(a) == float(b)
        except (TypeError, ValueError):
            return False
    if isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
        return list(a) == list(b)
    return bool(a == b)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """Empty string when ``got`` equals the oracle answer ``want`` exactly
    (row count, column names, every cell after canonical ordering), else
    a one-line description of the first difference."""
    if sorted(got.columns) != list(want.columns):
        return f"columns {sorted(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    got = canonical(got)
    for c in want.columns:
        g, w = got[c], want[c]
        if _numeric(g) and _numeric(w):
            if g.dtype.kind in "iu" and w.dtype.kind in "iu":
                same = np.array_equal(g.to_numpy(), w.to_numpy())
            else:
                same = np.array_equal(g.to_numpy(np.float64, na_value=np.nan),
                                      w.to_numpy(np.float64, na_value=np.nan), equal_nan=True)
            if same:
                continue
        else:
            try:
                if g.tolist() == w.tolist():
                    continue
            except ValueError:  # array-valued cells compare elementwise
                pass
        for i, (x, y) in enumerate(zip(g.tolist(), w.tolist())):
            if not _cell_equal(x, y):
                return f"{c}[{i}]: {x!r} != {y!r}"
    return ""


def _numeric(s: pd.Series) -> bool:
    return s.dtype.kind in "biuf"


def oracle_answers(in_dir: str, names: list[str]) -> dict[str, pd.DataFrame]:
    """Canonical DuckDB answer per query, computed once per input set and
    stored beside it as parquet."""
    out: dict[str, pd.DataFrame] = {}
    todo = []
    for name in names:
        path = os.path.join(in_dir, "oracle", f"{name}.parquet")
        if os.path.exists(path):
            out[name] = pd.read_parquet(path)
        else:
            todo.append(name)
    if not todo:
        return out
    import duckdb

    import __spark_entry__ as entrymod

    sqls = entrymod.oracle_sql()
    os.makedirs(os.path.join(in_dir, "oracle"), exist_ok=True)
    con = duckdb.connect()
    try:
        con.sql(f"SET threads TO {len(os.sched_getaffinity(0))}")
        con.sql(f"SET temp_directory = '{os.path.join(in_dir, 'oracle', 'spill')}'")
        for f in sorted(os.listdir(in_dir)):
            if f.endswith(".parquet"):
                con.sql(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(in_dir, f)}'"
                )
        for name in todo:
            path = os.path.join(in_dir, "oracle", f"{name}.parquet")
            canonical(con.sql(sqls[name]).df()).to_parquet(path)
            # read back, so a first run compares against the same dtypes
            # as every later run of the seed
            out[name] = pd.read_parquet(path)
    finally:
        con.close()
    return out


def main(argv: list[str] | None = None) -> int:
    """Generate (or find) one input set and its oracle answers; prints the
    directory. Runs as its own process so the benchmark's measured
    process never holds the generator's or DuckDB's memory."""
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--cache", required=True)
    ap.add_argument("--group", choices=GROUPS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--batch", type=int, default=0)
    ap.add_argument("--oracle", nargs="*", default=[])
    args = ap.parse_args(argv)
    in_dir, _ = ensure_inputs(args.cache, args.group, args.seed, args.sf, args.batch)
    oracle_answers(in_dir, args.oracle)
    print(in_dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
