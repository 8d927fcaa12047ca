"""Self-generated scale variants of the driver test tables.

The driver ships sf0.001/0.01/0.1 (TESTDATA.md); every performance claim
above sf0.1 was design-only until round 4. This generator extrapolates
the SAME statistical shape (measured from the driver's sf0.1 parquet) to
larger scale factors so the heavy queries can be benched on a real
scaling curve:

- ``documents``: 50_000 x sf docs, ~54 tokens from the driver corpus's own
  empirical per-language token distribution, lang/source mix matched,
  ~4% planted near-duplicates (copy + small tail edit) and ~0.2% exact
  copies — the dedup queries need realistic collision rates, not iid text.
- ``embeddings``: 20_000 x sf unit vectors, dim 64, 10 Gaussian clusters
  (matches observed label cardinality and component ranges).
- ``events``: 1_000_000 x sf rows over the same fixed 30-day window,
  15_000 x sf users, 5 uniform event types, exponential(50) values,
  written as parquet TIMESTAMP(NANOS) — the exact physical type the
  driver writes, so the nanosAsLong read path is exercised unchanged.
- TPC-H-ish tables (r11): ``lineitem orders customer supplier part
  nation region`` at the driver's per-sf row rates (6M/1.5M/150k/10k/
  200k lines-orders-customers-suppliers-parts per sf), value shapes
  measured from the driver's sf0.1 parquet — see :func:`gen_tpch`. With
  these, ALL 17 headline queries bench on the self-generated curve.

Deterministic: numpy PCG64 seeded 42 + sf. Output is sized by row count
(NOT by matching the driver byte-for-byte — the generators differ); the
curve must therefore compare THIS generator's sf0.1 against its own
sf0.3/sf1, with the driver's sf0.1 as an anchor sanity point.

Usage: python tools/gen_scaledata.py [--sf 0.1 0.3 1] [--out scaledata]
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DRIVER_SF01 = "/root/testdata/sf0.1"

DOCS_PER_SF = 50_000
VECS_PER_SF = 20_000
EVENTS_PER_SF = 1_000_000
USERS_PER_SF = 15_000
EMB_DIM = 64
N_LABELS = 10
WINDOW_START_NS = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
WINDOW_NS = 30 * 24 * 3600 * 10**9  # the driver's fixed 30-day January window


def _empirical_text_model() -> dict:
    """Per-language token distribution + doc-length distribution measured
    from the driver's own sf0.1 documents table."""
    import duckdb

    con = duckdb.connect()
    # ORDER BY everywhere (r12 verdict #6): rng.choice draws by INDEX
    # into these lists, so the model's row order is part of the seed
    # contract — and DuckDB's parallel hash aggregate returns groups in
    # a genuinely nondeterministic order (measured: two in-process runs
    # differ), which silently broke seed->bytes reproducibility of
    # every generated corpus before this pin.
    tok = con.sql(
        f"""
        SELECT lang, u AS token, count(*) AS c
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS u
              FROM '{DRIVER_SF01}/documents.parquet')
        WHERE u != '' GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    lens = con.sql(
        f"SELECT lang, len(string_split(text, ' ')) AS n FROM "
        f"'{DRIVER_SF01}/documents.parquet' ORDER BY 1, 2"
    ).fetchall()
    langs = con.sql(
        f"SELECT lang, count(*) FROM '{DRIVER_SF01}/documents.parquet' GROUP BY 1 ORDER BY 1"
    ).fetchall()
    model: dict = {"langs": [l for l, _ in langs]}
    total = sum(c for _, c in langs)
    model["lang_p"] = [c / total for _, c in langs]
    model["tokens"] = {}
    for lang in model["langs"]:
        rows = [(t, c) for lg, t, c in tok if lg == lang]
        toks = [t for t, _ in rows]
        cs = np.array([c for _, c in rows], dtype=np.float64)
        model["tokens"][lang] = (toks, cs / cs.sum())
    model["lens"] = {
        lang: np.array([n for lg, n in lens if lg == lang], dtype=np.int64)
        for lang in model["langs"]
    }
    return model


def gen_documents(sf: float, out_dir: str, rng: np.random.Generator) -> int:
    n = int(round(DOCS_PER_SF * sf))
    m = _empirical_text_model()
    lang_idx = rng.choice(len(m["langs"]), size=n, p=m["lang_p"])
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n):
        lang = m["langs"][lang_idx[i]]
        toks, p = m["tokens"][lang]
        length = int(rng.choice(m["lens"][lang]))
        texts.append(" ".join(rng.choice(toks, size=max(length, 1), p=p)))
        langs.append(lang)
    # planted near-duplicates: ~4% of docs are a copy of an earlier doc
    # with a short mutated tail (the regime MinHash/SimHash must catch);
    # ~0.2% are byte-exact copies (the exact-dedup regime)
    n_near = int(n * 0.04)
    n_exact = max(int(n * 0.002), 1)
    for j in rng.choice(np.arange(1, n), size=n_near, replace=False):
        src = int(rng.integers(0, j))
        toks, p = m["tokens"][langs[src]]
        tail = " ".join(rng.choice(toks, size=int(rng.integers(1, 5)), p=p))
        texts[j] = texts[src] + " " + tail
        langs[j] = langs[src]
    for j in rng.choice(np.arange(1, n), size=n_exact, replace=False):
        src = int(rng.integers(0, j))
        texts[j], langs[j] = texts[src], langs[src]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, 20, size=n)], pa.string()
            ),
            "n_chars": pa.array(
                np.array([len(t) for t in texts], dtype=np.int64), pa.int64()
            ),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return n


def gen_embeddings(sf: float, out_dir: str, rng: np.random.Generator) -> int:
    n = int(round(VECS_PER_SF * sf))
    centers = rng.normal(0, 1, size=(N_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, size=n)
    x = centers[labels] * 0.8 + rng.normal(0, 0.35, size=(n, EMB_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(x.astype(np.float32).ravel(), pa.float32()), EMB_DIM
    ).cast(pa.list_(pa.float32()))
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "embeddings.parquet"))
    return n


def gen_events(sf: float, out_dir: str, rng: np.random.Generator) -> int:
    n = int(round(EVENTS_PER_SF * sf))
    users = max(int(round(USERS_PER_SF * sf)), 1)
    ts = WINDOW_START_NS + rng.integers(0, WINDOW_NS, size=n, dtype=np.int64)
    types = np.array(["click", "view", "purchase", "signup", "error"])
    value = np.minimum(rng.exponential(50.0, size=n), 600.0)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            # TIMESTAMP(NANOS) on purpose: the driver's physical type, so
            # the engine's nanosAsLong read path is what gets benched
            "ts": pa.array(ts.view("datetime64[ns]"), pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, users, size=n), pa.int64()),
            "event_type": pa.array(types[rng.integers(0, 5, size=n)], pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return n


#: TPC-H-ish tables (r11 — VERDICT r10 #3: the FULL headline scaling
#: grid needs lineitem/orders/customer/supplier/nation/region/part at
#: self-generated scale, not just documents/embeddings/events). Row
#: rates and value shapes measured from the driver's sf0.1 parquet:
#: every non-key column there is an INDEPENDENT uniform (quantity
#: int 1..50, extendedprice U(900,105000) 2dp, discount U(0,.10),
#: tax U(0,.08), flags uniform over their alphabets, orderdate uniform
#: days over 1995-01-01..2001-08-01), keys dense 0..n-1 with uniform
#: FKs. Ship/commit dates ride the line's own orderdate + U(1,95) days
#: — matches the driver's min/max envelope.
CUSTS_PER_SF = 150_000
ORDERS_PER_SF = 1_500_000
LINES_PER_SF = 6_000_000
SUPPS_PER_SF = 10_000
PARTS_PER_SF = 200_000

_ORDER_EPOCH_DAY = np.datetime64("1995-01-01").astype("datetime64[D]").astype(np.int64)
_ORDER_WINDOW_DAYS = int(
    (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
) + 1


def _day_ts_us(day_idx: np.ndarray) -> pa.Array:
    """Whole-day int day indices (since 1970) -> timestamp[us] array (the
    driver's physical type for all TPC-H date columns)."""
    return pa.array(
        (day_idx * 86_400_000_000).astype("datetime64[us]"), pa.timestamp("us")
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def gen_tpch(sf: float, out_dir: str, rng: np.random.Generator) -> dict:
    """region/nation/customer/supplier/part/orders/lineitem with the
    driver tables' shapes, fully vectorised (18M lineitem rows at sf3
    generate in seconds)."""
    counts: dict[str, int] = {}
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(regions, pa.string()),
            }
        ),
        os.path.join(out_dir, "region.parquet"),
    )
    counts["region"] = 5
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )
    counts["nation"] = 25

    n_c = max(int(round(CUSTS_PER_SF * sf)), 1)
    segs = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_c), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
                "c_nationkey": pa.array(
                    rng.integers(0, 25, size=n_c).astype(np.int32)
                ),
                "c_acctbal": pa.array(_money(rng, -1000, 10000, n_c)),
                "c_mktsegment": pa.array(segs[rng.integers(0, 5, size=n_c)]),
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    counts["customer"] = n_c

    n_s = max(int(round(SUPPS_PER_SF * sf)), 1)
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
                "s_nationkey": pa.array(
                    rng.integers(0, 25, size=n_s).astype(np.int32)
                ),
                "s_acctbal": pa.array(_money(rng, -1000, 10000, n_s)),
            }
        ),
        os.path.join(out_dir, "supplier.parquet"),
    )
    counts["supplier"] = n_s

    n_p = max(int(round(PARTS_PER_SF * sf)), 1)
    adjs = np.array(["large", "hot", "blue", "old", "small", "dim", "red", "new"])
    nouns = np.array(["ring", "bolt", "plate", "cap", "disk", "rod", "gear", "pin"])
    types = np.array(
        ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    )
    a_i = rng.integers(0, len(adjs), size=n_p)
    n_i = rng.integers(0, len(nouns), size=n_p)
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_p), pa.int64()),
                "p_name": pa.array(
                    np.char.add(np.char.add(adjs[a_i], " "), nouns[n_i])
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, size=n_p)]
                ),
                "p_type": pa.array(types[rng.integers(0, 6, size=n_p)]),
                "p_size": pa.array(
                    rng.integers(1, 51, size=n_p).astype(np.int32)
                ),
                "p_retailprice": pa.array(_money(rng, 900, 1000, n_p)),
            }
        ),
        os.path.join(out_dir, "part.parquet"),
    )
    counts["part"] = n_p

    n_o = max(int(round(ORDERS_PER_SF * sf)), 1)
    o_day = _ORDER_EPOCH_DAY + rng.integers(0, _ORDER_WINDOW_DAYS, size=n_o)
    prios = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    )
    stats = np.array(["O", "P", "F"])
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
                "o_custkey": pa.array(
                    rng.integers(0, n_c, size=n_o), pa.int64()
                ),
                "o_orderstatus": pa.array(stats[rng.integers(0, 3, size=n_o)]),
                "o_totalprice": pa.array(_money(rng, 1000, 500000, n_o)),
                "o_orderdate": _day_ts_us(o_day),
                "o_orderpriority": pa.array(prios[rng.integers(0, 5, size=n_o)]),
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
    counts["orders"] = n_o

    n_l = max(int(round(LINES_PER_SF * sf)), 1)
    l_ord = rng.integers(0, n_o, size=n_l)
    flags = np.array(["A", "N", "R"])
    lstat = np.array(["F", "O"])
    ship_day = o_day[l_ord] + rng.integers(1, 96, size=n_l)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(l_ord, pa.int64()),
                "l_partkey": pa.array(
                    rng.integers(0, n_p, size=n_l), pa.int64()
                ),
                "l_suppkey": pa.array(
                    rng.integers(0, n_s, size=n_l), pa.int64()
                ),
                "l_linenumber": pa.array(
                    rng.integers(1, 8, size=n_l).astype(np.int32)
                ),
                "l_quantity": pa.array(
                    rng.integers(1, 51, size=n_l).astype(np.float64)
                ),
                "l_extendedprice": pa.array(_money(rng, 900, 105000, n_l)),
                "l_discount": pa.array(
                    np.round(rng.integers(0, 11, size=n_l) / 100.0, 2)
                ),
                "l_tax": pa.array(
                    np.round(rng.integers(0, 9, size=n_l) / 100.0, 2)
                ),
                "l_returnflag": pa.array(flags[rng.integers(0, 3, size=n_l)]),
                "l_linestatus": pa.array(lstat[rng.integers(0, 2, size=n_l)]),
                "l_shipdate": _day_ts_us(ship_day),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    counts["lineitem"] = n_l
    return counts


#: Functions that only record or check provenance: no generated byte
#: depends on them, so :func:`generator_digest` leaves them out.
_MANIFEST_ONLY = (
    "generator_digest", "_source_digest", "write_manifest", "check_manifest",
)


def generator_digest() -> str:
    """SHA-256 of this generator's syntax tree — recorded in every
    MANIFEST.json so a scaling claim can always be traced to the
    generator that produced its data (and consumers can refuse drifted
    data; see :func:`check_manifest`). See :func:`_source_digest` for
    what the digest leaves out."""
    with open(os.path.abspath(__file__)) as fh:
        return _source_digest(fh.read())


def _source_digest(source: str) -> str:
    """SHA-256 of ``source``'s syntax tree without comments, docstrings,
    formatting or the :data:`_MANIFEST_ONLY` functions: an edit that
    cannot change a generated byte leaves it, an edit to a generator or
    a ``*_PER_SF`` constant moves it. The tree dump is the running
    Python's ``ast.dump``, so a Python upgrade may move it once."""
    import ast
    import hashlib

    tree = ast.parse(source)
    tree.body = [
        n for n in tree.body
        if not (isinstance(n, ast.FunctionDef) and n.name in _MANIFEST_ONLY)
    ]
    for node in ast.walk(tree):
        if (
            isinstance(node, (ast.Module, ast.FunctionDef, ast.ClassDef))
            and node.body
            and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
            and isinstance(node.body[0].value.value, str)
        ):
            node.body = node.body[1:]
    return hashlib.sha256(ast.dump(tree).encode()).hexdigest()


def write_manifest(out_dir: str, sf: float, counts: dict) -> None:
    manifest = {
        "sf": sf,
        "rows": counts,
        "seed": [42, int(sf * 1000)],
        "rng": "numpy PCG64",
        "generator": "tools/gen_scaledata.py",
        "generator_sha256": generator_digest(),
        "per_sf_rows": {
            "documents": DOCS_PER_SF,
            "embeddings": VECS_PER_SF,
            "events": EVENTS_PER_SF,
            "users": USERS_PER_SF,
            "customer": CUSTS_PER_SF,
            "orders": ORDERS_PER_SF,
            "lineitem": LINES_PER_SF,
            "supplier": SUPPS_PER_SF,
            "part": PARTS_PER_SF,
        },
        "anchor": DRIVER_SF01,
    }
    with open(os.path.join(out_dir, "MANIFEST.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)


def check_manifest(d: str) -> None:
    """Refuse data whose provenance doesn't match the current generator:
    a curve measured on drifted data would silently stand behind claims
    the generator no longer produces. Regenerate (tools/bench_scaling.py
    takes --allow-manifest-mismatch to knowingly bench foreign data)."""
    mpath = os.path.join(d, "MANIFEST.json")
    if not os.path.exists(mpath):
        raise SystemExit(
            f"{d}: no MANIFEST.json — regenerate with tools/gen_scaledata.py "
            "(provenance-free scale data can't back a scaling claim)"
        )
    with open(mpath) as fh:
        m = json.load(fh)
    cur = generator_digest()
    if m.get("generator_sha256") != cur:
        raise SystemExit(
            f"{d}: MANIFEST generator_sha256={m.get('generator_sha256', '?')[:12]} "
            f"!= current generator {cur[:12]} — the data predates a generator "
            "change; regenerate before benching"
        )
    for t, want in m.get("rows", {}).items():
        got = pq.read_metadata(os.path.join(d, f"{t}.parquet")).num_rows
        if got != want:
            raise SystemExit(
                f"{d}/{t}.parquet: {got} rows but MANIFEST says {want} — "
                "data and manifest disagree; regenerate"
            )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", nargs="+", type=float, default=[0.1, 0.3, 1.0])
    ap.add_argument(
        "--out", default=os.path.join(os.path.dirname(__file__), "..", "scaledata")
    )
    args = ap.parse_args()
    for sf in args.sf:
        name = f"sf{sf:g}"
        out_dir = os.path.join(args.out, name)
        os.makedirs(out_dir, exist_ok=True)
        rng = np.random.Generator(np.random.PCG64([42, int(sf * 1000)]))
        counts = {
            "documents": gen_documents(sf, out_dir, rng),
            "embeddings": gen_embeddings(sf, out_dir, rng),
            "events": gen_events(sf, out_dir, rng),
        }
        # separate stream: the TPC-H tables must not perturb the three
        # original tables' draws (regeneration stays byte-identical)
        tpch_rng = np.random.Generator(np.random.PCG64([43, int(sf * 1000)]))
        counts.update(gen_tpch(sf, out_dir, tpch_rng))
        write_manifest(out_dir, sf, counts)
        print(json.dumps({"sf": sf, "dir": out_dir, "rows": counts}))


if __name__ == "__main__":
    main()
