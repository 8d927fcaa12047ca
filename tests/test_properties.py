"""Property-based tests for the invariants the reference enforces at runtime
(SURVEY.md §5): dedupe idempotence, grid-regularisation count identity,
unit-conversion round-trips, interval-inference consistency.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tern_ep_data_pipeline_spark.functions import conversions as cv
from tern_ep_data_pipeline_spark.functions import met
from tern_ep_data_pipeline_spark.operators import conditioning, gaps, regularise

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

offsets = st.lists(
    st.integers(min_value=0, max_value=200), min_size=2, max_size=40, unique=True
)


def _ts_df(spark, offs, minutes=30):
    base = datetime.datetime(2024, 1, 1)
    rows = [(base + datetime.timedelta(minutes=minutes * o), float(o)) for o in offs]
    return spark.createDataFrame(rows, ["DATETIME", "v"])


@given(offs=offsets)
@SET
def test_dedupe_idempotent(spark, offs):
    df = _ts_df(spark, offs)
    doubled = df.unionByName(df)
    once = conditioning.drop_duplicate_records(doubled)
    assert once.count() == len(offs)
    assert conditioning.drop_duplicate_records(once).count() == len(offs)


@given(offs=offsets)
@SET
def test_grid_count_identity(spark, offs):
    # A2 invariant: |grid| == span/interval + 1, and every input row survives
    df = _ts_df(spark, offs)
    out = regularise.regularise_to_grid(df, "DATETIME", "30 minutes")
    span = max(offs) - min(offs)
    assert out.count() == span + 1
    assert out.filter(F.col("v").isNotNull()).count() == len(offs)


@given(offs=offsets)
@SET
def test_missing_plus_actual_equals_expected(spark, offs):
    df = _ts_df(spark, offs)
    row = gaps.missing_record_stats(df, "DATETIME", 1800).collect()[0]
    assert row["n_actual"] + row["n_missing"] == row["n_expected"]
    assert row["n_expected"] == max(offs) - min(offs) + 1


@given(
    v=st.floats(min_value=0.01, max_value=1e6, allow_nan=False, allow_infinity=False)
)
@SET
def test_variance_stdev_roundtrip_property(spark, v):
    out = spark.range(1).select(
        cv.convert_stdev_to_variance(cv.convert_variance_to_stdev(F.lit(v))).alias("r")
    ).collect()[0]["r"]
    assert out == pytest.approx(v, rel=1e-12)


@given(
    ta=st.floats(min_value=-20.0, max_value=45.0, allow_nan=False),
    rh=st.floats(min_value=1.0, max_value=100.0, allow_nan=False),
    ps=st.floats(min_value=85.0, max_value=105.0, allow_nan=False),
)
@SET
def test_rh_ah_inverse_property(spark, ta, rh, ps):
    expr = met.calculate_RH_from_AH(
        F.lit(ta), met.calculate_AH_from_RH(F.lit(ta), F.lit(rh), F.lit(ps)), F.lit(ps)
    )
    out = spark.range(1).select(expr.alias("r")).collect()[0]["r"]
    assert out == pytest.approx(rh, rel=1e-9)


# ------------------------------------------------ curation invariants

edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=1,
    max_size=40,
)


def _py_components(edges):
    """Reference union-find, independent of the production implementation."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@SET
@given(edge_lists)
def test_distributed_cc_matches_union_find(spark, edges):
    """The distributed min-label loop agrees with a plain union-find on
    arbitrary small graphs (self-loops and duplicate edges included)."""
    from tern_ep_data_pipeline_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert got == _py_components(edges)


@SET
@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60, unique=True),
    st.floats(min_value=0.0, max_value=1.0),
)
def test_hash_sample_is_a_pure_filter(spark, keys, fraction):
    """Sampling commutes with union/filtering: membership depends only on
    the key, never on the rest of the dataset."""
    from tern_ep_data_pipeline_spark.operators import sampling

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    whole = {r["k"] for r in sampling.hash_sample(df, "k", fraction).collect()}
    half = df.where(F.col("k") % 2 == 0)
    sub = {r["k"] for r in sampling.hash_sample(half, "k", fraction).collect()}
    assert sub == {k for k in whole if k % 2 == 0}


@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=25
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chunk_dedup_invariants(spark, docs_tokens):
    """Structural invariants of sub-document chunk dedup on arbitrary
    corpora: chunk counts follow ceil(tokens/n), token accounting is exact,
    and every distinct chunk is kept exactly once across the corpus."""
    from tern_ep_data_pipeline_spark.operators import dedup

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.chunk_dedup_stats(df, "doc_id", "text", chunk_tokens=5).collect()
    dedup.release_staged(spark)
    by = {r["doc_id"]: r for r in out}
    assert set(by) == set(range(len(rows)))

    distinct_chunks = set()
    kept_total = 0
    for i, toks in enumerate(docs_tokens):
        r = by[i]
        n_chunks = -(-len(toks) // 5)
        assert r["n_chunks"] == n_chunks
        assert 0 <= r["n_dup_chunks"] <= r["n_chunks"]
        assert 0 <= r["kept_tokens"] <= len(toks)
        for p in range(n_chunks):
            distinct_chunks.add(" ".join(toks[p * 5 : (p + 1) * 5]))
        kept_total += r["kept_tokens"]
    # kept tokens across the corpus == total tokens of the distinct chunks
    assert kept_total == sum(len(c.split()) for c in distinct_chunks)


# ---------------------------------------------------------------- codecs

_img_dims = st.tuples(
    st.integers(min_value=8, max_value=40), st.integers(min_value=8, max_value=40)
)


@given(
    dims=_img_dims,
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    sub=st.sampled_from(["444", "420"]),
    quality=st.integers(min_value=40, max_value=95),
)
@SET
def test_progressive_equals_baseline_property(dims, seed, sub, quality):
    """For ANY image, the progressive scan script transmits every
    coefficient bit, so its decode is pixel-identical to the baseline
    encode's decode at the same quality/subsampling."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    h, w = dims
    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=quality, subsampling=sub))
    prog = decode_jpeg(
        encode_jpeg(img, quality=quality, subsampling=sub, progressive=True)
    )
    assert np.array_equal(base, prog)


_h5_dtypes = st.sampled_from(["<f8", "<f4", "<i4", "<i2", "<i1", "<u1", "<i8"])


@given(
    n=st.integers(min_value=1, max_value=60),
    k=st.integers(min_value=1, max_value=4),
    dtype=_h5_dtypes,
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    chunks=st.sampled_from([None, 7, 16]),
    deflate=st.sampled_from([None, 1, 6]),
)
@SET
def test_hdf5_roundtrip_property(tmp_path_factory, n, k, dtype, seed, chunks, deflate):
    """write->read identity over random shapes/dtypes/layouts: data,
    dim names, and attribute values all survive, chunked or contiguous,
    with or without deflate+shuffle."""
    import numpy as np

    from tern_ep_data_pipeline_spark.sources.hdf5 import read_hdf5, write_hdf5_nc4
    from tern_ep_data_pipeline_spark.sources.netcdf3 import Variable

    if deflate is not None and chunks is None:
        chunks = 8
    rng = np.random.default_rng(seed)
    data2 = (rng.normal(0, 50, (n, k)) if dtype[1] == "f" else rng.integers(-100, 100, (n, k))).astype(dtype)
    data1 = np.arange(n).astype(dtype)
    p = str(tmp_path_factory.mktemp("h5") / "t.nc")
    write_hdf5_nc4(
        p,
        {"time": n, "layer": k},
        {
            "time": Variable(("time",), data1, {"units": "s"}),
            "M": Variable(("time", "layer"), data2, {"scale": 2.5, "note": "x"}),
        },
        {"seed": int(seed)},
        chunks=chunks,
        deflate=deflate,
        shuffle=deflate is not None,
    )
    f = read_hdf5(p)
    assert f.dims == {"time": n, "layer": k}
    assert f.attrs["seed"] == int(seed)
    assert f.variables["M"].dims == ("time", "layer")
    assert f.variables["M"].data.dtype == np.dtype(dtype)
    assert np.array_equal(f.variables["M"].data, data2)
    assert np.array_equal(f.variables["time"].data, data1)
    assert f.variables["M"].attrs["scale"] == 2.5


@given(
    x=st.lists(
        st.integers(min_value=-32000, max_value=32000), min_size=1, max_size=200
    ),
    law=st.sampled_from(["a", "mu"]),
)
@SET
def test_g711_companding_bound_property(x, law):
    """decode(encode(x)) stays within the segment's quantisation step of x
    for every 16-bit input — the G.711 accuracy contract."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators import multimodal as mm

    arr = np.array(x, dtype=np.int64)
    if law == "a":
        back = mm.alaw_decode(mm.alaw_encode(arr))
    else:
        back = mm.mulaw_decode(mm.mulaw_encode(arr))
    # worst-case step is 2^seg * 16 (A) / 2^seg * 8 shifted (mu): bound by
    # magnitude-proportional error plus the smallest-segment step
    err = np.abs(back - arr)
    bound = np.maximum(np.abs(arr) / 16, 64)
    assert np.all(err <= bound)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab \nxyz.!"), min_size=0, max_size=60
        ),
        min_size=1,
        max_size=8,
    )
)
@SET
def test_line_dedup_reassembly_identity(spark, texts):
    """With min_docs above the corpus size nothing is boilerplate, so the
    rebuild must reproduce every document byte-for-byte — split/sort/join
    is an identity for ANY text, including empty lines and odd spacing."""
    from tern_ep_data_pipeline_spark.operators import dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.line_dedup_frame(
            df, "doc_id", "text", min_docs=len(texts) + 1
        ).collect()
    }
    dedup.release_staged(spark)
    for i, t in rows:
        assert out[i]["clean_text"] == t
        assert out[i]["n_removed_lines"] == 0


@given(
    keys=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1, max_size=400,
    ),
    others=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=0, max_size=400,
    ),
    log_bits=st.integers(min_value=6, max_value=20),
    k=st.integers(min_value=1, max_value=16),
)
@settings(max_examples=60, deadline=None)
def test_bloom_kernel_no_false_negatives_property(keys, others, log_bits, k):
    """The invariant every index-prune equality pin rests on, over arbitrary
    int64 keys (full range incl. extremes) and any geometry: a key that
    was set ALWAYS tests positive — pure-numpy kernel, no Spark."""
    import numpy as np

    from tern_ep_data_pipeline_spark.operators.bloom import (
        _set_bits,
        _test_bits,
    )

    num_bits = 1 << log_bits
    bm = np.zeros(num_bits // 8, dtype=np.uint8)
    arr = np.array(keys, dtype=np.int64).view(np.uint64)
    _set_bits(bm, arr, num_bits, k)
    assert _test_bits(bm, arr, num_bits, k).all(), (
        "bloom false negative: decision preservation broken"
    )
    # sanity on the other direction: non-members are ALLOWED to pass
    # (false positives), but with a near-empty tiny filter most must not
    if others:
        others_arr = np.array(
            [o for o in others if o not in set(keys)], dtype=np.int64
        ).view(np.uint64)
        if len(others_arr) and num_bits >= (1 << 16) and len(keys) <= 50:
            fp = _test_bits(bm, others_arr, num_bits, k).sum()
            assert fp <= max(2, len(others_arr) // 4)
