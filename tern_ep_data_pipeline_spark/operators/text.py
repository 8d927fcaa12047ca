"""Text analysis operators: token stats, quality scoring, language ID,
fingerprinting.

Beyond-reference operators for the training-data pipeline (driver mandate).
Everything is built-in string/array expressions (JVM-side, codegen-friendly);
regexes are kept to the POSIX-ish subset shared by Spark and ANSI engines so
oracle parity holds.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language marker lexicons for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "de", "que", "los"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}

STOPWORDS_EN = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def half_away_div(num: Column, den: Column) -> Column:
    """``round_half_away(num / den)`` as BIGINT for any-sign ``num`` and
    positive ``den``, computed WHOLLY in integral arithmetic (Spark's
    ``div`` = IntegralDivide, exact on long and decimal operands): no
    double division, no ``round(double)``, no libm — so the value is
    bit-identical on any SQL engine (DuckDB twin: ``//``)."""
    two = F.lit(2).cast("bigint")
    pos = F.call_function("div", two * num + den, two * den)
    neg = -F.call_function("div", two * (-num) + den, two * den)
    return F.when(num >= 0, pos).otherwise(neg).cast("bigint")


def micro_ratio(n: Column, d: Column) -> Column:
    """Exact micro-unit ratio ``round_half_away(1e6 * n / d)`` as BIGINT
    (integer arithmetic only — see :func:`half_away_div`); NULL when
    ``d <= 0`` so callers choose their own else-semantics."""
    n64 = n.cast("bigint")
    d64 = d.cast("bigint")
    return F.when(d64 > 0, half_away_div(F.lit(1_000_000).cast("bigint") * n64, d64))


# ------------------------------------------- per-document text expressions
#
# Each per-document text expression is defined once, as a SQL string, and
# every caller builds its projection with ONE ``selectExpr`` parse (or wraps
# a string in ``F.expr`` where it needs a Column). Driver-side plan
# construction is real wall time on every query, and it is dominated by py4j
# round trips: every Column method call is one JVM round trip, so the same
# expressions built as Column chains cost ~400 calls per quality-ratio set.
# The DataFrame API and SQL compile to the same logical plan, so the string
# form loses nothing. ``t`` in these builders is a SQL expression; callers
# holding a column NAME pass it through :func:`_sql_ident`.

_SQL_WS = r"'\\s+'"


def _sql_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier, so names with
    spaces or punctuation resolve as they do through ``F.col``."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(s: str) -> str:
    """A SQL string literal whose parsed value is exactly ``s``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_double(x: float) -> str:
    """A SQL DOUBLE literal bit-identical to ``F.lit(float(x))`` (a bare
    ``0.0`` would parse as DECIMAL)."""
    return repr(float(x)) + "D"


def _sql_tokens(t: str) -> str:
    return f"split(trim({t}), {_SQL_WS})"


def _sql_token_count(t: str) -> str:
    """Whitespace token count (0 for empty text)."""
    return (
        f"(CASE WHEN length(trim({t})) = 0 THEN 0 "
        f"ELSE size({_sql_tokens(t)}) END)"
    )


def _sql_half_away_div(num: str, den: str) -> str:
    """SQL form of :func:`half_away_div` — operands MUST be parenthesized
    (or atomic) expressions; the CASE branches build the same tree as the
    Column form (unary minus placement matters for plan equality)."""
    two = "CAST(2 AS BIGINT)"
    return (
        f"CAST((CASE WHEN {num} >= 0 "
        f"THEN div({two} * {num} + {den}, {two} * {den}) "
        f"ELSE -div({two} * (- {num}) + {den}, {two} * {den}) END) AS BIGINT)"
    )


def _sql_micro_ratio(n: str, d: str) -> str:
    n64 = f"CAST({n} AS BIGINT)"
    d64 = f"CAST({d} AS BIGINT)"
    num = f"(CAST(1000000 AS BIGINT) * {n64})"
    return f"(CASE WHEN {d64} > 0 THEN {_sql_half_away_div(num, d64)} END)"


def _sql_ratio6(n: str, d: str) -> str:
    """``n / d`` as a DOUBLE rounded to 6 places, 0.0 when ``d <= 0``."""
    return (
        f"round(CASE WHEN {d} > 0 THEN {n} / {d} "
        f"ELSE {_sql_double(0.0)} END, 6)"
    )


def _sql_count_in_set(t: str, words: tuple[str, ...]) -> str:
    """How many tokens fall in a fixed word set (array filter, no UDF)."""
    arr = "array(" + ", ".join(f"'{w}'" for w in words) + ")"
    return f"size(filter({_sql_tokens(t)}, __t -> array_contains({arr}, __t)))"


def token_stat_sqls(t: str, micro: bool = False) -> list[str]:
    """``n_chars``, ``n_tokens`` and the average token length. ``micro=True``
    swaps the double ratio for an exact integer micro-unit column
    (``avg_token_len_micro``) and casts the counts to BIGINT."""
    n_tok = _sql_token_count(t)
    nonws = rf"length(regexp_replace(trim({t}), {_SQL_WS}, ''))"
    if micro:
        return [
            f"CAST(length({t}) AS BIGINT) AS n_chars",
            f"CAST({n_tok} AS BIGINT) AS n_tokens",
            f"{_sql_micro_ratio(nonws, n_tok)} AS avg_token_len_micro",
        ]
    return [
        f"length({t}) AS n_chars",
        f"{n_tok} AS n_tokens",
        f"round(CASE WHEN {n_tok} > 0 THEN {nonws} / {n_tok} END, 6)"
        " AS avg_token_len",
    ]


def token_stats(
    df: DataFrame, id_col: str, text_col: str, micro: bool = False
) -> DataFrame:
    """Per-document token statistics. ``micro=True`` swaps the double ratio
    for an exact integer micro-unit column (``avg_token_len_micro``) for
    engine-portable gate contracts (no DOUBLE anywhere in the output)."""
    return df.selectExpr(
        _sql_ident(id_col), *token_stat_sqls(_sql_ident(text_col), micro)
    )


def quality_ratio_sqls(t: str, micro: bool = False) -> list[str]:
    """The four quality ratios (no id/count columns — composable into a
    fused projection without name collisions). ``micro=True`` emits exact
    integer micro-units (``*_ratio_micro`` BIGINT, 0 when the denominator
    is 0)."""
    n_chars = f"length({t})"
    n_tok = _sql_token_count(t)
    n_stop = _sql_count_in_set(t, STOPWORDS_EN)
    # the class is r"[.,;:!?'\"()]": Java regex reads the backslash as
    # escaping the double-quote, so it matches the oracle's [.,;:!?'"()]
    punct_pat = "'[.,;:!?\\'\\\\\"()]'"
    n_punct = f"({n_chars} - length(regexp_replace({t}, {punct_pat}, '')))"
    n_digit = f"({n_chars} - length(regexp_replace({t}, '[0-9]', '')))"
    n_upper = f"({n_chars} - length(regexp_replace({t}, '[A-Z]', '')))"
    pairs = {
        "stopword_ratio": (n_stop, n_tok),
        "punct_ratio": (n_punct, n_chars),
        "digit_ratio": (n_digit, n_chars),
        "upper_ratio": (n_upper, n_chars),
    }
    if micro:
        zero = "CAST(0 AS BIGINT)"
        return [
            f"coalesce({_sql_micro_ratio(n, d)}, {zero}) AS {name}_micro"
            for name, (n, d) in pairs.items()
        ]
    return [f"{_sql_ratio6(n, d)} AS {name}" for name, (n, d) in pairs.items()]


def quality_scores(
    df: DataFrame, id_col: str, text_col: str, micro: bool = False
) -> DataFrame:
    """Heuristic quality features: length, stopword ratio, punctuation ratio,
    digit ratio, uppercase ratio — the standard pretraining-filter features.
    ``micro=True`` emits the ratios as exact integer micro-units
    (``*_ratio_micro`` BIGINT, 0 when the denominator is 0) for
    engine-portable gate contracts."""
    t = _sql_ident(text_col)
    return df.selectExpr(
        _sql_ident(id_col),
        *token_stat_sqls(t, micro)[:2],  # n_chars, n_tokens
        *quality_ratio_sqls(t, micro),
    )


def lang_id_sqls(t: str, counts_cast: str | None = None) -> list[str]:
    """Per-language marker counts ``n_<lang>`` plus ``pred_lang``
    (``counts_cast='bigint'`` for the integer gate contract)."""
    counts = {
        lang: _sql_count_in_set(t, words) for lang, words in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(counts.values()) + ")"
    pred = "'und'"
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs overwrite later on ties
        pred = f"(CASE WHEN {counts[lang]} = {best} THEN '{lang}' ELSE {pred} END)"
    pred = f"(CASE WHEN {best} > 0 THEN {pred} ELSE 'und' END)"
    cols = [
        (
            f"CAST({counts[lang]} AS {counts_cast.upper()}) AS n_{lang}"
            if counts_cast
            else f"{counts[lang]} AS n_{lang}"
        )
        for lang in LANG_MARKERS
    ]
    cols.append(f"{pred} AS pred_lang")
    return cols


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-word language ID with deterministic tie-break (first language
    in LANG_MARKERS order wins ties)."""
    return df.selectExpr(_sql_ident(id_col), *lang_id_sqls(_sql_ident(text_col)))


def fingerprint_sqls(t: str) -> list[str]:
    norm = f"regexp_replace(lower(trim({t})), {_SQL_WS}, ' ')"
    return [
        f"md5({norm}) AS fingerprint_md5",
        f"xxhash64({norm}) AS fingerprint64",
    ]


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprint: md5 of the normalised text (exact-dup key) plus
    a 64-bit content hash for compact storage."""
    return df.selectExpr(
        _sql_ident(id_col), *fingerprint_sqls(_sql_ident(text_col))
    )


#: GPT-2-style pretokeniser, restricted to syntax Java regex and RE2 share
#: (no lookaheads): contraction suffixes, space-prefixed letter runs, digit
#: runs, punctuation runs, whitespace runs. Leftmost-first alternation
#: semantics agree between the two engines.
BPE_SPLIT_PATTERN = r"'[sdmt]|'ll|'re|'ve| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_stat_sqls(t: str, micro: bool = False) -> list[str]:
    """Whitespace and BPE-segment counts plus chars per BPE segment
    (``micro=True``: exact integer micro-units, BIGINT)."""
    n_ws = _sql_token_count(t)
    n_bpe = f"regexp_count({t}, {_sql_str(BPE_SPLIT_PATTERN)})"
    if micro:
        zero = "CAST(0 AS BIGINT)"
        return [
            f"CAST({n_ws} AS BIGINT) AS n_ws_tokens",
            f"CAST({n_bpe} AS BIGINT) AS n_bpe_tokens",
            f"coalesce({_sql_micro_ratio(f'length({t})', n_bpe)}, {zero})"
            " AS chars_per_bpe_micro",
        ]
    return [
        f"{n_ws} AS n_ws_tokens",
        f"{n_bpe} AS n_bpe_tokens",
        f"{_sql_ratio6(f'length({t})', n_bpe)} AS chars_per_bpe_token",
    ]


def bpe_token_stats(
    df: DataFrame, id_col: str, text_col: str, micro: bool = False
) -> DataFrame:
    """Token counting, BPE-ish: segments per the GPT-2-style pretokenise
    regex (the count every byte-pair encoder starts from) next to the
    whitespace count, plus chars-per-BPE-segment as a compression proxy
    (``micro=True``: exact integer micro-units, BIGINT)."""
    return df.selectExpr(
        _sql_ident(id_col), *bpe_stat_sqls(_sql_ident(text_col), micro)
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    window: int = 4,
    hash_mode: str = "fast",
) -> DataFrame:
    """Rolling-hash document fingerprinting by winnowing (Schleimer et al.,
    SIGMOD'03): hash every k-char gram of the normalised text, then keep the
    minimum hash of each ``window`` consecutive grams. Near-identical
    documents share most selected fingerprints, so the output joins as a
    containment/overlap key at corpus scale. Output: distinct
    (id, fingerprint) rows.

    hash_mode='portable' hashes each gram with the md5-prefix-to-bigint
    idiom — any engine with md5 reproduces the values bit-for-bit, so this
    mode is SQL-oracle-checkable. It pays one Python ``hashlib.md5`` per
    gram inside the Arrow batch loop, which is the bottleneck at corpus
    scale.

    hash_mode='fast' (the 100 TB path) is fully numpy-vectorised: a
    Rabin-Karp polynomial over the utf-8 byte array via a strided
    (n, k)-window matmul in wraparound uint64, then a strided sliding-window
    minimum — no per-gram Python call anywhere. Fingerprint VALUES differ
    from portable mode (different hash family); the winnowing structure and
    overlap semantics are identical.

    Both modes run as Arrow-batched mapInPandas kernels: Spark's
    higher-order array functions are interpreted per element, which made
    the pure expression form ~10x slower.
    """
    from .dedup import _fanout, check_hash_mode

    check_hash_mode(hash_mode)
    if hash_mode == "fast":
        return _winnow_arrow_fast(_fanout(df, id_col), id_col, text_col, k, window)
    return _winnow_arrow(_fanout(df, id_col), id_col, text_col, k, window)


def _winnow_arrow(
    df: DataFrame, id_col: str, text_col: str, k: int, window: int
) -> DataFrame:
    """Arrow-batched winnowing: one Python pass per batch, O(n) per doc."""
    import re as _re
    from hashlib import md5 as _md5

    # Build the output schema from the input id type so callers keep their
    # id column type unchanged.
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{_sql_ident(id_col)} {id_type}, fingerprint bigint"

    def run(batches):
        import pandas as pd

        for pdf in batches:
            ids, fps_out = [], []
            for doc_id, raw in zip(pdf[id_col], pdf[text_col]):
                s = _re.sub(r"\s+", " ", ("" if raw is None else raw).strip().lower())
                grams = (
                    [s[i : i + k] for i in range(len(s) - k + 1)]
                    if len(s) >= k
                    else [s[:k]]
                )
                hs = [
                    int(_md5(g.encode("utf-8")).hexdigest()[:15], 16)
                    for g in grams
                ]
                if len(hs) < window:
                    fps = {min(hs)}
                else:
                    fps = set()
                    dq: list[int] = []  # indices, increasing hash values
                    for j, h in enumerate(hs):
                        while dq and hs[dq[-1]] >= h:
                            dq.pop()
                        dq.append(j)
                        if dq[0] <= j - window:
                            dq.pop(0)
                        if j >= window - 1:
                            fps.add(hs[dq[0]])
                for fp in fps:
                    ids.append(doc_id)
                    fps_out.append(fp)
            yield pd.DataFrame({id_col: ids, "fingerprint": fps_out})

    return df.select(id_col, text_col).mapInPandas(run, schema=schema)


#: Rabin-Karp base for the fast winnowing hash (odd 64-bit constant; products
#: wrap in uint64, which IS the modulus — no Python bignum anywhere).
_WINNOW_BASE = 0x100000001B3  # the FNV-1a prime


def _winnow_arrow_fast(
    df: DataFrame, id_col: str, text_col: str, k: int, window: int
) -> DataFrame:
    """Numpy-vectorised winnowing: polynomial gram hashes via a strided
    windowed matmul + strided sliding-window minimum. Zero per-gram Python
    calls — the per-doc cost is a handful of C-level array ops."""
    import re as _re

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{_sql_ident(id_col)} {id_type}, fingerprint bigint"
    ws_re = _re.compile(r"\s+")

    def doc_fingerprints(raw) -> "np.ndarray":
        import numpy as np

        s = ws_re.sub(" ", ("" if raw is None else raw).strip().lower())
        b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
        if len(b) == 0:
            return np.zeros(1, dtype=np.uint64)
        kk = min(k, len(b))
        with np.errstate(over="ignore"):
            powers = np.power(
                np.uint64(_WINNOW_BASE), np.arange(kk - 1, -1, -1, dtype=np.uint64)
            )
            grams = np.lib.stride_tricks.sliding_window_view(b, kk).astype(np.uint64)
            hs = grams @ powers  # (n-k+1,) uint64, wraparound == mod 2^64
        if len(hs) <= window:
            return np.array([hs.min()], dtype=np.uint64)
        mins = np.lib.stride_tricks.sliding_window_view(hs, window).min(axis=1)
        return np.unique(mins)

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            per_doc = [doc_fingerprints(raw) for raw in pdf[text_col]]
            counts = [len(a) for a in per_doc]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), counts),
                    "fingerprint": np.concatenate(per_doc).view(np.int64)
                    if per_doc
                    else np.array([], dtype=np.int64),
                }
            )

    out = df.select(id_col, text_col).mapInPandas(run, schema=schema)
    # np.unique dedups within a doc; duplicates can only re-enter if the same
    # (id, fingerprint) spans Arrow batches, which the per-doc loop precludes
    return out


# ------------------------------------------------------------- PII scrub

#: Redaction patterns, restricted to syntax Java regex and RE2 agree on
#: (character classes, bounded repetition, \b word boundaries — no
#: lookarounds, no backrefs) so the same rules run in the SQL oracle.
#: Order matters: emails before bare-number rules so the user part of an
#: address is never half-eaten by the phone pattern.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b(?:\+?\d{1,2}[-. ])?(?:\(\d{3}\)|\d{3})[-. ]\d{3,4}[-. ]?\d{0,4}\b", "<PHONE>"),
)


def scrub_pii_sql(t: str) -> str:
    """Redact emails, IPv4 addresses, and phone-shaped numbers in the SQL
    expression ``t`` — chained ``regexp_replace`` (JVM regex, whole-stage
    codegen; replaces ALL occurrences). The pattern set is deliberately
    conservative: a curation pipeline scrubs wide and audits with
    :func:`pii_hits_sql`."""
    out = t
    for pat, token in PII_PATTERNS:
        out = f"regexp_replace({out}, {_sql_str(pat)}, '{token}')"
    return out


def pii_hits_sql(t: str) -> str:
    """Total redactions :func:`scrub_pii_sql` would make (audit metric)."""
    hits = "0"
    scrubbed = t
    for pat, token in PII_PATTERNS:
        hits = f"{hits} + size(regexp_extract_all({scrubbed}, {_sql_str(pat)}, 0))"
        scrubbed = f"regexp_replace({scrubbed}, {_sql_str(pat)}, '{token}')"
    return f"({hits})"


# ---------------------------------------------------------------- TF-IDF

def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF.

    Selection rank is the integer triple ``(tf DESC, df ASC, term ASC)``
    — a total order that is monotone in ``tf·ln(N/df)`` for fixed df and,
    being all-integer, reproducible bit-for-bit in any engine (float
    score ordering is not: one ulp of ln() difference can flip
    near-ties). The float ``tfidf`` is reported, rounded to 6 places.

    Shape at scale: one explode (flatMap, no shuffle), one (doc, term)
    aggregation, one term aggregation whose result joins back by term —
    at real corpus sizes the term table is Zipf-small after a
    ``min_df``-style cut, and AQE broadcasts it; N is a scalar broadcast.
    """
    from .dedup import _fanout

    # SQL strings: plan-equal to the r15 Column form, pinned in
    # tests/test_sqltwins.py; ~200 py4j round trips collapse to a handful.
    idq = _sql_ident(id_col)
    toks = (
        _fanout(df, id_col)
        .selectExpr(idq, f"explode({_sql_tokens(_sql_ident(text_col))}) AS term")
        .where(F.col("term") != "")
    )
    tf = toks.groupBy(id_col, "term").agg(F.expr("count(1) AS tf"))
    # document frequency from the (doc, term) aggregate, not a second pass
    # over the tokens: tf already holds one row per distinct (doc, term),
    # so a plain count per term IS count_distinct(doc) — and both branches
    # now share the same underlying exchange (ReuseExchange) instead of
    # tokenising the corpus twice.
    dfreq = tf.groupBy("term").agg(F.expr("count(1) AS df"))
    n_docs = df.selectExpr(f"count(DISTINCT {idq}) AS n")
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .selectExpr(
            idq,
            "term",
            "round(tf * ln(n / df), 6) AS tfidf",
            "rank",
        )
    )


# ------------------------------------------------- repetition / contamination

#: Rabin-Karp base for token-gram hashing (odd, so multiplication by it is a
#: bijection mod 2^64 and wraparound arithmetic loses no entropy).
_GRAM_BASE = 1_000_003


def _doc_gram_hashes(
    raw: str | None, n: int, memo: dict, distinct: bool,
    toks: "list[str] | None" = None,
) -> "np.ndarray":
    """uint64 gram hashes for one document — the single definition both the
    batch Arrow kernel and the streaming filter share, so their equality
    classes can never drift. ``memo`` caches per-token md5s across calls.

    Tokenisation is :func:`dedup.py_tokens` — the exact equality classes of
    the JVM ``split(trim(col), '\\s+')`` the portable/oracle path uses (ASCII
    whitespace only, space-only trim), NOT ``str.split()``: on scraped text
    with leading tabs/newlines or NBSP the two disagree, which would silently
    shift repetition stats and decontamination decisions between modes."""
    import hashlib

    from .dedup import py_tokens

    def tok_h(t: str) -> int:
        v = memo.get(t)
        if v is None:
            v = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
            memo[t] = v
        return v

    toks = py_tokens(raw) if toks is None else toks
    th = np.fromiter((tok_h(t) for t in toks), dtype=np.uint64, count=len(toks))
    base = np.uint64(_GRAM_BASE)
    with np.errstate(over="ignore"):
        m = len(th) - n + 1
        if m < 1:
            acc = np.zeros(1, dtype=np.uint64)
            for v in th:
                acc = acc * base + v
        else:
            acc = np.zeros(m, dtype=np.uint64)
            for j in range(n):
                acc = acc * base + th[j : j + m]
    return np.unique(acc) if distinct else acc


def gram_hash_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    distinct: bool = False,
) -> DataFrame:
    """``(id, gh)``: one 64-bit deterministic hash per n-token-gram
    occurrence (``distinct=True`` dedups within each document).

    The fast twin of exploding :func:`dedup.shingle_frame`: downstream
    repetition/contamination consumers only need gram EQUALITY, never the
    gram text, so the interpreted ``transform(concat_ws(slice(...)))``
    string build (the cost is the per-element Catalyst interpreter, not the
    data) is replaced by one Arrow pass — tokens md5-hashed once per
    distinct token via a batch memo, gram hash = Rabin-Karp polynomial over
    the token hashes, vectorised with ``n`` numpy ops per document.
    Wraparound mod 2^64 (same discipline as ``_winnow_arrow_fast``);
    cross-gram collisions are ~birthday(2^64) and only merge two random
    grams, which the fraction/count consumers tolerate by design.

    A document shorter than ``n`` tokens contributes one gram folding all
    its tokens — the same boundary rule as ``dedup.shingles_of``.

    Fans out by id first (r15): the gram kernel is a fan-out stage and must
    not inherit the scan's partitioning (README invariant — one parquet row
    group serialised the whole Arrow gram pass onto one core).
    """
    from .dedup import _fanout

    df = _fanout(df, id_col)
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{_sql_ident(id_col)} {id_type}, gh bigint"

    def run(batches):
        import numpy as np
        import pandas as pd

        memo: dict[str, int] = {}
        for pdf in batches:
            per_doc = [
                _doc_gram_hashes(raw, n, memo, distinct) for raw in pdf[text_col]
            ]
            counts = [len(a) for a in per_doc]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), counts),
                    "gh": np.concatenate(per_doc).view(np.int64)
                    if per_doc
                    else np.array([], dtype=np.int64),
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=schema)


def _gram_occurrences(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram, c): every n-token-gram occurrence counted (NOT distinct —
    repetition metrics need multiplicity). Same slice construction as
    ``dedup.shingles_of`` so gram boundaries agree across operators.
    Fans out by id before the explode (README fan-out invariant, r15)."""
    from .dedup import _fanout, tokens

    toks = _fanout(df, id_col).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    )
    idx = F.sequence(
        F.lit(1), F.greatest(F.size("__t") - (n - 1), F.lit(1))
    )
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice("__t", i, n)))
        ).alias("gram"),
    )
    return grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_top: int = 2,
    n_dup: int = 3,
    hash_mode: str = "fast",
) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al.
    2021 §A1.1.3: "repetitious documents are low quality"):

    - ``top{n_top}_gram_frac``: occurrences of the single most frequent
      n_top-gram / total n_top-gram occurrences — boilerplate headers and
      keyword stuffing push this up;
    - ``dup{n_dup}_gram_frac``: fraction of n_dup-gram occurrences whose
      gram appears more than once — loops and copy-paste runs push this up.

    One gram pass + one (id, gram) aggregation per metric; per-doc reduce
    is a plain groupBy. All-integer counts, so the fractions are
    bit-reproducible in any engine (round 6).

    ``hash_mode='fast'`` (default, the 100 TB path) computes both metrics
    in ONE fused Arrow pass (r15): the metrics are document-LOCAL, so the
    old shape — two gram frames, four shuffled aggregations, one join —
    paid corpus shuffles for per-row math. The kernel shares one
    tokenisation across both gram sizes (:func:`_doc_gram_hashes`, the
    same 64-bit equality classes), emits the four exact integer counts,
    and the fractions divide/round in the JVM with the identical
    ``round(num / sum, 6)`` expression — bit-equal to the aggregated
    form, pinned in tests. Zero shuffles beyond the fan-out repartition;
    an external SQL oracle reproduces the fractions by counting gram
    STRINGS (equality classes agree up to 2^-64 collisions).
    ``'portable'`` keeps the expression-built gram strings for debugging
    what a class contains.
    """
    from .dedup import check_hash_mode

    check_hash_mode(hash_mode)
    if hash_mode == "fast":
        from .dedup import _fanout, py_tokens

        id_type = df.schema[id_col].dataType.simpleString()
        schema = (
            f"{_sql_ident(id_col)} {id_type}, __ctop bigint, __ttop bigint,"
            " __cdup bigint, __tdup bigint"
        )

        def run(batches):
            import numpy as np
            import pandas as pd

            memo: dict[str, int] = {}
            for pdf in batches:
                ids, ct, tt, cd, td = [], [], [], [], []
                for doc_id, raw in zip(pdf[id_col], pdf[text_col]):
                    toks = py_tokens(raw)
                    a_top = _doc_gram_hashes(raw, n_top, memo, False, toks=toks)
                    a_dup = _doc_gram_hashes(raw, n_dup, memo, False, toks=toks)
                    _, c2 = np.unique(a_top, return_counts=True)
                    _, c3 = np.unique(a_dup, return_counts=True)
                    ids.append(doc_id)
                    ct.append(int(c2.max()))
                    tt.append(len(a_top))
                    cd.append(int(c3[c3 > 1].sum()))
                    td.append(len(a_dup))
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "__ctop": ct,
                        "__ttop": tt,
                        "__cdup": cd,
                        "__tdup": td,
                    }
                )

        stats = (
            _fanout(df, id_col)
            .select(id_col, text_col)
            .mapInPandas(run, schema=schema)
        )
        return stats.select(
            F.col(id_col),
            F.round(
                F.col("__ctop").cast("double") / F.col("__ttop"), 6
            ).alias(f"top{n_top}_gram_frac"),
            F.round(
                F.col("__cdup").cast("double") / F.col("__tdup"), 6
            ).alias(f"dup{n_dup}_gram_frac"),
        )

    def frac(n: int, mode: str, out: str) -> DataFrame:
        occ = _gram_occurrences(df, id_col, text_col, n)
        num = (
            F.max("c")
            if mode == "top"
            else F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
        )
        return occ.groupBy(id_col).agg(
            F.round(num.cast("double") / F.sum("c"), 6).alias(out)
        )

    top = frac(n_top, "top", f"top{n_top}_gram_frac")
    dup = frac(n_dup, "dup", f"dup{n_dup}_gram_frac")
    return top.join(dup, on=id_col)


def contamination_hits(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    hash_mode: str = "fast",
) -> DataFrame:
    """Train/eval decontamination by n-gram overlap (the GPT-3/Dolma
    recipe): a training document containing ANY n-token-gram of an
    evaluation document is flagged, with the overlap magnitude.

    Output: (id, n_contaminated_grams, n_eval_docs) for flagged train
    docs — distinct grams matched and distinct eval docs implicated.

    Scale shape: both sides reduce to per-document DISTINCT gram rows; the
    eval side is the small one by construction (benchmarks are thousands of
    docs, corpora billions), so it broadcasts and the train side never
    shuffles before its per-doc aggregation — one corpus scan.

    ``hash_mode='fast'`` (default) matches on 64-bit gram hashes
    (:func:`gram_hash_frame`) — overlap only needs gram equality, so the
    corpus side never materialises gram strings; an external SQL oracle
    reproduces the same counts over the strings. ``'portable'`` keeps the
    expression-built strings (``dedup.shingle_frame``).
    """
    from .dedup import check_hash_mode

    check_hash_mode(hash_mode)
    if hash_mode == "fast":
        tr = gram_hash_frame(train, id_col, text_col, n, distinct=True).select(
            F.col(id_col), F.col("gh").alias("gram")
        )
        ev = gram_hash_frame(
            eval_df, id_col, text_col, n, distinct=True
        ).select(F.col(id_col).alias("__eval_id"), F.col("gh").alias("gram"))
    else:
        from .dedup import shingle_frame

        tr = shingle_frame(train, id_col, text_col, n).select(
            F.col("__id").alias(id_col), F.explode("__sh").alias("gram")
        )
        ev = (
            shingle_frame(eval_df, id_col, text_col, n)
            .select(
                F.col("__id").alias("__eval_id"), F.explode("__sh").alias("gram")
            )
            .distinct()
        )
    return (
        tr.join(F.broadcast(ev), on="gram")
        .groupBy(id_col)
        .agg(
            F.count_distinct("gram").alias("n_contaminated_grams"),
            F.count_distinct("__eval_id").alias("n_eval_docs"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    smoothing: float = 0.5,
    model_df: DataFrame | None = None,
    micro: bool = False,
) -> DataFrame:
    """Per-document mean unigram log-probability — the cheap stand-in for
    LM-perplexity quality filtering (the CCNet recipe scores documents
    under a reference LM; a unigram model keeps the whole computation
    relational). Low scores flag gibberish / OOV-heavy documents.

    The model is add-``smoothing`` unigram counts over ``model_df`` (a
    reference corpus; defaults to ``df`` itself — self-scoring):
    ``logp(t) = ln((c_t + a) / (T + a·(V+1)))``, unseen tokens get
    ``c_t = 0``. Output: (id, n_scored_tokens, avg_logprob rounded 6).

    Scale shape: the vocabulary aggregation is map-side combinable; the
    scoring join shuffles on the token key (Zipf-skewed — AQE skew-join
    splits the hot stopwords) and averages per document. All constants
    (T, V) ride in as broadcast one-row frames, no collect.
    """
    # Expressions ride as SQL strings: one selectExpr parse per projection
    # instead of ~390 py4j round trips per build; plan-equal to the r15
    # Column form (pinned in tests/test_sqltwins.py).
    #
    # NOT fanned out (r15, measured): the token explodes here feed joins
    # and aggregations whose own exchanges already redistribute the work;
    # adding repartitions cost more stage barriers than the serial explode
    # they fixed (doc_profile_b min-of-4 2.27 s -> 2.99 s with them in).
    idq = _sql_ident(id_col)
    toks = _sql_tokens(_sql_ident(text_col))
    occ = df.selectExpr(idq, f"explode({toks}) AS __t")

    # Every derived frame below is built from a FRESH projection: reusing one
    # plan object on both sides of a join (vocab + vocab.agg, or occ + its
    # own groupBy) is a literal self-join, and Catalyst's expr-id dedup then
    # reports the shared columns as ambiguous references.
    def fresh_tokens(name: str) -> DataFrame:
        src = model_df if model_df is not None else df
        return src.selectExpr(f"explode({toks}) AS {name}")

    vocab = fresh_tokens("__t").groupBy("__t").agg(F.expr("count(1) AS __c"))
    totals = fresh_tokens("__ta").agg(
        F.expr("CAST(count(1) AS DOUBLE) AS __T"),
        F.expr("count(DISTINCT __ta) AS __V"),
    )
    totals2 = fresh_tokens("__tb").agg(
        F.expr("CAST(count(1) AS DOUBLE) AS __T2"),
        F.expr("count(DISTINCT __tb) AS __V2"),
    )
    a_ = _sql_double(smoothing)
    # fold the constants into the vocab side (plus the one-row unseen-token
    # default) so the corpus-side join is a single left join on the token.
    # Column references are QUALIFIED (v./tt.): Spark 4's analyzer dedups
    # expression ids across the twin token subtrees, which makes bare string
    # references ambiguous even when each child exposes the name once.
    vl = vocab.alias("v").crossJoin(F.broadcast(totals.alias("tt")))
    vocab_lp = vl.selectExpr(
        "v.__t AS __t",
        f"ln((v.__c + {a_}) / (tt.__T + {a_} * (tt.__V + 1))) AS __lp",
    )
    unseen = totals2.selectExpr(
        f"ln({a_} / (__T2 + {a_} * (__V2 + 1))) AS __lp0"
    )
    # shuffle-hash, not sort-merge: the vocabulary is the smaller side but
    # still too big to broadcast at corpus scale; hashing it beats sorting
    # the full token-occurrence stream
    scored = (
        occ.join(vocab_lp.hint("shuffle_hash"), on="__t", how="left")
        .crossJoin(F.broadcast(unseen))
        .selectExpr(idq, "coalesce(__lp, __lp0) AS __lp")
    )
    # Order-independent aggregation: double `avg` is not associative, so the
    # 6th decimal of a document sitting ~1e-11 from a rounding boundary can
    # flip with task/partition ordering. Quantise each per-token logprob to
    # an integer (1e12 ~ picolog units), sum exactly — integer addition IS
    # associative, so the result is identical under any partitioning — and
    # divide/round once at the end. The sum rides in decimal(38,0) so a
    # billion-token document cannot overflow a 64-bit long.
    scored = scored.withColumn(
        "__lpq",
        F.expr(
            f"CAST(round(__lp * {_sql_double(1.0e12)}) AS DECIMAL(38,0))"
        ),
    )
    if micro:
        # Fully integer output path: avg in micro-log units =
        # round_half_away(sum_picolog / (count * 1e6)) — decimal(38,0) sum,
        # integral div, no double anywhere after the per-token quantisation.
        den = "CAST((count(1) * 1000000) AS DECIMAL(38,0))"
        return scored.groupBy(id_col).agg(
            F.expr("count(1) AS n_scored_tokens"),
            F.expr(
                f"{_sql_half_away_div('sum(__lpq)', den)} AS avg_logprob_micro"
            ),
        )
    return scored.groupBy(id_col).agg(
        F.expr("count(1) AS n_scored_tokens"),
        F.expr(
            "round(CAST(sum(__lpq) AS DOUBLE) / count(1) / "
            f"{_sql_double(1.0e12)}, 6) AS avg_logprob"
        ),
    )


def winnow_containment_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fingerprint",
    min_shared: int = 2,
    max_bucket: int | None = 100_000,
    cap_stats: dict | None = None,
) -> DataFrame:
    """Pairwise overlap scoring from winnowing fingerprints — the MOSS
    consumer (Schleimer et al. '03 §5): two documents' shared selected
    fingerprints estimate how much text they have in common, and
    ``containment = shared / min(|A|, |B|)`` detects a small document
    embedded in a large one, where Jaccard-style resemblance dilutes away.

    Input: the distinct (id, fingerprint) rows
    :func:`winnowing_fingerprints` emits. Output per candidate pair
    (id_a < id_b, shared >= min_shared): ``n_shared``, ``containment``
    and ``resemblance`` (both rounded 6), plus ``total_a``/``total_b``
    (per-doc fingerprint counts) so a consumer can tell WHICH side is the
    contained one — the smaller-total doc is the embedded document.

    Scale shape: the only join is the fingerprint-keyed self-join — pairs
    materialise only for documents that actually share a fingerprint, and
    ``max_bucket`` drops degenerate fingerprints (boilerplate selected by
    every doc) whose buckets would go quadratic, same guard as MinHash
    LSH — reported through ``cap_stats`` like the LSH cap (VERDICT r9
    #4): pass a dict and it fills eagerly with ``n_rows_dropped``,
    ``n_fingerprints_dropped`` and ``n_rows`` from an aggregation over
    the staged table the self-join reads anyway. Totals join back per
    doc (shuffle-hash; corpus-proportional).
    """
    from pyspark.sql import Window

    from .dedup import _stage

    base = fps.select(F.col(id_col).alias("__id"), F.col(fp_col).alias("__fp"))
    if max_bucket is not None:
        w = Window.partitionBy("__fp")
        flagged = _stage(
            base.withColumn("__bucket", F.count(F.lit(1)).over(w))
        )
        if cap_stats is not None:
            from .dedup import bucket_cap_stats

            cap_stats.update(
                bucket_cap_stats(
                    flagged, max_bucket, "__bucket",
                    "n_rows_dropped", "n_fingerprints_dropped", "n_rows",
                )
            )
        base = flagged.where(F.col("__bucket") <= max_bucket).drop("__bucket")
    else:
        base = _stage(base)
    totals = base.groupBy("__id").agg(F.count(F.lit(1)).alias("__total"))
    a = base.select(F.col("__id").alias("id_a"), "__fp")
    b = base.select(F.col("__id").alias("id_b"), "__fp")
    shared = (
        a.join(b, on="__fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    ta = totals.select(F.col("__id").alias("id_a"), F.col("__total").alias("__ta"))
    tb = totals.select(F.col("__id").alias("id_b"), F.col("__total").alias("__tb"))
    return (
        shared.join(ta.hint("shuffle_hash"), on="id_a")
        .join(tb.hint("shuffle_hash"), on="id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(
                F.col("n_shared") / F.least(F.col("__ta"), F.col("__tb")), 6
            ).alias("containment"),
            F.round(
                F.col("n_shared")
                / (F.col("__ta") + F.col("__tb") - F.col("n_shared")),
                6,
            ).alias("resemblance"),
            F.col("__ta").alias("total_a"),
            F.col("__tb").alias("total_b"),
        )
    )
