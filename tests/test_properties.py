"""Property-based tests (hypothesis) for the pure kernels — the pieces
whose correctness everything distributed sits on."""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from mix_blink_spark.functions.embed import encode_one
from mix_blink_spark.functions.strsim import jaro, jaro_winkler
from mix_blink_spark.functions.text import extract_text_str
from mix_blink_spark.operators.blocking import _minhash_band_keys, band_key_kernel
from mix_blink_spark.operators.cc import _unionfind_local

texts = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    max_size=60,
)


@settings(max_examples=200, deadline=None)
@given(texts, texts)
def test_jw_properties(a, b):
    v = jaro_winkler(a, b)
    assert 0.0 <= v <= 1.0
    assert jaro_winkler(b, a) == v or abs(jaro_winkler(b, a) - v) < 1e-12
    assert jaro_winkler(a, a) == 1.0 or a == ""


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdefgh ", min_size=0, max_size=30),
       st.text(alphabet="abcdefgh ", min_size=0, max_size=30))
def test_jw_matches_duckdb(a, b):
    expected = duckdb.sql("SELECT jaro_winkler_similarity(?, ?)", params=[a, b]).fetchone()[0]
    assert abs(jaro_winkler(a, b) - expected) < 1e-9


@settings(max_examples=100, deadline=None)
@given(texts)
def test_encode_unit_norm_and_deterministic(s):
    v1 = encode_one(s)
    v2 = encode_one(s)
    assert (v1 == v2).all()
    n = float((v1.astype("float64") ** 2).sum()) ** 0.5
    assert abs(n - 1.0) < 1e-5 or n == 0.0


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdef ", min_size=1, max_size=40))
def test_minhash_band_keys_stable(s):
    k1 = _minhash_band_keys(s, 4, 2, 4)
    k2 = _minhash_band_keys(s, 4, 2, 4)
    assert k1 == k2 and len(k1) == 4


_SHARED_BAND_KEYS = band_key_kernel()  # one memo across every example


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=12) | st.sampled_from(["", "a", "ab", "acme corp", "zürich ñ"]))
def test_band_key_kernel_matches_reference(s):
    """The memoized kernel every blocking plan calls equals the readable
    reference for any string (empty, shorter than the shingle, non-ASCII),
    whether its memo is fresh or reused across many strings."""
    assert _SHARED_BAND_KEYS(s) == band_key_kernel()(s) == _minhash_band_keys(s, 4, 2, 4)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=200))
def test_extract_text_roundtrip_on_escaped_body(body):
    """Any generated page must extract back to its normalized body — the
    fixture invariant generalized to arbitrary printable text."""
    import html as _h
    import re

    page = f"<html><head><script>x</script></head><body><article>{_h.escape(body, quote=False)}</article></body></html>"
    expected = re.sub(r"[ \t\r\n]+", " ", body).strip()
    assert extract_text_str(page) == expected


_HTML_TOKENS = [
    "<script>", "</script>", "<SCRIPT a='b'>", "</Style>", "<style>", "<nav>",
    "</nav>", "<head x>", "</head>", "<p>", "</p>", "<div class='x'>", "text",
    "&amp;", "&nbsp;", "<", ">", " ", "\n", "a<b", "x>y", "<script",
    "</scriptx>", "<footer>", "</footer>", "<script >", "</ script>",
    "<styleX>", "<script<p>", "</SCRIPT>", "<navfoo>", "İstanbul", "ß", "ﬁ",
    # pivot pathologies for _find_close (round 8): dense pivot chars force
    # candidate rejections / the 64-rejection regex bail; mixed-case closes
    # exercise the uppercase memchr leg and the slice ci-verify
    "hhhhhhhh", "HHHH", "<<<<", "nnn", "fff", "</HeAd>", "</NAV>", "</FooTer>",
]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from(_HTML_TOKENS), min_size=1, max_size=30))
def test_drop_blocks_differential_vs_regex(parts):
    """_drop_blocks (the memchr-speed kernel) must be byte-identical to the
    frozen non-greedy regex on adversarial tag soup, including malformed
    nesting, unclosed blocks, mixed case, and length-changing Unicode."""
    from mix_blink_spark.functions.text import _RE_DROP, _drop_blocks

    s = "".join(parts)
    assert _drop_blocks(s) == _RE_DROP.sub(" ", s)


def test_drop_blocks_pivot_bail_and_case_paths():
    """Deterministic corners of the round-8 _find_close pivot scan: the
    >64-rejection regex bail, uppercase-pivot-first candidates, mixed-case
    closes, unclosed blocks behind dense pivots, and the non-ASCII gate."""
    from mix_blink_spark.functions.text import _RE_DROP, _drop_blocks

    cases = [
        "<head>" + "h" * 200 + "</head>tail",          # 200 rejected pivots -> bail
        "<head>" + "Hh" * 100 + "</HEAD>tail",         # bail via mixed pivots, CI close
        "<head>x</HEAD>y",                              # uppercase close, no bail
        "<head>Habc h</head>z",                         # uppercase pivot before the match
        "<script>a<b<c</script>d",                      # pivot '<' rejections
        "<script>" + "<" * 100 + "</script>d",          # '<' bail path
        "<nav>" + "n" * 70 + "</nav>e",                 # nav pivot bail
        "<footer>fff</footer>g",                        # footer pivot rejections
        "<head>" + "h" * 200 + "no close at all",       # bail with NO close -> unclosed
        "<head>hh</head位>x</head>y",                    # non-ASCII: regex path
        "<style>.a{}</style><script>s</script>",        # multiple blocks
    ]
    for s in cases:
        assert _drop_blocks(s) == _RE_DROP.sub(" ", s), repr(s)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=60))
def test_unionfind_is_transitive_and_canonical(pairs):
    edges = [(f"n{a:02d}", f"n{b:02d}") for a, b in pairs if a != b]
    assign = dict(_unionfind_local(edges))
    for a, b in edges:
        assert assign[a] == assign[b]
    for node, root in assign.items():
        assert assign[root] == root
        assert root <= node


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_extract_total_on_arbitrary_bytes(raw):
    """The ingest contract is total: ANY byte string — including truncated
    multi-byte UTF-8 sequences — decodes with errors='replace' and the
    kernel returns a deterministic str (TODO quality item, round 3)."""
    s = raw.decode("utf-8", errors="replace")
    out1 = extract_text_str(s)
    out2 = extract_text_str(s)
    assert isinstance(out1, str) and out1 == out2
    # whitespace contract: collapsed + stripped
    assert "  " not in out1 and out1 == out1.strip()


@settings(max_examples=30, deadline=None)
@given(
    st.text(alphabet="abc<>\"'= ", min_size=0, max_size=40),
    st.integers(min_value=10_000, max_value=200_000),
)
def test_extract_total_on_huge_attribute_values(prefix, n):
    """Megabyte-scale attribute values must not blow up the kernel's regex
    passes (no catastrophic backtracking) and the tag must still drop."""
    big_attr = "x" * n
    page = f'{prefix}<a href="{big_attr}">link</a><script>{big_attr}</script>tail'
    out = extract_text_str(page)
    assert "link" in out and "tail" in out
    assert big_attr not in out
