"""Property-based tests (hypothesis) for the pure-Python kernels:
grok compiler and JSON flattener. No Spark session needed — these run
in milliseconds and pin the dialect semantics the Arrow UDFs rely on.
The last test drives Spark: ``parse_regex`` against per-key
``regexp_extract``."""

import json
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from loongcollector_spark.functions.grok import (
    DEFAULT_PATTERNS,
    GrokError,
    compile_grok,
)
from loongcollector_spark.functions.jsonflatten import flatten_json, parse_and_flatten

# ---------------------------------------------------------------- grok

json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(10**12), max_value=10**12),
    st.text(alphabet=st.characters(codec="utf-8", exclude_characters='"\\'), max_size=20),
)
json_values = st.recursive(
    json_scalars,
    lambda kids: st.one_of(
        st.lists(kids, max_size=4),
        st.dictionaries(
            st.text(alphabet="abcdefgh_", min_size=1, max_size=6), kids, max_size=4
        ),
    ),
    max_leaves=12,
)
json_objects = st.dictionaries(
    st.text(alphabet="abcdefgh_", min_size=1, max_size=6), json_values, max_size=5
)


def test_grok_every_default_pattern_compiles():
    for name in DEFAULT_PATTERNS:
        pat, types = compile_grok(f"%{{{name}:x}}")
        assert "x" in types
        assert isinstance(pat, re.Pattern)


def test_grok_cycle_detection():
    try:
        compile_grok("%{A}", {"A": "%{B}", "B": "%{A}"})
        raise AssertionError("expected GrokError")
    except GrokError as e:
        assert "cyclic" in str(e)


@given(st.integers(min_value=0, max_value=10**9), st.text(alphabet="abcz", max_size=8))
@settings(max_examples=100)
def test_grok_int_word_roundtrip(n, w):
    pat, types = compile_grok("n=%{NONNEGINT:n:int} w=%{WORD:w}")
    s = f"n={n} w={w}"
    m = pat.match(s)
    if w and w.isalnum():
        assert m is not None
        assert m.group("n") == str(n)
        assert m.group("w") == w
        assert types["n"] == "int"
    # empty/non-word w: WORD requires \w+, match may fail — no crash


@given(json_objects)
@settings(max_examples=150, deadline=None)
def test_flatten_covers_all_leaves(obj):
    flat = flatten_json(obj, expand_array=True)
    # every produced value is a string
    assert all(isinstance(v, str) for v in flat.values())

    def count_leaves(v):
        if isinstance(v, dict):
            return sum(count_leaves(x) for x in v.values()) if v else 1
        if isinstance(v, list):
            return sum(count_leaves(x) for x in v) if v else 1
        return 1

    # connector-joined keys may collide ({"a":{"b":1},"a_b":2} → both
    # "a_b"; last wins, reference overwrite semantics) so ≤, not ==
    leaves = count_leaves(obj) if obj else 0
    assert 0 < len(flat) <= leaves or leaves == 0


@given(json_objects)
@settings(max_examples=150)
def test_flatten_depth1_matches_top_level(obj):
    flat = flatten_json(obj, depth=1)
    assert set(flat.keys()) == set(str(k) for k in obj.keys())
    for k, v in obj.items():
        if isinstance(v, (dict, list)):
            assert flat[str(k)] == json.dumps(v, separators=(",", ":")) or flat[
                str(k)
            ] in ("{}", "[]")


@given(json_objects)
@settings(max_examples=100)
def test_parse_and_flatten_roundtrip_via_dumps(obj):
    s = json.dumps(obj)
    flat = parse_and_flatten(s, expand_array=True)
    assert flat is not None
    assert flatten_json(obj, expand_array=True) == flat


json_number_edges = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=2**63, max_value=2**200),
    st.integers(max_value=-(2**63)),
    st.floats(allow_nan=True, allow_infinity=True),
    st.sampled_from([-0.0, 0.0, 1e300, -1e300, 5e-324, 2.0, 1e16, 0.1]),
)


@given(json_number_edges)
@settings(max_examples=300)
def test_flatten_scalars_match_json_dumps(v):
    """Leaf scalars stringify byte-identically to json.dumps, the
    reference the flattener's fast path replaced — through the JSON
    text too (json.dumps writes NaN/±Infinity as the literals
    json.loads reads back)."""
    assert flatten_json({"k": v}) == {"k": json.dumps(v)}
    assert parse_and_flatten(json.dumps({"k": v})) == {"k": json.dumps(v)}


def test_flatten_json_nonfinite_literals():
    flat = parse_and_flatten('{"a": NaN, "b": Infinity, "c": -Infinity, "d": -0.0}')
    assert flat == {"a": "NaN", "b": "Infinity", "c": "-Infinity", "d": "-0.0"}


def test_parse_and_flatten_rejects_non_objects():
    assert parse_and_flatten("[1,2]") is None
    assert parse_and_flatten("42") is None
    assert parse_and_flatten("nope{") is None
    assert parse_and_flatten(None) is None


# ---- codec properties (pure-Python kernels, no Spark session) ----

import numpy as np
from hypothesis import strategies as hst
from hypothesis.extra.numpy import arrays as np_arrays

from loongcollector_spark.functions import codecs
from loongcollector_spark.functions.gotime import go_layout_to_spark


@given(
    np_arrays(
        dtype=np.uint8,
        shape=hst.tuples(
            hst.integers(1, 12), hst.integers(1, 12), hst.sampled_from([1, 3, 4])
        ),
    )
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(img):
    assert np.array_equal(codecs.decode_png(codecs.encode_png(img)), img)


@given(
    np_arrays(
        dtype=np.int16, shape=hst.tuples(hst.integers(1, 200), hst.integers(1, 2))
    )
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_property(samples):
    out, rate = codecs.decode_wav(codecs.encode_wav(samples, 8000))
    assert rate == 8000
    assert np.array_equal(out, samples)


@given(
    np_arrays(
        dtype=np.uint8,
        shape=hst.tuples(hst.integers(1, 10), hst.integers(1, 10), hst.just(1)),
    ),
    hst.integers(1, 10),
    hst.integers(1, 10),
)
@settings(max_examples=60, deadline=None)
def test_resize_bounds_property(img, oh, ow):
    out = codecs.resize_block_mean(img, oh, ow)
    assert out.shape == (oh, ow, 1)
    # means/nearest picks never leave the input value range
    assert out.min() >= img.min() and out.max() <= img.max()


def test_go_layout_literal_quoting():
    # stray letters must be quoted, not interpreted as JDK pattern chars
    assert go_layout_to_spark("2006-01-02T15:04:05") == "yyyy-MM-dd'T'HH:mm:ss"
    assert go_layout_to_spark("at 15:04") == "'at 'HH:mm"

# ---------------------------------------------------------- wire format


@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_varint_roundtrip_property(v):
    from loongcollector_spark.functions import protowire as w

    buf = w.write_varint(v)
    out, i = w.read_varint(buf, 0)
    assert out == v and i == len(buf)


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_negative_varint_two_complement(v):
    from loongcollector_spark.functions import protowire as w

    buf = w.write_varint(v)
    out, _ = w.read_varint(buf, 0)
    assert w.u64_to_i64(out) == v


sls_contents = st.lists(
    st.tuples(
        st.text(alphabet=st.characters(codec="utf-8"), max_size=24),
        st.text(alphabet=st.characters(codec="utf-8"), max_size=48),
    ),
    max_size=6,
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=2**31 - 1), sls_contents),
        min_size=0,
        max_size=5,
    ),
    st.text(max_size=16),
    sls_contents,
)
def test_sls_loggroup_wire_roundtrip_property(logs, topic, tags):
    """Any LogGroup survives encode → decode exactly (times, content
    order, tags, topic)."""
    from loongcollector_spark.sources.sls_pb import (
        decode_loggroup,
        encode_log,
        encode_loggroup,
    )

    blobs = [encode_log(t, contents) for t, contents in logs]
    group = encode_loggroup(blobs, topic=topic, log_tags=tags)
    back = decode_loggroup(group)
    assert [(lg["time"], lg["contents"]) for lg in back["logs"]] == [
        (t, list(c)) for t, c in logs
    ]
    assert back.get("topic", "") == topic
    assert back["log_tags"] == [tuple(t) for t in tags]


@settings(max_examples=120, deadline=None)
@given(st.binary(max_size=64))
def test_otlp_decode_never_crashes_on_fuzz(buf):
    """Arbitrary bytes → decode returns a JSON string or None, never
    raises (a poison payload must not kill an executor task)."""
    from loongcollector_spark.functions.otlp_wire import decode_metrics, decode_traces

    for fn in (decode_traces, decode_metrics):
        out = fn(buf)
        assert out is None or isinstance(out, str)


# ---- parse_regex against per-key regexp_extract (Spark session) ----

_NGINX_LINE = (
    '1.2.3.4 - - [01/Jan/2024:00:00:00 +0000] "GET /a HTTP/1.1" 200 5 "-" '
    '"ag" logNo=7'
)
# nginx, an optional group (a group that takes no part extracts ''),
# and a pattern that matches ''
_REGEXES = [
    (
        r'(\S+) - - \[([^\]]+)\] "(\S+) (\S+) (\S+)" (\d+) (\d+) '
        r'"([^"]*)" "([^"]*)" logNo=(\d+)'
    ),
    r"(a.b)(-x)?",
    r"(a*)(b*)",
]
_EDGE_TEXTS = [
    None, "", "\n", "a-b\n", "a-b\r\n", "a\nb a-b", "\x02a-b", "a\x02b", "a\x01b",
    "\x02" + _NGINX_LINE, _NGINX_LINE + "\n", _NGINX_LINE.replace("GET", "G\x01T"),
]
_texts = st.lists(
    st.sampled_from(
        [_NGINX_LINE, "a", "b", "-", "x", " ", "\n", "\x01", "\x02", "=1"]
    ),
    max_size=6,
).map("".join)


@settings(max_examples=25, deadline=None)
@given(st.lists(_texts, max_size=8))
def test_parse_regex_matches_per_key_extract(spark, texts):
    """For both ``full_match`` settings, ``parse_regex`` gives what one
    ``rlike`` plus one ``regexp_extract`` per key gives with the same
    pattern (``^(?:r)\\z`` anchored, ``r`` not), except that a captured
    ``\\x01`` byte fails the row."""
    from pyspark.sql import functions as F

    from loongcollector_spark.operators.parse import parse_regex

    rows = list(enumerate(_EDGE_TEXTS + texts))
    df = spark.createDataFrame(rows, "id int, text string")
    got = want = df
    names = []
    for r, regex in enumerate(_REGEXES):
        n = re.compile(regex).groups
        for full_match in (True, False):
            keys = [f"r{r}{full_match:d}g{i}" for i in range(1, n + 1)]
            names += keys
            got = parse_regex(got, "text", regex, keys, full_match=full_match)
            search = f"^(?:{regex})\\z" if full_match else regex
            groups = [F.regexp_extract("text", search, i) for i in range(1, n + 1)]
            ok = F.rlike("text", F.lit(search)) & ~F.exists(
                F.array(*groups), lambda g: F.contains(g, F.lit("\x01"))
            )
            want = want.withColumns({k: F.when(ok, g) for k, g in zip(keys, groups)})
    got_rows = sorted(got.select("id", *names).collect())
    want_rows = sorted(want.select("id", *names).collect())
    assert got_rows == want_rows, [
        (rows[g.id][1], g, w) for g, w in zip(got_rows, want_rows) if g != w
    ]
