"""SPL compiler tests (loongcollector_spark/spl.py).

Mirrors the reference's own SPL surface: the pipe commands and
Presto-dialect expressions exercised by core/unittest/spl/spl.txt and
SplUnittest.cpp, plus the docs example
(docs/cn/plugins/processor/spl/processor-spl-native.md).
"""

import json
import re

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.spl import (
    SPLError,
    SPLUnsupportedError,
    compile_spl,
    mysql_datetime_to_java,
    translate_expr,
)


def _one(spark, script, **kw):
    """Run a one-row pipeline and return the single result row."""
    df = spark.range(1).select(F.lit("x").alias("seed"))
    rows = compile_spl(df, script, **kw).collect()
    assert len(rows) == 1
    return rows[0]


# ------------------------------------------------------------------ exprs


def test_string_functions(spark):
    r = _one(
        spark,
        "* | extend a = 'hello volex'"
        " | extend b = upper(a), c = length(a), d = strpos(a, 'volex'),"
        "   e = split_part(a, ' ', 2), f = reverse(a), g = trim('  x  '),"
        "   h = replace(a, 'hello', 'rep'), i = lpad('7', 3, '0'),"
        "   j = chr(65), k = codepoint('A')"
        " | project b, c, d, e, f, g, h, i, j, k",
    )
    assert r.b == "HELLO VOLEX"
    assert r.c == 11
    assert r.d == 7
    assert r.e == "volex"
    assert r.f == "xelov olleh"
    assert r.g == "x"
    assert r.h == "rep volex"
    assert r.i == "007"
    assert r.j == "A"
    assert r.k == 65


def test_split_is_literal_not_regex(spark):
    # Presto split() delimiters are literals; '.' must not be a regex dot
    r = _one(spark, "* | extend a = split('a.b.c', '.') | project a")
    assert list(r.a) == ["a", "b", "c"]


def test_presto_string_escaping_roundtrip(spark):
    # Presto strings: backslash is LITERAL, '' escapes a quote.
    r = _one(
        spark,
        r"* | extend a = regexp_extract('this is word 555', '(\d+)'),"
        r"   b = regexp_extract('this is word 555', '(\d+)', 1),"
        "   c = 'it''s' | project a, b, c",
    )
    assert r.a == "555"  # 2-arg form returns the whole match (group 0)
    assert r.b == "555"
    assert r.c == "it's"


def test_regexp_family(spark):
    r = _one(
        spark,
        r"* | extend a = regexp_like('this is word 555', '(\d+)'),"
        r"   b = regexp_replace('1a 2b 14m', '(\d+)([ab]) ', '3c$2'),"
        r"   c = regexp_replace('x123y', '(\d+)'),"
        r"   d = regexp_extract_all('1a 2b', '(\d+)', 1)"
        " | project a, b, c, d",
    )
    assert r.a is True
    assert r.b == "3ca3cb14m"
    assert r.c == "xy"
    assert list(r.d) == ["1", "2"]


def test_math_functions(spark):
    r = _one(
        spark,
        "* | extend a = abs(-30), b = ceil(1.2), c = floor(1.8),"
        "   d = mod(1321, 8), e = pow(2, 10), f = round(3.14159, 2),"
        "   g = sign(-5), h = sqrt(49), i = truncate(19.987),"
        "   j = truncate(19.1234567, 3), k = from_base('312', 8),"
        "   l = to_base(19, 16), m = width_bucket(500, 100, 5000, 10),"
        "   n = greatest(1342.2, 13.1, 8.9), o = least(1342.2, 13.1, 8.9)"
        " | project a, b, c, d, e, f, g, h, i, j, k, l, m, n, o",
    )
    assert r.a == 30 and r.b == 2 and r.c == 1 and r.d == 1
    assert r.e == 1024.0 and abs(float(r.f) - 3.14) < 1e-12
    assert r.g == -1.0 and r.h == 7.0
    assert r.i == 19.0 and abs(r.j - 19.123) < 1e-9
    assert r.k == 202 and r.l == "13" and r.m == 1
    assert float(r.n) == 1342.2 and float(r.o) == 8.9


def test_special_float_predicates(spark):
    r = _one(
        spark,
        "* | extend a = is_finite(30), b = is_infinite(infinity()),"
        "   c = is_nan(nan()), d = is_finite(infinity())"
        " | project a, b, c, d",
    )
    assert (r.a, r.b, r.c, r.d) == (True, True, True, False)


def test_bitwise(spark):
    r = _one(
        spark,
        "* | extend a = bitwise_and(1342, 8), b = bitwise_or(1342, 8),"
        "   c = bitwise_xor(1342, 8), d = bitwise_not(33),"
        "   e = bitwise_left_shift(5, 2), f = bitwise_right_shift(1342, 8)"
        " | project a, b, c, d, e, f",
    )
    assert r.a == (1342 & 8) and r.b == (1342 | 8) and r.c == (1342 ^ 8)
    assert r.d == ~33 and r.e == 20 and r.f == (1342 >> 8)


def test_datetime_functions(spark):
    r = _one(
        spark,
        "* | extend ts = from_unixtime(1534521600)"
        " | extend a = to_unixtime(ts), b = year(ts), c = month(ts),"
        "   d = day_of_month(ts), e = hour(ts), f = minute(ts),"
        "   g = date_format(ts, '%Y-%m-%d %H:%i:%s'),"
        "   h = date_diff('minute', ts, date_add('minute', 33, ts)),"
        "   i = to_unixtime(date_parse('2018-08-12 16:13:15', '%Y-%m-%d %H:%i:%s')),"
        "   j = date_trunc('minute', ts)"
        " | project a, b, c, d, e, f, g, h, i, j",
    )
    assert r.a == 1534521600.0
    # 2018-08-17 16:00:00 UTC; session tz applies to field extraction,
    # so pin only tz-independent facts
    assert r.b == 2018
    assert r.g is not None and len(r.g) == 19
    assert r.h == 33
    assert isinstance(r.i, float)


def test_mysql_format_conversion():
    assert mysql_datetime_to_java("%Y-%m-%d %H:%i:%s") == "yyyy-MM-dd HH:mm:ss"
    assert mysql_datetime_to_java("%T") == "HH:mm:ss"
    assert mysql_datetime_to_java("%Y/%m") == "yyyy/MM"
    # literal letters get quoted for Java
    assert mysql_datetime_to_java("%YT%H") == "yyyy'T'HH"
    assert mysql_datetime_to_java("100%%") == "100%"


def test_day_of_week_is_iso(spark):
    # 2018-08-17 is a Friday → ISO dow 5 (Presto semantics)
    r = _one(
        spark,
        "* | extend d = day_of_week(to_date('2018-08-17')),"
        "   y = year_of_week(to_date('2018-08-17')) | project d, y",
    )
    assert r.d == 5
    assert r.y == 2018


def test_array_functions(spark):
    r = _one(
        spark,
        "* | extend a = ARRAY [10, 20, 30]"
        " | extend b = array_average(a), c = array_sum(a),"
        "   d = array_max(a), e = array_min(a), f = cardinality(a),"
        "   g = contains(a, 20), h = element_at(a, 2), i = a[1],"
        "   j = array_join(ARRAY [1, NULL, 2], ',', '0'),"
        "   k = filter(a, x -> x > 15),"
        "   l = reduce(a, 0, (s, x) -> s + x, s -> s),"
        "   m = transform(a, x -> x + 1),"
        "   n = all_match(a, x -> x > 3), o = any_match(a, x -> x > 25),"
        "   p = none_match(a, x -> x > 99),"
        "   q = slice(a, 1, 2), r = sequence(0, 4, 2),"
        "   s = zip_with(ARRAY[1, 3], ARRAY['a', 'b'], (x, y) -> concat(y, cast(x as varchar)))"
        " | project b, c, d, e, f, g, h, i, j, k, l, m, n, o, p, q, r, s",
    )
    assert r.b == 20.0 and r.c == 60.0
    assert r.d == 30 and r.e == 10 and r.f == 3
    assert r.g is True and r.h == 20 and r.i == 10
    assert r.j == "1,0,2"
    assert list(r.k) == [20, 30]
    assert r.l == 60
    assert list(r.m) == [11, 21, 31]
    assert (r.n, r.o, r.p) == (True, True, True)
    assert list(r.q) == [10, 20]
    assert list(r.r) == [0, 2, 4]
    assert list(r.s) == ["a1", "b3"]


def test_map_functions(spark):
    r = _one(
        spark,
        "* | extend m = map(ARRAY[1, 3], ARRAY[2, 4])"
        " | extend a = cardinality(m), b = element_at(m, 3),"
        "   c = map_keys(m), d = map_values(m),"
        "   e = map_concat(m, map(ARRAY[9], ARRAY[9])),"
        "   f = transform_values(m, (k, v) -> k * v),"
        "   g = cardinality(map())"
        " | project a, b, c, d, e, f, g",
    )
    assert r.a == 2 and r.b == 4
    assert sorted(r.c) == [1, 3] and sorted(r.d) == [2, 4]
    assert r.e[9] == 9
    assert r.f[3] == 12
    assert r.g == 0


def test_json_functions(spark):
    r = _one(
        spark,
        """* | extend j = '{"x": {"a": 1, "b": 2}}'
        | extend a = json_extract_scalar(j, '$.x.a'),
          b = json_array_length('[1, 2, 3]'),
          c = json_array_contains('[1, 2, 3]', 2),
          d = is_json_scalar('123'), e = is_json_scalar('{"a":1}')
        | project a, b, c, d, e""",
    )
    assert r.a == "1" and r.b == 3 and r.c is True
    assert r.d is True and r.e is False


def test_url_functions(spark):
    r = _one(
        spark,
        "* | extend u = 'https://sls.aliyun.com:8443/v1/path?a=b&c=d#frag'"
        " | extend a = url_extract_host(u), b = url_extract_path(u),"
        "   c = url_extract_query(u), d = url_extract_parameter(u, 'c'),"
        "   e = url_extract_protocol(u), f = url_extract_fragment(u),"
        "   g = url_extract_port(u),"
        "   h = url_decode('https%3A%2F%2Fx%2Fy')"
        " | project a, b, c, d, e, f, g, h",
    )
    assert r.a == "sls.aliyun.com"
    assert r.b == "/v1/path"
    assert r.c == "a=b&c=d"
    assert r.d == "d"
    assert r.e == "https"
    assert r.f == "frag"
    assert r.g == 8443
    assert r.h == "https://x/y"


def test_binary_and_hash_functions(spark):
    r = _one(
        spark,
        "* | extend a = cast('4444' as VARBINARY)"
        " | extend b = md5(a), c = sha256(a), d = to_base64(a),"
        "   e = crc32(a), f = to_hex(a), g = from_hex('D74D'),"
        "   h = from_base64(to_base64(a)), i = to_utf8('ab')"
        " | project b, c, d, e, f, g, h, i",
    )
    import hashlib

    assert r.b == hashlib.md5(b"4444").hexdigest()
    assert r.c == hashlib.sha256(b"4444").hexdigest()
    assert r.d == "NDQ0NA=="
    assert r.e > 0
    assert r.f == "34343434"
    assert bytes(r.g) == bytes.fromhex("D74D")
    assert bytes(r.h) == b"4444"
    assert bytes(r.i) == b"ab"


def test_unsupported_functions_raise():
    for fn in ("hmac_md5(a, b)", "spooky_hash_v2_32(a)", "strrpos(a, 'x')",
               "combinations(a, 2)", "empty_approx_set()"):
        with pytest.raises(SPLUnsupportedError):
            translate_expr(fn)


def test_quoted_identifier_translates_to_backticks():
    assert translate_expr('"__tag__:x"') == "`__tag__:x`"


# --------------------------------------------------------------- commands


def test_where_extend_project_chain(spark):
    df = spark.createDataFrame([("a", 3), ("b", 7), ("c", 12)], ["k", "v"])
    out = compile_spl(
        df,
        "* | extend v2 = v * 2, lbl = upper(k) | where v2 >= 10"
        " | sort by v2 desc | limit 1 | project lbl, v2",
    ).collect()
    assert [tuple(r) for r in out] == [("C", 24)]


def test_project_away_and_rename(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["a", "b", "c"])
    out = compile_spl(df, "* | project-away b | project-rename z = c")
    assert out.columns == ["a", "z"]
    # reference rename-to-tag form (SplUnittest.cpp:490)
    out2 = compile_spl(df, '* | project-rename "__tag__:taiye2" = a')
    assert out2.columns == ["__tag__:taiye2", "b", "c"]


def test_parse_regexp_as_keys_and_named_groups(spark):
    df = spark.createDataFrame([("1.2.3.4 GET /x",), ("garbage",)], ["content"])
    out = compile_spl(
        df, r"* | parse-regexp content, '(\S+)\s+(\w+)' as ip, method"
    ).collect()
    by = {r.content: r for r in out}
    assert by["1.2.3.4 GET /x"].ip == "1.2.3.4"
    assert by["1.2.3.4 GET /x"].method == "GET"
    # unmatched rows keep the row, fields NULL (no discard)
    assert by["garbage"].ip is None and by["garbage"].method is None

    out2 = compile_spl(
        df, r"* | parse-regexp content, '(?P<ip>\S+)\s+(?P<method>\w+)'"
    ).collect()
    by2 = {r.content: r for r in out2}
    assert by2["1.2.3.4 GET /x"].ip == "1.2.3.4"
    assert by2["1.2.3.4 GET /x"].method == "GET"


def test_parse_regexp_mixed_named_unnamed_groups(spark):
    """A named group preceded by unnamed (and lookbehind) groups must
    bind to its ACTUAL capture-group ordinal, not its position in the
    name list."""
    df = spark.createDataFrame([("42x abc",)], ["content"])
    out = compile_spl(
        df, r"* | parse-regexp content, '(\d+)x (?P<word>[a-z]+)'"
    ).collect()
    assert out[0].word == "abc"  # not '42'
    # lookbehind is NOT a capture group and must not shift ordinals
    out2 = compile_spl(
        df, r"* | parse-regexp content, '(?<=x )(?P<word>[a-z]+)'"
    ).collect()
    assert out2[0].word == "abc"


def test_parse_regexp_matches_first_search_hit(spark):
    """Every key comes from the first match anywhere in the text, as
    Python's re.search finds it: a group that took no part reads '',
    ``.`` does not cross a newline, and a text led by the \\x02
    sentinel byte of the one-replace kernel parses by the pattern
    alone."""
    pat = r"k=(\d)?(.)?"
    texts = ["k=1", "k=", "a\nk=2 k=3", "k=\nx", "\x02k=4", "\x02zz", "none", None]
    df = spark.createDataFrame([(t,) for t in texts], "content string")
    out = compile_spl(df, f"* | parse-regexp content, '{pat}' as d, c")
    got = {r.content: (r.d, r.c) for r in out.collect()}
    want = {}
    for t in texts:
        m = re.search(pat, t) if t is not None else None
        want[t] = (m.group(1) or "", m.group(2) or "") if m else (None, None)
    assert got == want


def test_parse_regexp_too_many_as_keys_is_compile_error(spark):
    df = spark.createDataFrame([("5 apples",)], ["content"])
    with pytest.raises(SPLError, match="capture group"):
        compile_spl(df, r"* | parse-regexp content, '(\d+)' as a, b")


def test_flag_value_octal_and_hex_escapes():
    from loongcollector_spark.spl import _decode_flag_value

    assert _decode_flag_value(r"'\011'") == "\t"  # octal tab, not NUL+'11'
    assert _decode_flag_value(r"'\11'") == "\t"
    assert _decode_flag_value(r"'\0'") == "\0"
    assert _decode_flag_value(r"'\x09'") == "\t"
    assert _decode_flag_value(r"'\t'") == "\t"


def test_from_unixtime_three_arg_offset(spark):
    """Presto from_unixtime(unixtime, hours, minutes) renders the wall
    clock at the ±hh:mm offset (UTC + offset), not plain UTC."""
    df = spark.createDataFrame([(0,)], ["t"])
    out = compile_spl(
        df,
        "* | extend w = date_format(from_unixtime(t, 8, 30), '%H:%i')",
    ).collect()
    assert out[0].w == "08:30"


def test_parse_regexp_overwrite_keeps_unmatched_rows_existing(spark):
    # an existing column is only overwritten where the parse matched
    df = spark.createDataFrame(
        [("5 apples", "old1"), ("no digits", "old2")], ["content", "n"]
    )
    out = compile_spl(df, r"* | parse-regexp content, '(\d+)' as n").collect()
    by = {r.content: r.n for r in out}
    assert by["5 apples"] == "5"
    assert by["no digits"] == "old2"


def test_parse_csv_modes(spark):
    df = spark.createDataFrame(
        [("a,b,c",), ("x,y",)], ["content"]
    )
    # non-strict: partial assign, extras dropped
    out = compile_spl(df, "* | parse-csv content as ip, time, host").collect()
    by = {r.content: r for r in out}
    assert (by["a,b,c"].ip, by["a,b,c"].time, by["a,b,c"].host) == ("a", "b", "c")
    assert (by["x,y"].ip, by["x,y"].time, by["x,y"].host) == ("x", "y", None)
    # strict: exact arity or all-null
    out2 = compile_spl(df, "* | parse-csv -strict content as ip, time, host").collect()
    by2 = {r.content: r for r in out2}
    assert (by2["a,b,c"].ip, by2["a,b,c"].host) == ("a", "c")
    assert (by2["x,y"].ip, by2["x,y"].time, by2["x,y"].host) == (None, None, None)


def test_parse_csv_flags(spark):
    df = spark.createDataFrame([("a;b;c", 'x,"y,z",w')], ["d1", "q1"])
    out = compile_spl(df, "* | parse-csv -delim=';' d1 as i, j, k").collect()[0]
    assert (out.i, out.j, out.k) == ("a", "b", "c")
    out2 = compile_spl(df, '* | parse-csv -quote=\'"\' q1 as i, j, k').collect()[0]
    assert (out2.i, out2.j, out2.k) == ("x", "y,z", "w")
    # escaped delimiters from the reference tests: \x09 / \t
    df2 = spark.createDataFrame([("p\tq\tr",)], ["c"])
    for delim in (r"'\x09'", r"'\t'"):
        o = compile_spl(df2, f"* | parse-csv -delim={delim} c as i, j, k").collect()[0]
        assert (o.i, o.j, o.k) == ("p", "q", "r")


def test_parse_kv_flags_and_modes(spark):
    df = spark.createDataFrame([("k1=v1&k2=v2?k3=v3",)], ["content"])
    out = compile_spl(df, "* | parse-kv -delims='&?' content").collect()[0]
    assert (out.k1, out.k2, out.k3) == ("v1", "v2", "v3")
    out2 = compile_spl(
        df, "* | parse-kv -prefix='p_' -delims='&?' content"
    ).collect()[0]
    assert (out2.p_k1, out2.p_k2) == ("v1", "v2")
    # custom kv separator
    df3 = spark.createDataFrame([("a:1&b:2",)], ["content"])
    out3 = compile_spl(df3, "* | parse-kv -kv-sep=':' -delims='&' content").collect()[0]
    assert (out3.a, out3.b) == ("1", "2")
    # preserve vs overwrite on an existing column
    df4 = spark.createDataFrame([("a=new", "old")], ["content", "a"])
    ow = compile_spl(df4, "* | parse-kv -delims='&' content").collect()[0]
    assert ow.a == "new"
    pv = compile_spl(
        df4, "* | parse-kv -mode='preserve' -delims='&' content"
    ).collect()[0]
    assert pv.a == "old"


def test_parse_json_basics(spark):
    df = spark.createDataFrame(
        [('{"a1": "v1", "n": 2, "nested": {"x": 1}}',)], ["content"]
    )
    out = compile_spl(df, "* | parse-json content").collect()[0]
    assert out.a1 == "v1"
    assert out.n == "2"
    assert out.nested == '{"x":1}'
    out2 = compile_spl(df, "* | parse-json -prefix='prefix_' content").collect()[0]
    assert out2.prefix_a1 == "v1"
    # -path extracts a sub-document first
    df2 = spark.createDataFrame([('{"body": {"k": "v"}}',)], ["content"])
    out3 = compile_spl(df2, "* | parse-json -path='$.body' content").collect()[0]
    assert out3.k == "v"


def test_parse_json_known_keys_is_pure_jvm(spark):
    df = spark.createDataFrame([('{"a": "1", "b": "2"}',)], ["content"])
    out = compile_spl(
        df, "* | parse-json content | where a = '1'", known_keys={"content": ["a", "b"]}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # no Python anywhere in the plan
    assert out.collect()[0].b == "2"


def test_multi_dataset_let_union(spark):
    # SplUnittest.cpp TestMultiParse, verbatim script shape
    df = spark.createDataFrame(
        [('{"type":"kv","message":"k1=v1&k2=v2?k3=v3"}',),
         ('{"type":"csv","message":"a,b,c"}',)],
        ["content"],
    )
    script = """.let src = *
| parse-json content;
.let ds1 = $src
| where type = 'kv'
| parse-kv -delims='&?' message;
$ds1;
.let ds2 = $src
| where type = 'csv'
| parse-csv message as x, y, z;
$ds2;
"""
    out = compile_spl(df, script).collect()
    assert len(out) == 2
    by = {r.type: r for r in out}
    assert (by["kv"].k1, by["kv"].k2, by["kv"].k3) == ("v1", "v2", "v3")
    assert (by["csv"].x, by["csv"].y, by["csv"].z) == ("a", "b", "c")
    # union-by-name null-fills the other branch's columns
    assert by["csv"].k1 is None and by["kv"].x is None


def test_docs_example_end_to_end(spark):
    # docs/cn/plugins/processor/spl/processor-spl-native.md, verbatim
    line = ('127.0.0.1 - - [07/Jul/2022:10:43:30 +0800] '
            '"POST /PutData?Category=YunOsAccountOpLog" 0.024 18204 200 37 '
            '"-" "aliyun-sdk-java"')
    df = spark.createDataFrame([(line,)], ["content"])
    script = (
        r"""* | parse-regexp content, '([\d\.]+) \S+ \S+ \[(\S+) \S+\] """
        r""""(\w+) ([^"]*)" ([\d\.]+) (\d+) (\d+) (\d+|-) "([^"]*)" "([^"]*)"'"""
        r""" as ip, time, method, url, request_time, request_length, status,"""
        r""" length, ref_url, browser | project-away content"""
    )
    out = compile_spl(df, script).collect()[0]
    assert out.ip == "127.0.0.1"
    assert out.time == "07/Jul/2022:10:43:30"
    assert out.method == "POST"
    assert out.url == "/PutData?Category=YunOsAccountOpLog"
    assert out.status == "200"
    assert out.browser == "aliyun-sdk-java"


def test_stats_command(spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)], ["k", "v", "w"]
    )
    out = compile_spl(
        df,
        "* | stats count(*) as n, sum(v) as sv, avg(w) as aw by k | sort by k",
    ).collect()
    assert [tuple(r) for r in out] == [("a", 2, 3, 15.0), ("b", 1, 3, 30.0)]
    # global (no by): one row; cast-with-as inside an aggregate must not
    # be mistaken for the alias keyword
    g = compile_spl(
        df, "* | stats sum(cast(v as double)) as total, approx_distinct(k) as k_apx"
    ).collect()
    assert g[0].total == 6.0 and g[0].k_apx == 2
    # head is a limit alias
    assert compile_spl(df, "* | head 2").count() == 2
    with pytest.raises(SPLError):
        compile_spl(df, "* | stats by k")


def test_pack_fields(spark):
    df = spark.createDataFrame([("c1", "INFO", "m", 7)], ["conv_id", "lvl", "msg", "n"])
    out = compile_spl(df, "* | pack-fields -include='lvl|msg' packed").collect()[0]
    assert json.loads(out.packed) == {"lvl": "INFO", "msg": "m"}
    assert "lvl" not in out.asDict() and out.conv_id == "c1" and out.n == 7
    kept = compile_spl(df, "* | pack-fields -exclude='conv_id' -keep packed")
    assert set(kept.columns) == {"conv_id", "lvl", "msg", "n", "packed"}
    with pytest.raises(SPLError):
        compile_spl(df, "* | pack-fields -include='nomatch_xyz' packed")


def test_quoted_identifier_reads_its_column_literally(spark):
    """A ``"quoted identifier"`` keeps every character: ``"a`b"`` reads
    column a`b (not ab), and ``"host.name"`` the top-level column."""
    df = spark.createDataFrame([("tick", "plain", "h1")], ["a`b", "ab", "host.name"])
    r = compile_spl(
        df, '* | extend x = "a`b", y = upper("host.name") | project x, y'
    ).collect()
    assert [tuple(t) for t in r] == [("tick", "H1")]


def test_dotted_identifiers_name_flat_columns(spark):
    """Names that ``project``, ``stats ... by``, a parse's assignment
    target and ``pack-fields`` take are flat column names."""
    df = spark.createDataFrame(
        [("h1", "a=1", 7), ("h1", "a=2", 8)], ["host.name", "kv", "n.v"]
    )
    assert compile_spl(df, '* | project "host.name"').columns == ["host.name"]
    stats = compile_spl(df, '* | stats sum("n.v") as s by "host.name"').collect()
    assert [tuple(r) for r in stats] == [("h1", 15)]
    parsed = compile_spl(
        df, "* | parse-regexp kv, 'a=(\\d)' as \"n.v\" | project \"n.v\""
    )
    # the parsed values replace the existing n.v column (7, 8)
    assert sorted(r[0] for r in parsed.collect()) == [1, 2]
    packed = compile_spl(df, "* | pack-fields -include='^host' p").collect()
    assert [json.loads(r.p) for r in packed] == [{"host.name": "h1"}] * 2


def test_filter_pushdown_through_compiled_script(spark, tmp_path):
    # a compiled where must reach the parquet scan as a pushed filter —
    # the query-language layer costs nothing at the plan level
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(f"c{i}", f"v={i}") for i in range(100)], ["conv_id", "text"]
    ).write.parquet(p)
    out = compile_spl(
        spark.read.parquet(p),
        r"* | where conv_id = 'c7' | parse-regexp text, 'v=(\d+)' as v"
        " | extend vv = cast(v as integer) * 2",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "conv_id" in plan.split("PushedFilters:")[1][:120]
    assert out.count() == 1


def test_reference_timestamp_script(spark):
    # SplUnittest.cpp:658 verbatim: parse-json → date_parse with a 'T'
    # literal in the %-format → epoch cast with tz offset arithmetic →
    # project-away without spaces around the pipes
    df = spark.createDataFrame(
        [('{"time":"2024-01-02T03:04:05","msg":"m1"}',)], ["content"]
    )
    script = (
        "* | parse-json content | extend ts=date_parse(time, "
        "'%Y-%m-%dT%H:%i:%S')| extend __time__=cast(to_unixtime(ts) as "
        "INTEGER)-28800| project-away ts| project-away content"
    )
    out = compile_spl(df, script, known_keys={"content": ["time", "msg"]})
    row = out.collect()[0]
    assert out.columns == ["time", "msg", "__time__"]
    # 2024-01-02T03:04:05 UTC = 1704164645; minus the script's 28800
    assert row["__time__"] == 1704164645 - 28800
    assert row.msg == "m1"


def test_rename_without_spaces(spark):
    df = spark.createDataFrame([(1,)], ["a1"])
    out = compile_spl(df, '* | project-rename "__tag__:taiye2"=a1')
    assert out.columns == ["__tag__:taiye2"]


def test_single_plan_no_exchange_for_narrow_script(spark):
    # narrow commands compile to ONE stage: no shuffle in the plan
    df = spark.range(100).select(
        F.concat(F.lit("k="), F.col("id").cast("string")).alias("text")
    )
    out = compile_spl(
        df,
        "* | parse-regexp text, 'k=(\\d+)' as k | where cast(k as integer) > 10"
        " | extend k2 = cast(k as integer) * 2 | project k, k2",
        known_keys={},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert out.count() == 89


def test_errors(spark):
    df = spark.range(1)
    with pytest.raises(SPLError):
        compile_spl(df, "")
    with pytest.raises(SPLError):
        compile_spl(df, "$nope | where id = 1")
    with pytest.raises(SPLUnsupportedError):
        compile_spl(df, "* | frobnicate id")
    with pytest.raises(SPLError):
        compile_spl(df, "* | parse-regexp id")
    with pytest.raises(SPLUnsupportedError):
        compile_spl(df, "* | extend a = hmac_md5(id, id)")


def test_streaming_compatibility(spark, tmp_path):
    # narrow SPL scripts compile onto streaming frames unchanged; the
    # same script over the same rows matches the batch twin row-for-row
    src = tmp_path / "in"
    rows = [(f"c{i}", f"k={i} v=x{i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["conv_id", "text"])
    df.write.mode("overwrite").parquet(str(src))
    script = (
        r"* | parse-kv -delims=' ' text"
        " | where cast(k as integer) >= 10 | extend tag = upper(v)"
        " | project conv_id, k, tag"
    )
    keys = {"text": ["k", "v"]}
    batch = compile_spl(spark.read.parquet(str(src)), script, known_keys=keys)
    stream_in = spark.readStream.schema("conv_id string, text string").parquet(
        str(src)
    )
    out = compile_spl(stream_in, script, known_keys=keys)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("spl_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM spl_stream").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch.collect()))
    assert len(got) == 10
    # inference on a streaming frame refuses with a clear message
    with pytest.raises(SPLError, match="known_keys"):
        compile_spl(stream_in, "* | parse-kv -delims=' ' text")


def test_pipe_inside_string_and_concat_not_split(spark):
    # '|' inside a regex literal and '||' concat must not split commands
    df = spark.createDataFrame([("a|b",)], ["c"])
    out = compile_spl(
        df, r"* | extend m = regexp_extract(c, '(a|x)', 1) || '!' | project m"
    ).collect()[0]
    assert out.m == "a!"
