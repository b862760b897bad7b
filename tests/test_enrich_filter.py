"""Golden tests for enrichment and filter operators (mirrors the
reference's table-driven plugin tests, e.g.
plugins/processor/dictmap/processor_dict_map.go tests)."""

import datetime

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators import enrich, filter as flt


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            (1, "user", "alpha", "secret=hunter2 rest"),
            (2, "assistant", "beta", "no secrets here"),
            (3, "alien", None, "secret=abc tail"),
        ],
        ["id", "role", "val", "msg"],
    )


def test_add_fields_ignore_if_exist(spark, df):
    out = enrich.add_fields(df, {"env": "prod", "role": "forced"})
    assert out.first().env == "prod"
    assert {r.role for r in out.collect()} == {"forced"}
    out2 = enrich.add_fields(df, {"role": "forced"}, ignore_if_exist=True)
    assert {r.role for r in out2.collect()} == {"user", "assistant", "alien"}


def test_dict_map_modes(spark, df):
    dim = spark.createDataFrame(
        [("user", "human"), ("assistant", "model")], ["role", "role_class"]
    )
    # missing handling
    out = enrich.dict_map(
        df, dim, "role", "role_class", handle_missing=True, missing="UNK"
    )
    m = {r.id: r.role_class for r in out.collect()}
    assert m == {1: "human", 2: "model", 3: "UNK"}
    # fill mode: existing non-null dest wins
    pre = df.withColumn("role_class", F.when(F.col("id") == 1, "preset"))
    out2 = enrich.dict_map(pre, dim, "role", "role_class", mode="fill")
    m2 = {r.id: r.role_class for r in out2.collect()}
    assert m2[1] == "preset" and m2[2] == "model" and m2[3] is None
    # overwrite mode: mapping wins
    out3 = enrich.dict_map(pre, dim, "role", "role_class", mode="overwrite")
    m3 = {r.id: r.role_class for r in out3.collect()}
    assert m3[1] == "human"


def test_dict_map_keeps_columns_named_like_its_lookup_columns(spark, df):
    """The lookup adds only its destination column: fact columns named
    like lookup temporaries survive it."""
    facts = df.select("id", "role", F.lit("k").alias("__dk"), F.lit("v").alias("__dv"))
    dim = spark.createDataFrame(
        [("user", "human"), ("assistant", "model")], ["role", "role_class"]
    )
    out = enrich.dict_map(facts, dim, "role", "role_class", max_dict_size=5)
    assert out.columns == ["id", "role", "__dk", "__dv", "role_class"]
    got = {r.id: (r["__dk"], r["__dv"], r.role_class) for r in out.collect()}
    assert got == {1: ("k", "v", "human"), 2: ("k", "v", "model"), 3: ("k", "v", None)}


def _lookup(out, key="role", dest="role_class"):
    return {r[key]: r[dest] for r in out.collect()}


@pytest.fixture(scope="module")
def roles(spark):
    return spark.createDataFrame(
        [("user",), ("assistant",), ("alien",), (None,)], "role string"
    )


def test_dict_map_null_keys_never_match(spark, roles):
    """A NULL dimension key does not match a NULL source, as no NULL
    equals another in the join it replaced."""
    dim = spark.createDataFrame(
        [(None, "nobody"), ("user", "human")], "role string, role_class string"
    )
    out = enrich.dict_map(roles, dim, "role", "role_class", handle_missing=True, missing="UNK")
    assert _lookup(out) == {"user": "human", "assistant": "UNK", "alien": "UNK", None: "UNK"}


def test_dict_map_empty_dimension_misses_every_row(spark, roles):
    dim = spark.createDataFrame([], "role string, role_class string")
    out = enrich.dict_map(roles, dim, "role", "role_class")
    assert _lookup(out) == {"user": None, "assistant": None, "alien": None, None: None}
    out = enrich.dict_map(roles, dim, "role", "role_class", handle_missing=True, missing="UNK")
    assert set(_lookup(out).values()) == {"UNK"}


def test_dict_map_exact_duplicates_collapse(spark, roles):
    """Identical dimension rows are one entry, also under the size cap:
    the three copies of "assistant" take one of its two places."""
    dim = spark.createDataFrame(
        [("assistant", "model"), ("user", "human"), ("assistant", "model"), ("zed", "z"),
         ("assistant", "model")],
        "role string, role_class string",
    )
    want = {"user": "human", "assistant": "model", "alien": None, None: None}
    assert _lookup(enrich.dict_map(roles, dim, "role", "role_class")) == want
    capped = enrich.dict_map(roles, dim, "role", "role_class", max_dict_size=2)
    assert _lookup(capped) == want


def test_dict_map_conflicting_duplicate_raises(spark, roles):
    dim = spark.createDataFrame(
        [("user", "human"), ("user", "person"), ("assistant", "model")],
        "role string, role_class string",
    )
    with pytest.raises(ValueError, match="'user'"):
        enrich.dict_map(roles, dim, "role", "role_class")
    # a conflict among the keys the cap drops does not matter
    out = enrich.dict_map(roles, dim, "role", "role_class", max_dict_size=1)
    assert _lookup(out) == {"user": None, "assistant": "model", "alien": None, None: None}


def test_dict_map_int_value_keeps_its_type(spark, roles):
    dim = spark.createDataFrame(
        [("user", 1), ("assistant", 2)], "role string, priority int"
    )
    out = enrich.dict_map(roles, dim, "role", "priority")
    assert out.dtypes == [("role", "string"), ("priority", "int")]
    assert _lookup(out, dest="priority") == {"user": 1, "assistant": 2, "alien": None, None: None}
    # and an int key, looked up from a long source column
    dim = spark.createDataFrame([(1, "one"), (2, "two")], "code int, name string")
    facts = spark.createDataFrame([(1,), (3,), (None,)], "code long")
    out = enrich.dict_map(facts, dim, "code", "name")
    assert _lookup(out, "code", "name") == {1: "one", 3: None, None: None}


def test_dict_map_unsupported_type_raises_at_plan_build(spark, roles):
    dim = spark.createDataFrame(
        [("user", datetime.date(2024, 1, 1))], "role string, since date"
    )
    with pytest.raises(ValueError, match="string -> date"):
        enrich.dict_map(roles, dim, "role", "since")


@pytest.mark.parametrize("key_type", ["string", "bigint"])
def test_dict_map_bucketed_dimension(spark, key_type):
    """Above 8 entries the dictionary is split into hash buckets; a
    20-entry one (3 buckets) gives the same hits and misses."""
    cast = str if key_type == "string" else int
    dim = spark.createDataFrame(
        [(cast(i), f"v{i}") for i in range(20)], f"k {key_type}, v string"
    )
    facts = spark.createDataFrame([(cast(i),) for i in range(25)] + [(None,)], f"k {key_type}")
    out = enrich.dict_map(facts, dim, "k", "v", handle_missing=True, missing="-")
    want = {cast(i): f"v{i}" if i < 20 else "-" for i in range(25)} | {None: "-"}
    assert _lookup(out, "k", "v") == want
    assert "pmod(hash(" in out._jdf.queryExecution().executedPlan().toString()


def test_dict_map_max_dict_size_keeps_smallest_keys(spark):
    dim = spark.createDataFrame(
        [("d", "4"), ("b", "2"), ("a", "1"), ("c", "3")], "k string, v string"
    )
    facts = spark.createDataFrame([(k,) for k in "abcde"], "k string")
    out = enrich.dict_map(facts, dim, "k", "v", max_dict_size=2)
    assert _lookup(out, "k", "v") == {"a": "1", "b": "2", "c": None, "d": None, "e": None}


@pytest.mark.parametrize("preset", [False, True])
def test_dict_map_unknown_mode_rejected_before_any_job(spark, df, preset):
    """An unknown mode used to act as overwrite when the destination
    existed and was ignored otherwise."""
    facts = df.withColumn("role_class", F.lit("x")) if preset else df
    dim = spark.createDataFrame([("user", "human")], ["role", "role_class"])
    sc = spark.sparkContext
    group = f"dict-map-mode-{preset}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="'Overwrite'"):
            enrich.dict_map(facts, dim, "role", "role_class", mode="Overwrite")
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("typ, step", [
    ("dict_map", {"dim": "role_dimm", "source_key": "role", "dest_key": "c"}),
    ("dict_map", {"source_key": "role", "dest_key": "c"}),
    ("geoip", {"dim": "geo", "source_key": "ip"}),
])
def test_pipeline_names_a_missing_dimension(spark, df, typ, step):
    from loongcollector_spark.pipeline import Pipeline

    dim = spark.createDataFrame([("user", "human")], ["role", "c"])
    requested = repr(step.get("dim"))
    with pytest.raises(ValueError, match=rf"{typ} step names dimension {requested}.*\['role_dim'\]"):
        Pipeline({"processors": [{"type": typ, **step}]}, {"role_dim": dim})


def test_rename_and_pick_drop(spark, df):
    out = enrich.rename(df, {"val": "value", "msg": "message"})
    assert "value" in out.columns and "msg" not in out.columns
    assert enrich.pick_keys(df, include=["id", "role"]).columns == ["id", "role"]
    assert "msg" not in enrich.drop_keys(df, ["msg"]).columns


def test_string_replace_and_desensitize(spark, df):
    out = enrich.string_replace(
        df, "msg", method="regex", match=r"secret=\S+", replace_string="secret=***"
    )
    texts = {r.id: r.msg for r in out.collect()}
    assert texts[1] == "secret=*** rest"
    assert texts[2] == "no secrets here"
    out2 = enrich.string_replace(
        df, "msg", method="const", match="secret", replace_string="S", dest_key="m2"
    )
    assert out2.filter(F.col("id") == 1).first().m2 == "S=hunter2 rest"
    out3 = enrich.desensitize(df, "msg", r"secret=\S+", replace_string="XXX")
    assert out3.filter(F.col("id") == 1).first().msg == "XXX rest"


def test_md5_base64_packjson_appender(spark, df):
    assert enrich.md5_field(df, "role", "h").first().h is not None
    enc = enrich.base64_encode(df, "role", "b64")
    dec = enrich.base64_decode(enc, "b64", "back")
    assert {r.role for r in dec.collect()} == {r.back for r in dec.collect()}
    pj = enrich.pack_json(df, ["id", "role"], "packed").first()
    import json

    assert json.loads(pj.packed) == {"id": 1, "role": "user"}
    ap = enrich.appender(
        df, "val", "-{{host}}", constants={"host": "h1"}
    )
    vals = {r.id: r.val for r in ap.collect()}
    assert vals[1] == "alpha-h1"
    assert vals[3] == "-h1"  # null coalesces to empty before append


def test_filter_key_regex(spark, df):
    out = flt.filter_key_regex(df, include="id|role")
    assert out.columns == ["id", "role"]
    out2 = flt.filter_key_regex(df, exclude="msg|val")
    assert out2.columns == ["id", "role"]


def test_filter_regex_null_semantics(spark, df):
    # NULL field fails Include, and Exclude on NULL keeps the row
    out = flt.filter_regex(df, include={"val": "alpha|beta"})
    assert {r.id for r in out.collect()} == {1, 2}
    out2 = flt.filter_regex(df, exclude={"val": "alpha"})
    assert {r.id for r in out2.collect()} == {2, 3}


def test_fields_with_condition_first_match_wins(spark, df):
    out = flt.fields_with_condition(
        df,
        [
            {
                "fields": [{"key": "role", "value": "user"}],
                "add_fields": {"cls": "first"},
            },
            {
                "fields": [
                    {"key": "role", "value": "user|assistant", "relation": "regexp"}
                ],
                "add_fields": {"cls": "second"},
            },
        ],
    )
    m = {r.id: r.cls for r in out.collect()}
    assert m == {1: "first", 2: "second", 3: None}
    out2 = flt.fields_with_condition(
        df,
        [
            {
                "fields": [
                    {"key": "role", "value": "user"},
                    {"key": "val", "value": "alpha"},
                ],
                "logical_operator": "and",
                "add_fields": {"cls": "both"},
            }
        ],
        drop_if_not_match=True,
    )
    assert [r.id for r in out2.collect()] == [1]


def test_rate_limit(spark):
    from datetime import datetime

    rows = [
        (i, "k", datetime(2024, 1, 1, 0, 0, 0, i * 1000)) for i in range(10)
    ] + [(i, "k2", datetime(2024, 1, 1, 0, 0, 1)) for i in range(2)]
    df = spark.createDataFrame(rows, ["id", "key", "ts"])
    out = flt.rate_limit(df, ["key"], limit=3, window="1 second")
    counts = {r.key: r["cnt"] for r in
              out.groupBy("key").agg(F.count("*").alias("cnt")).collect()}
    assert counts == {"k": 3, "k2": 2}


def test_delimiter_preserve_others(spark):
    from loongcollector_spark.operators.parse import parse_delimiter

    df = spark.createDataFrame([("a|b|c|d|e",), ("a|b",), ("a",)], ["line"])
    out = parse_delimiter(
        df, "line", "|", ["f1", "f2"], preserve_others=True
    )
    rows = {r.line: (r.f1, r.f2, r["_split_preserve_"]) for r in out.collect()}
    # remainder is kept UNSPLIT (SplitN semantics, split_char.go:127-143)
    assert rows["a|b|c|d|e"] == ("a", "b", "c|d|e")
    assert rows["a|b"] == ("a", "b", None)
    # short row: partial assignment (split_string.go:80-88)
    assert rows["a"] == ("a", None, None)


def test_delimiter_expand_others(spark):
    from loongcollector_spark.operators.parse import parse_delimiter

    df = spark.createDataFrame([("a|b|c|d|e|f",), ("a|b|c",)], ["line"])
    out = parse_delimiter(
        df,
        "line",
        "|",
        ["f1", "f2"],
        preserve_others=True,
        expand_others=True,
        expand_key_prefix="ex_",
        max_expand=3,
    )
    rows = {r.line: (r.f1, r.f2, r.ex_1, r.ex_2, r.ex_3) for r in out.collect()}
    # extras become ex_1..N; tail past max_expand stays unsplit in ex_3
    assert rows["a|b|c|d|e|f"] == ("a", "b", "c", "d", "e|f")
    assert rows["a|b|c"] == ("a", "b", "c", None, None)


def test_drop_last_key(spark):
    from loongcollector_spark.operators.enrich import drop_last_key

    df = spark.createDataFrame(
        [("raw1", "parsed", None), ("raw2", None, None)],
        "content string, ip string, method string",
    )
    out = drop_last_key(df, ["ip", "method"], "content")
    rows = {(r.ip or "miss"): r.content for r in out.collect()}
    assert rows["parsed"] is None  # parse produced keys -> raw dropped
    assert rows["miss"] == "raw2"  # nothing parsed -> raw kept


def test_appender_sort_labels(spark):
    from loongcollector_spark.operators.enrich import appender

    df = spark.createDataFrame([("z#$#9|a#$#1",)], ["labels"])
    out = appender(
        df, "labels", "|m#$#5", sort_labels=True
    )
    assert out.first().labels == "a#$#1|m#$#5|z#$#9"
    # value without any k#$#v pair is left as appended
    df2 = spark.createDataFrame([("plain",)], ["labels"])
    out2 = appender(df2, "labels", "-suffix", sort_labels=True)
    assert out2.first().labels == "plain-suffix"


def test_registry_reaches_all_survey_operators():
    """Every SURVEY §2 processor implemented in the package must be
    reachable from a config-driven pipeline spec dict."""
    from loongcollector_spark.pipeline import PROCESSORS

    required = {
        "default", "spl", "parse_regex", "parse_grok", "parse_json", "parse_json_typed",
        "parse_delimiter", "parse_keyvalue", "parse_anchor",
        "parse_apsara", "split_log_string", "split_log_regex",
        "merge_multiline", "parse_timestamp", "add_fields", "add_tags",
        "rename", "string_replace", "desensitize", "md5",
        "base64_encode", "base64_decode", "pack_json", "appender",
        "drop", "drop_last_key", "pick", "encrypt", "decrypt",
        "log_to_metric", "cloud_meta", "parse_gotime", "parse_otel_trace",
        "parse_otel_metric", "parse_otel_log",
        "filter_regex", "filter_key_regex", "filter_expression",
        "fields_with_condition", "rate_limit", "stable_order",
        "pack_groups", "shard_repartition",
        # curation-stage processors (SURVEY §2.11 additions)
        "token_stats", "quality_signals", "quality_score",
        "language_id", "fingerprint", "pii_redact",
    }
    missing = required - set(PROCESSORS)
    assert missing == set()


def test_spec_driven_curation_stage(spark):
    """A config-driven spec can score + redact documents inline: the
    curation processors compose through Pipeline.run the
    same way the log processors do."""
    from loongcollector_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is fine here today"),
            (2, "mail me at bob@example.com !!! 1234 5678 9012 3456"),
        ],
        "doc_id long, text string",
    )
    spec = {
        "processors": [
            {"type": "pii_redact", "text_col": "text"},
            {
                "type": "quality_score",
                "weights": [0.3, 0.1, 1.5, 6.0, -8.0, -4.0],
                "bias": -2.0,
                "threshold": 0.5,
            },
            {"type": "fingerprint", "text_col": "text"},
        ]
    }
    out = {r.doc_id: r for r in Pipeline(spec).run(df).collect()}
    assert "<EMAIL>" in out[2].text and "<CC>" in out[2].text
    assert out[1].quality_keep is True and out[2].quality_keep is False
    assert len(out[1].fingerprint) == 32


def test_encrypt_cbc_reference_layout_roundtrip(spark):
    """CBC + PKCS padding + all-zero IV (the reference's defaults,
    processor_encrypt.go:52-55): deterministic bare ciphertext (no IV
    prefix), 16-byte-block length, decryptable back."""
    from loongcollector_spark.operators.enrich import decrypt_fields, encrypt_fields

    key = "00112233445566778899aabbccddeeff"
    df = spark.createDataFrame([("secret-value",), ("secret-value",)], ["v"])
    enc = encrypt_fields(df, ["v"], key)
    rows = [r.v for r in enc.collect()]
    assert rows[0] == rows[1]  # deterministic under fixed IV
    assert len(rows[0]) == 32  # 16-byte ciphertext block, no IV prefix
    dec = decrypt_fields(enc, ["v"], key)
    assert [r.v for r in dec.collect()] == ["secret-value"] * 2
    # random-IV mode: IV stays prepended, output varies per row
    enc2 = encrypt_fields(df, ["v"], key, iv_hex=None)
    rows2 = [r.v for r in enc2.collect()]
    assert len(rows2[0]) == 64  # 16B IV + 16B block
    dec2 = decrypt_fields(enc2, ["v"], key, iv_hex=None)
    assert [r.v for r in dec2.collect()] == ["secret-value"] * 2


def test_geoip_broadcast_range_join(spark):
    from loongcollector_spark.operators.geo import geoip_enrich, ip_to_long

    geo = spark.createDataFrame(
        [
            (3232235520, 3232301055, "beijing", "beijing", "china", "CN"),
            (167772160, 184549375, "sydney", "nsw", "australia", "AU"),
        ],
        ["ip_start", "ip_end", "city", "province", "country", "country_code"],
    )
    df = spark.createDataFrame(
        [("192.168.1.7",), ("10.0.0.1",), ("8.8.8.8",), ("not-an-ip",), ("300.1.2.3",)],
        ["ip"],
    )
    out = geoip_enrich(df, "ip", geo)
    m = {r.ip: (r["ip_city_"], r["ip_country_code_"]) for r in out.collect()}
    assert m["192.168.1.7"] == ("beijing", "CN")
    assert m["10.0.0.1"] == ("sydney", "AU")
    assert m["8.8.8.8"] == (None, None)      # no matching range
    assert m["not-an-ip"] == (None, None)    # malformed -> skipped
    assert m["300.1.2.3"] == (None, None)    # octet out of range
    # broadcast, not a shuffle of the fact side
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_geoip_from_pipeline_spec(spark):
    """geoip is reachable from a config-driven spec (dim-requiring
    special case like dict_map) — the examples/geoip_enrich_pipeline
    spec shape end-to-end."""
    import json
    import os

    from loongcollector_spark.pipeline import Pipeline

    spec_path = os.path.join(
        os.path.dirname(__file__), "..", "examples", "geoip_enrich_pipeline.json"
    )
    with open(spec_path) as fh:
        spec = json.load(fh)
    geo = spark.createDataFrame(
        [(3232235520, 3232301055, "beijing", "beijing", "china", "CN")],
        ["ip_start", "ip_end", "city", "province", "country", "country_code"],
    )
    df = spark.createDataFrame(
        [
            (
                '192.168.1.7 - - [01/Jan/2024:00:00:00 +0000] "GET /x HTTP/1.1" '
                '200 10 "-" "ua" logNo=1',
            ),
            ("unparseable",),
        ],
        ["text"],
    )
    routed = Pipeline(spec, dims={"geo_dim": geo}).run(df)
    rows = routed.collect()
    assert len(rows) == 1  # discard_unmatched drops the second row
    r = rows[0]
    assert r["ip_city_"] == "beijing"
    assert r["__cloud_instance_id__"] == "i-demo"
    assert r["sink"] == "sink_cn"


def test_cloud_meta_tags(spark):
    from loongcollector_spark.operators.geo import cloud_meta_tags

    df = spark.createDataFrame([(1,)], ["id"])
    out = cloud_meta_tags(
        df,
        {"__cloud_instance_id__": "id_xxx", "__cloud_instance_name__": "name_xxx"},
        rename={"__cloud_instance_name__": "instance"},
    ).first()
    assert out["__cloud_instance_id__"] == "id_xxx"
    assert out["instance"] == "name_xxx"


def test_encrypt_golden_matches_independent_aes():
    """The pinned ENCRYPT_GOLDEN ciphertexts (queries/processors.py —
    the driver oracle literals) regenerate from an INDEPENDENT AES
    implementation (pyca/cryptography), so the golden is not
    Spark-self-referential."""
    pytest.importorskip("cryptography")
    from cryptography.hazmat.primitives import padding
    from cryptography.hazmat.primitives.ciphers import (
        Cipher,
        algorithms,
        modes,
    )

    from loongcollector_spark.queries import ENCRYPT_GOLDEN, ENCRYPT_KEY_HEX

    key = bytes.fromhex(ENCRYPT_KEY_HEX)
    for _pid, plain, expected_hex in ENCRYPT_GOLDEN:
        padder = padding.PKCS7(128).padder()
        data = padder.update(plain.encode()) + padder.finalize()
        enc = Cipher(algorithms.AES(key), modes.CBC(bytes(16))).encryptor()
        ct = enc.update(data) + enc.finalize()
        assert ct.hex().upper() == expected_hex


def test_desensitize_md5_native_agrees_with_pandas_twin(spark):
    """The JVM split/extract_all/interleave formulation of md5
    desensitize must agree exactly with the re.sub-callback pandas
    twin on edge shapes: leading match, trailing match, adjacent
    matches, no match, NULL."""
    rows = [
        ("pw=a tail",),          # leading match
        ("head pw=b",),          # trailing match
        ("pw=a pw=b",),          # two matches
        ("pw=apw=b",),           # adjacent-ish
        ("no secrets",),         # no match
        (None,),                 # NULL passthrough
        ("",),                   # empty string
    ]
    df = spark.createDataFrame(rows, "text string")
    nat = [
        r.text
        for r in enrich.desensitize(
            df, "text", r"pw=\w+", method="md5"
        ).collect()
    ]
    pdn = [
        r.text
        for r in enrich._desensitize_md5_resub(df, "text", r"pw=\w+").collect()
    ]
    assert nat == pdn
    import hashlib

    h = hashlib.md5(b"pw=a").hexdigest()
    assert nat[0] == f"{h} tail"


def test_example_curation_stage_spec_runs(spark):
    """examples/curation_stage_pipeline.json is a valid spec: redact →
    score → langid → fingerprint → route on the keep flag."""
    import json
    import os

    from loongcollector_spark.pipeline import Pipeline

    spec_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples",
        "curation_stage_pipeline.json",
    )
    spec = json.load(open(spec_path))
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is a fine day today"),
            (2, "mail bob@example.com !!! 0000 1111 2222 3333 ####"),
        ],
        "doc_id long, text string",
    )
    routed = Pipeline(spec).run(df)
    out = {r.doc_id: r for r in routed.collect()}
    assert out[1].sink == "sink_kept"
    assert out[2].sink == "sink_dropped"
    assert "<EMAIL>" in out[2].text and "<CC>" in out[2].text
    assert out[1].lang_pred == "en"
    assert len(out[1].fingerprint) == 32
