"""OTTL converter registry parity tests — the analog of the OTTL e2e
statement corpus (pkg/ottl/e2e/e2e_test.go): each function evaluated
against the canonical one-row fixture (FIXTURES.md F2)."""

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.functions import FUNCTIONS, call


@pytest.fixture(scope="module")
def fixture_df(spark):
    return spark.createDataFrame(
        [("operationA", "hello world", "4111111111111111",
          {"http.method": "get", "http.path": "/health"},
          ["b", "a", "c"], 123456789,
          "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
          "(KHTML, like Gecko) Chrome/91.0.4472.124 Safari/537.36")],
        "body string, text string, card string, attributes map<string,string>, "
        "arr array<string>, num long, ua string")


def one(df, expr):
    return df.select(expr.alias("out")).first()["out"]


def test_string_family(spark, fixture_df):
    df = fixture_df
    assert one(df, call("ToUpperCase", F.col("body"))) == "OPERATIONA"
    assert one(df, call("ToSnakeCase", F.lit("someCamelCase"))) == "some_camel_case"
    assert one(df, call("ToCamelCase", F.lit("some_snake_case"))) == "SomeSnakeCase"
    assert one(df, call("Split", F.col("text"), " ")) == ["hello", "world"]
    assert one(df, call("Substring", F.col("body"), 0, 9)) == "operation"
    assert one(df, call("Concat", [F.col("body"), F.lit("X")], "-")) == "operationA-X"
    assert one(df, call("HasPrefix", F.col("body"), "oper")) is True
    assert one(df, call("Len", F.col("body"))) == 10
    assert one(df, call("IsMatch", F.col("body"), r"^operation")) is True
    assert one(df, call("Format", "%s=%d", [F.lit("x"), F.lit(7)])) == "x=7"


def test_hash_family(spark, fixture_df):
    df = fixture_df
    import hashlib
    assert one(df, call("SHA256", F.col("body"))) == hashlib.sha256(b"operationA").hexdigest()
    assert one(df, call("MD5", F.col("body"))) == hashlib.md5(b"operationA").hexdigest()
    assert one(df, call("SHA1", F.col("body"))) == hashlib.sha1(b"operationA").hexdigest()
    assert one(df, call("Hex", 255)) == "00000000000000ff"  # Go: 8-byte BE hex
    assert one(df, call("Base64Decode", F.lit("aGVsbG8="))) == b"hello"
    assert len(one(df, call("UUID"))) == 36


def test_exact_hash_converters(spark, fixture_df):
    """Byte-parity with the reference converters' test vectors
    (func_fnv_test.go, func_murmur3_hash_test.go,
    func_murmur3_hash128_test.go)."""
    df = fixture_df
    # reference vectors via the Spark UDF path
    assert one(df, call("FNV", F.lit("hello world"))) == 8618312879776256743
    assert one(df, call("FNV", F.lit(""))) == -3750763034362895579
    assert one(df, call("Murmur3Hash", F.lit("Hello World"))) == "ce837619"
    assert one(df, call("Murmur3Hash", F.lit(""))) == "00000000"
    assert one(df, call("Murmur3Hash128", F.lit("Hello World"))) == \
        "dbc2a0c1ab26631a27b4c09fcf1fe683"
    assert one(df, call("Murmur3Hash128", F.lit(""))) == \
        "00000000000000000000000000000000"
    # scalar implementations directly (multi-block + tail coverage)
    from opentelemetry_collector_contrib_spark.functions.hashes import (
        fnv1a_64, murmur3_32, murmur3_x64_128)
    assert fnv1a_64(b"") == 0xCBF29CE484222325
    long = b"The quick brown fox jumps over the lazy dog" * 3
    h1, h2 = murmur3_x64_128(long)
    assert 0 <= h1 < (1 << 64) and 0 <= h2 < (1 << 64)
    assert murmur3_x64_128(long) == murmur3_x64_128(bytes(long))
    assert murmur3_32(b"abc") != murmur3_32(b"abd")


def test_exact_hash_converters_null_in_batch(spark):
    """A null in the same Arrow batch as the reference vectors hashes
    to null and leaves every other row exact (a float64 detour once
    rounded FNV's int64 results whenever a batch held a null)."""
    df = spark.createDataFrame(
        [("hello world",), (None,), ("",), ("Hello World",)],
        "v string").coalesce(1)
    rows = df.select(
        "v", call("FNV", F.col("v")).alias("fnv"),
        call("Murmur3Hash", F.col("v")).alias("m32"),
        call("Murmur3Hash128", F.col("v")).alias("m128")).collect()
    got = {r["v"]: (r["fnv"], r["m32"], r["m128"]) for r in rows}
    assert got == {
        "hello world": (8618312879776256743, "0f8f925e",
                        "0e617feb46603f53b163eb607d4697ab"),
        None: (None, None, None),
        "": (-3750763034362895579, "00000000", "0" * 32),
        "Hello World": (4420528118743043111, "ce837619",
                        "dbc2a0c1ab26631a27b4c09fcf1fe683"),
    }


def test_time_family(spark, fixture_df):
    df = fixture_df
    ts = one(df, call("Time", F.lit("2024-03-01 12:30:45"), "%Y-%m-%d %H:%M:%S"))
    assert str(ts) == "2024-03-01 12:30:45"
    assert one(df, call("FormatTime", F.lit(ts), "%Y/%m/%d")) == "2024/03/01"
    assert one(df, call("UnixSeconds", F.lit(ts))) == 1709296245
    assert one(df, call("UnixNano", F.lit(ts))) == 1709296245 * 10**9
    assert str(one(df, call("TruncateTime", F.lit(ts), "hour"))) == "2024-03-01 12:00:00"
    assert one(df, call("Year", F.lit(ts))) == 2024
    assert one(df, call("Weekday", F.lit(ts))) == 5  # 2024-03-01 is Friday; Go Sunday=0


def test_math_and_type_family(spark, fixture_df):
    df = fixture_df
    assert one(df, call("Double", F.lit("1.5"))) == 1.5
    assert one(df, call("Int", F.lit("42"))) == 42
    assert one(df, call("ParseInt", F.lit("ff"), 16)) == 255
    assert one(df, call("IsDouble", F.lit("abc"))) is False
    assert one(df, call("IsInt", F.lit("7"))) is True
    assert abs(one(df, call("Log", F.lit(2.718281828))) - 1.0) < 1e-6


def test_map_array_family(spark, fixture_df):
    df = fixture_df
    assert sorted(one(df, call("Keys", F.col("attributes")))) == ["http.method", "http.path"]
    assert sorted(one(df, call("Values", F.col("attributes")))) == ["/health", "get"]
    assert one(df, call("Sort", F.col("arr"))) == ["a", "b", "c"]
    assert one(df, call("Sort", F.col("arr"), "desc")) == ["c", "b", "a"]
    assert one(df, call("Append", F.col("arr"), F.lit("d")))[-1] == "d"
    assert one(df, call("ContainsValue", F.col("arr"), "b")) is True
    # SliceToMap (func_slice_to_map.go): slice of maps keyed by the
    # key-path value; flat-model input is JSON-array text
    things = F.lit('[{"name":"foo","value":2},{"name":"bar","value":5}]')
    assert one(df, call("SliceToMap", things, ["name"], ["value"])) == \
        {"foo": "2", "bar": "5"}
    assert one(df, call("SliceToMap", things)) == \
        {"0": '{"name":"foo","value":2}', "1": '{"name":"bar","value":5}'}


def test_telemetry_and_misc(spark, fixture_df):
    df = fixture_df
    assert one(df, call("TraceID", F.lit("0102030405060708090a0b0c0d0e0f10"))) == \
        "0102030405060708090a0b0c0d0e0f10"  # flat model: lowercase hex string
    assert one(df, call("IsValidLuhn", F.col("card"))) is True
    assert one(df, call("IsValidLuhn", F.lit("4111111111111112"))) is False
    url_parts = one(df, call("URL", F.lit("https://h.example.com:81/p?a=1")))
    assert url_parts["host"] == "h.example.com"
    assert url_parts["port"] == "81"
    ua = one(df, call("UserAgent", F.col("ua")))
    assert ua["user_agent.name"] == "Chrome"
    assert ua["user_agent.version"].startswith("91.")
    assert ua["os.name"] == "Windows"
    assert ua["os.version"] == "10"
    caps = one(df, call("ExtractPatterns", F.col("text"),
                        r"(?P<first>\w+) (?P<second>\w+)"))
    assert caps == {"first": "hello", "second": "world"}


def test_user_agent_reference_vectors(spark):
    """ALL eleven table cases of the reference's
    pkg/ottl/ottlfuncs/func_useragent_test.go, byte-for-byte: family
    naming (Chrome Mobile / Mobile Safari), uap-go ToVersionString
    3-segment truncation, os.version presence/absence, and the
    lowercase-linux / versioned-Linux OS rows."""
    from opentelemetry_collector_contrib_spark.functions import call
    cases = [
        ("Mozilla/5.0 (Linux; Android 4.1.1; SPH-L710 Build/JRO03L) "
         "AppleWebKit/535.19 (KHTML, like Gecko) Chrome/18.0.1025.166 "
         "Mobile Safari/535.19",
         {"user_agent.name": "Chrome Mobile",
          "user_agent.version": "18.0.1025",
          "os.name": "Android", "os.version": "4.1.1"}),
        ("Mozilla/5.0 (X11; Linux x86_64; rv:126.0) Gecko/20100101 "
         "Firefox/126.0",
         {"user_agent.name": "Firefox", "user_agent.version": "126.0",
          "os.name": "Linux"}),
        ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 "
         "(KHTML, like Gecko) Chrome/51.0.2704.103 Safari/537.36",
         {"user_agent.name": "Chrome", "user_agent.version": "51.0.2704",
          "os.name": "Linux"}),
        ("Mozilla/5.0 (iPhone; CPU iPhone OS 13_5_1 like Mac OS X) "
         "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/13.1.1 "
         "Mobile/15E148 Safari/604.1",
         {"user_agent.name": "Mobile Safari",
          "user_agent.version": "13.1.1",
          "os.name": "iOS", "os.version": "13.5.1"}),
        ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
         "(KHTML, like Gecko) Chrome/91.0.4472.124 Safari/537.36 "
         "Edg/91.0.864.59",
         {"user_agent.name": "Edge", "user_agent.version": "91.0.864",
          "os.name": "Windows", "os.version": "10"}),
        ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 "
         "(KHTML, like Gecko) Chrome/51.0.2704.106 Safari/537.36 "
         "OPR/38.0.2220.41",
         {"user_agent.name": "Opera", "user_agent.version": "38.0.2220",
          "os.name": "Linux"}),
        ("curl/7.81.0",
         {"user_agent.name": "curl", "user_agent.version": "7.81.0",
          "os.name": "Other"}),
        ("foobar/1.2.3 (foo; bar baz)",
         {"user_agent.name": "Other", "user_agent.version": "",
          "os.name": "Other"}),
        ("OpenTelemetry Collector Contrib/0.106.1 (linux/amd64)",
         {"user_agent.name": "Other", "user_agent.version": "",
          "os.name": "Linux"}),
        ("ViaFree-DK/3.8.3 (com.MTGx.ViaFree.dk; build:7383; iOS 12.1.0) "
         "Alamofire/4.7.0",
         {"user_agent.name": "ViaFree", "user_agent.version": "3.8.3",
          "os.name": "iOS", "os.version": "12.1.0"}),
        ("ibm-cos-sdk-java/2.3.0 Linux/4.9.0-8-amd64 "
         "Java_HotSpot(TM)_64-Bit_Server_VM/9.0.4+11/9.0.4'",
         {"user_agent.name": "ibm-cos-sdk-java",
          "user_agent.version": "2.3.0",
          "os.name": "Linux", "os.version": "4.9.0"}),
    ]
    df = spark.createDataFrame([(ua,) for ua, _ in cases], "ua string")
    rows = df.select("ua",
                     call("UserAgent", F.col("ua")).alias("m")).collect()
    by_ua = {r["ua"]: dict(r["m"]) for r in rows}
    for ua, want in cases:
        got = by_ua[ua]
        assert got.pop("user_agent.original") == ua
        assert got == want, f"{ua}: {got} != {want}"


def test_user_agent_long_tail(spark):
    """r4 family widening (ottlfuncs/func_useragent.go via ua-parser):
    AI/crawl bots, fork browsers, IE11's Trident form (version from
    rv:), and SDK http clients — first-match priority keeps embedded
    Chrome/Safari tokens from shadowing the real family."""
    from opentelemetry_collector_contrib_spark.functions import call
    vectors = [
        ("Mozilla/5.0 AppleWebKit/537.36 (KHTML, like Gecko; compatible; "
         "GPTBot/1.0; +https://openai.com/gptbot)", "GPTBot", "1.0"),
        ("CCBot/2.0 (https://commoncrawl.org/faq/)", "CCBot", "2.0"),
        ("Mozilla/5.0 (Linux; Android 12) Chrome/100.0.4896.127 "
         "Safari/537.36 Brave/100", "Brave", "100"),
        ("Mozilla/5.0 (Windows NT 10.0; Trident/7.0; rv:11.0) like Gecko",
         "IE", "11.0"),
        ("Mozilla/4.0 (compatible; MSIE 8.0; Windows NT 6.1)", "IE", "8.0"),
        ("PostmanRuntime/7.36.0", "PostmanRuntime", "7.36.0"),
        ("Apache-HttpClient/4.5.13 (Java/11.0.19)", "Apache-HttpClient",
         "4.5.13"),
        ("Java/1.8.0_361", "Java", "1.8.0"),
        ("Mozilla/5.0 (Macintosh) PaleMoon/33.0.1", "Pale Moon", "33.0.1"),
        ("Slackbot-LinkExpanding 1.0 (+https://api.slack.com/robots)",
         "Slackbot", ""),
    ]
    df = spark.createDataFrame([(v[0],) for v in vectors], "ua string")
    from pyspark.sql import functions as F
    rows = df.select(call("UserAgent", F.col("ua")).alias("m")).collect()
    got = [(r["m"]["user_agent.name"], r["m"]["user_agent.version"])
           for r in rows]
    assert got == [(n, v) for _, n, v in vectors]


def test_parse_family(spark, fixture_df):
    df = fixture_df
    assert one(df, call("ParseJSON", F.lit('{"a": "1"}'))) == {"a": "1"}
    assert one(df, call("ParseKeyValue", F.lit("a=1 b=2"))) == {"a": "1", "b": "2"}
    csv = one(df, call("ParseCSV", F.lit("x,y"), "c1,c2"))
    assert csv == {"c1": "x", "c2": "y"}
    csv2 = one(df, call("ParseCSV", F.lit("x;y"), "c1|c2", ";",
                        headerDelimiter="|", mode="strict"))
    assert csv2 == {"c1": "x", "c2": "y"}


def test_registry_extensible(spark, fixture_df):
    from opentelemetry_collector_contrib_spark.functions import register
    register("Custom_Double", lambda c: c * 2)
    assert one(fixture_df, call("Custom_Double", F.col("num"))) == 246913578
    with pytest.raises(KeyError):
        call("NoSuchFn")
    assert len(FUNCTIONS) > 70


def test_duration_family(spark, fixture_df):
    df = fixture_df
    # literal durations fold to python floats on the driver
    assert abs(call("Duration", "1h30m") - 5400.0) < 1e-9
    assert abs(call("Duration", "2.5s") - 2.5) < 1e-9
    assert abs(call("Duration", "150ms") - 0.15) < 1e-9
    assert abs(call("Duration", "1h2m3s") - 3723.0) < 1e-9
    # Column durations parse natively
    assert abs(one(df, call("Duration", F.lit("1h30m"))) - 5400.0) < 1e-9
    d = call("Duration", "90m")
    assert abs(one(df, call("Hours", d)) - 1.5) < 1e-9
    assert abs(one(df, call("Minutes", d)) - 90.0) < 1e-9
    assert abs(one(df, call("Milliseconds", call("Duration", "2s"))) - 2000.0) < 1e-9


def test_get_xml_and_uuidv7(spark, fixture_df):
    import re
    df = fixture_df
    got = one(df, call("GetXML", F.lit("<a><b>x</b><b>y</b></a>"), "//b/text()"))
    assert got == "xy"
    u7 = one(df, call("UUIDv7"))
    assert re.fullmatch(r"[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}", u7)
