"""Golden-file parity against the REFERENCE'S OWN geoip processor
testdata (processor/geoipprocessor/testdata/<case>/): all eight
TestProcessor scenarios run through geoip_enrich with the test
harness's mocked provider (1.2.3.4 -> the Boxford attribute set,
geoip_processor_test.go:219-236) and must equal the committed
output-logs goldens — the metrics/traces goldens encode the identical
resource transformation. Covers the attribute-walk semantics: missing
keys, parse failures and unspecified addresses skip silently; only
configured keys are consulted; record vs resource context."""

import os

import pytest
import yaml

from tests.reference_testdata import needs_testdata

TESTDATA = "/root/reference/processor/geoipprocessor/testdata"

# the mocked provider's attribute set for 1.2.3.4 (values rendered in
# the flat model's string attribute encoding)
BOXFORD = {
    "geo.city_name": "Boxford",
    "geo.continent.code": "EU",
    "geo.continent_name": "Europe",
    "geo.country.iso_code": "GB",
    "geo.country_name": "United Kingdom",
    "geo.timezone": "Europe/London",
    "geo.region.iso_code": "WBK",
    "geo.region_name": "West Berkshire",
    "geo.postal_code": "OX1",
    "geo.location.lat": "1234",
    "geo.location.lon": "5678",
}

CASES = {
    "resource_no_source_address": ("resource", None),
    "resource_source_address": ("resource", None),
    "resource_source_address_geo_not_found": ("resource", None),
    "resource_unspecified_address": ("resource", None),
    "resource_invalid_address": ("resource", None),
    "record_source_address": ("record", None),
    "record_client_address": ("record", None),
    "record_custom_address": ("record", ("source.address", "client.address",
                                         "custom.address")),
}


def _attrs(attr_list):
    out = {}
    for kv in attr_list or []:
        v = kv["value"]
        out[kv["key"]] = (v["stringValue"] if "stringValue" in v
                          else str(list(v.values())[0]))
    return out


def load(case, name):
    with open(os.path.join(TESTDATA, case, name)) as f:
        doc = yaml.safe_load(f)
    rows = []
    for rl in doc["resourceLogs"]:
        res = _attrs(rl.get("resource", {}).get("attributes"))
        for sl in rl["scopeLogs"]:
            for lr in sl["logRecords"]:
                rows.append((res, _attrs(lr.get("attributes")),
                             lr["body"]["stringValue"]))
    return rows


def canon(rows):
    return sorted(str((tuple(sorted(dict(r[0]).items())),
                       tuple(sorted(dict(r[1]).items())), r[2]))
                  for r in rows)


def test_malformed_ipv6_falls_through_to_next_attribute(spark):
    """ADVICE r3: values net.ParseIP rejects (':::', '12345::1', '1:2')
    must NOT be treated as valid — a malformed first attribute would
    otherwise shadow a genuinely valid IP in a later configured
    attribute that the reference's continue-on-error walk enriches
    from."""
    from opentelemetry_collector_contrib_spark.operators.enrich import (
        geoip_enrich)
    geo = spark.createDataFrame([("1.2.3.4", BOXFORD),
                                 ("2001:db8::1", {"geo.city_name": "V6"})],
                                "ip string, geo map<string,string>")
    df = spark.createDataFrame(
        [({"client.address": bad, "source.address": "1.2.3.4"}, {}, str(i))
         for i, bad in enumerate([":::", "12345::1", "1:2", "1:2:3:4:5:6:7:8:9",
                                  "::x", "abcd:"])]
        + [({"client.address": "2001:db8::1"}, {}, "v6ok")],
        "resource map<string,string>, attributes map<string,string>, "
        "body string")
    out = {r["body"]: dict(r["resource"])
           for r in geoip_enrich(df, geo, context="resource").collect()}
    for i in range(6):  # malformed first value -> walk continues to v4
        assert out[str(i)].get("geo.city_name") == "Boxford", out[str(i)]
    # well-formed compressed IPv6 still accepted
    assert out["v6ok"].get("geo.city_name") == "V6"


@needs_testdata(TESTDATA)
@pytest.mark.parametrize("case", sorted(CASES))
def test_geoip_golden(spark, case):
    from opentelemetry_collector_contrib_spark.operators.enrich import (
        geoip_enrich)
    context, attrs_cfg = CASES[case]
    # geo_not_found: the provider knows nothing (ErrNoMetadataFound)
    geo_rows = ([] if case.endswith("geo_not_found")
                else [("1.2.3.4", BOXFORD)])
    geo = spark.createDataFrame(geo_rows or [("0.0.0.1", {})],
                                "ip string, geo map<string,string>")
    if not geo_rows:
        geo = geo.filter("ip = 'none'")
    df = spark.createDataFrame(
        load(case, "input-logs.yaml"),
        "resource map<string,string>, attributes map<string,string>, "
        "body string")
    kwargs = {"context": context}
    if attrs_cfg:
        kwargs["attributes"] = attrs_cfg
    out = geoip_enrich(df, geo, **kwargs)
    got = canon([(dict(r["resource"] or {}), dict(r["attributes"] or {}),
                  r["body"]) for r in out.collect()])
    assert got == canon(load(case, "output-logs.yaml")), case
