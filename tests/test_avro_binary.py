"""Byte-level Avro serde proof (VERDICT r3 §Next #6).

The oracle is the Apache Avro JAVA library that ships inside Spark's
JVM (avro-1.12.1.jar): for each contract we encode the same record
with (a) the engine's pure-Python codec and (b) GenericDatumWriter +
binaryEncoder via py4j, and require byte-for-byte equality. Decode is
proven by round-trip plus decoding the JAVA-produced bytes with the
Python codec. Distributed paths (encode_df/decode_df, mapInArrow)
and Confluent wire framing are exercised on real table data.
"""

from __future__ import annotations

import json
import math
import struct

import pytest

from ingest_spark.schemas.avro_binary import (
    confluent_frame,
    decode_df,
    decode_record,
    encode_df,
    encode_record,
    read_container,
    scan_container_dir,
    write_container,
    write_container_dir,
)
from ingest_spark.schemas.avsc import (
    confluent_schema_id,
    normalize_avsc,
    strip_confluent_header,
)
from ingest_spark.schemas.contracts import CONTRACTS

# Representative record per contract. Values chosen to exercise:
# float rounding (0.1 is inexact in binary32), negative zigzag ints,
# None through a [null, T] union, and the Bil54 §1.4 repaired field.
SAMPLES = {
    "ConsumptionIndustry": {
        "HourUTC": "2024-01-15T07:00:00",
        "HourDK": "2024-01-15T08:00:00",
        "MunicipalityNo": "101",
        "Branche": "Erhverv",
        "ConsumptionkWh": 0.1,
    },
    "ProductionConsumptionSettlement": {
        **{n: None for n in [f["name"] for f in CONTRACTS["ProductionConsumptionSettlement"]["fields"]]},
        "HourUTC": "2024-01-15T07:00:00",
        "PriceArea": "DK1",
        "CentralPowerMWh": 1234.5,
        "GrossConsumptionMWh": -42.25,
    },
    "Bil54": {
        "region": "Hovedstaden",
        "type_of_vehicle": "Personbil",
        "terms_of_use": "Privat",
        "propellant": "El",
        "content_label": None,
        "unit": "antal",
        "updated": "2024-01-15T07:00:00.000",
        "time": "2024M01",
        "value": -7,
        "label": "Bil54",
        "source": "DST",
        "documentation": None,  # the §1.4 repaired null-default field
        "table_id": "BIL54",
        "decimals": 0,
    },
    "Bil52": {
        "time": "2018M01",
        "value": 2147483647,
        "ownership": "Privat",
        "propellant": "Benzin",
        "unit": "antal",
        "label": "Bil52",
    },
}

NESTED = {
    "type": "record",
    "name": "Nested",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": ["null", "double"]}},
        {
            "name": "inner",
            "type": {
                "type": "record",
                "name": "Inner",
                "fields": [
                    {"name": "flag", "type": "boolean"},
                    {"name": "blob", "type": "bytes"},
                ],
            },
        },
    ],
}
NESTED_SAMPLE = {
    "id": -(2**40),
    "tags": ["a", "ø-unicode", ""],
    "props": {"x": 1.5, "y": None},
    "inner": {"flag": True, "blob": b"\x00\xffraw"},
}


def _avro_json(t, v):
    """Avro's JSON encoding wraps non-null union values as
    {"branch": value} — build it so the JVM JsonDecoder accepts the
    same logical record the Python codec encodes."""
    if isinstance(t, list):
        if v is None:
            return None
        from ingest_spark.schemas.avro_binary import _value_matches

        branch = next(
            (x for x in t if x != "null" and _value_matches(x, v)),
            next(x for x in t if x != "null"),
        )
        name = branch if isinstance(branch, str) else branch.get("name", branch["type"])
        return {name: _avro_json(branch, v)}
    if isinstance(t, dict):
        kind = t["type"]
        if kind == "record":
            return {
                f["name"]: _avro_json(f["type"], (v or {}).get(f["name"]))
                for f in t["fields"]
            }
        if kind == "array":
            return [_avro_json(t["items"], x) for x in v]
        if kind == "map":
            return {k: _avro_json(t["values"], mv) for k, mv in v.items()}
        t = kind
    if t in ("bytes", "fixed"):
        return v.decode("latin-1")  # avro JSON spec: ISO-8859-1 string
    return v


def _jvm_encode(spark, schema: dict, record: dict) -> bytes:
    jvm = spark.sparkContext._jvm
    jschema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    reader = jvm.org.apache.avro.generic.GenericDatumReader(jschema)
    record_json = json.dumps(
        _avro_json({"type": "record", "fields": schema["fields"]}, record)
    )
    decoder = jvm.org.apache.avro.io.DecoderFactory.get().jsonDecoder(
        jschema, record_json
    )
    rec = reader.read(None, decoder)
    writer = jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    baos = jvm.java.io.ByteArrayOutputStream()
    encoder = jvm.org.apache.avro.io.EncoderFactory.get().binaryEncoder(baos, None)
    writer.write(rec, encoder)
    encoder.flush()
    return bytes(baos.toByteArray())


def _approx_equal(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-6) or (math.isnan(a) and math.isnan(b))
    return a == b


@pytest.mark.parametrize("name", sorted(SAMPLES))
def test_byte_parity_with_java_avro(spark, name):
    schema = normalize_avsc(CONTRACTS[name])
    record = SAMPLES[name]
    ours = encode_record(schema, record)
    theirs = _jvm_encode(spark, schema, record)
    assert ours == theirs, f"{name}: python codec diverges from Apache Avro Java"
    # and the Java-produced bytes decode with the Python codec
    back = decode_record(schema, theirs)
    for k, v in record.items():
        if isinstance(v, float):
            # float fields pass through binary32 — compare at that width
            assert _approx_equal(back[k], struct.unpack("<f", struct.pack("<f", v))[0]) or _approx_equal(back[k], v)
        else:
            assert back[k] == v, k


def test_byte_parity_nested_array_map_record(spark):
    ours = encode_record(NESTED, NESTED_SAMPLE)
    theirs = _jvm_encode(spark, NESTED, NESTED_SAMPLE)
    assert ours == theirs
    assert decode_record(NESTED, ours) == NESTED_SAMPLE


def test_round_trip_all_contracts():
    for name, record in SAMPLES.items():
        schema = CONTRACTS[name]  # raw (§1.4 quirks included) — codec normalizes
        back = decode_record(schema, encode_record(schema, record))
        for k, v in record.items():
            if isinstance(v, float):
                assert _approx_equal(
                    back[k], struct.unpack("<f", struct.pack("<f", v))[0]
                ) or _approx_equal(back[k], v)
            else:
                assert back[k] == v, (name, k)


def test_decode_rejects_trailing_bytes():
    schema = CONTRACTS["Bil52"]
    body = encode_record(schema, SAMPLES["Bil52"])
    with pytest.raises(ValueError, match="trailing"):
        decode_record(schema, body + b"\x00")


def test_decode_rejects_negative_lengths():
    """A corrupt varint length must raise, not walk pos backwards
    (ADVICE r4): zigzag(-5) = 9, so b'\\x09' as a string length is -5."""
    schema = {
        "type": "record",
        "name": "S",
        "fields": [{"name": "s", "type": "string"}],
    }
    with pytest.raises(ValueError, match="negative string length"):
        decode_record(schema, b"\x09")
    schema_b = {
        "type": "record",
        "name": "B",
        "fields": [{"name": "b", "type": "bytes"}],
    }
    with pytest.raises(ValueError, match="negative bytes length"):
        decode_record(schema_b, b"\x09")


def test_decode_df_confluent_rejects_unframed(spark):
    """confluent=True must validate the 0x00 magic byte instead of
    blindly slicing 5 bytes off an unframed payload (ADVICE r4)."""
    schema = CONTRACTS["ConsumptionIndustry"]
    body = encode_record(
        schema,
        dict(zip(
            ["HourUTC", "HourDK", "MunicipalityNo", "Branche", "ConsumptionkWh"],
            ("2024-01-15T07:00:00", "2024-01-15T08:00:00", "101", "A", 1.5),
        )),
    )
    assert body[0] != 0  # first field is a string: length prefix > 0
    df = spark.createDataFrame([(body,)], "value binary")
    with pytest.raises(Exception, match="Confluent"):
        decode_df(df, schema, confluent=True).collect()


def test_encode_df_handles_array_fields(spark):
    """encode_df's null guard must be scalar-safe: list-valued cells
    made pd.isna raise 'truth value of an array is ambiguous'
    (ADVICE r4)."""
    schema = {
        "type": "record",
        "name": "WithArray",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "xs", "type": {"type": "array", "items": "long"}},
        ],
    }
    df = spark.createDataFrame(
        [(1, [10, 20, 30]), (2, [])], "id long, xs array<long>"
    )
    decoded = decode_df(encode_df(df, schema), schema)
    back = {r["id"]: list(r["xs"]) for r in decoded.collect()}
    assert back == {1: [10, 20, 30], 2: []}


def test_distributed_encode_decode_with_confluent_framing(spark):
    schema = CONTRACTS["ConsumptionIndustry"]
    rows = [
        ("2024-01-15T07:00:00", "2024-01-15T08:00:00", "101", "A", 1.5),
        ("2024-01-15T08:00:00", "2024-01-15T09:00:00", "155", "B", 2.25),
    ]
    df = spark.createDataFrame(
        rows, ["HourUTC", "HourDK", "MunicipalityNo", "Branche", "ConsumptionkWh"]
    )
    framed = encode_df(df, schema, schema_id=42)
    got = framed.collect()
    assert all(bytes(r["value"])[0] == 0 for r in got)  # magic byte
    ids = framed.select(confluent_schema_id("value")).collect()
    assert {r["schema_id"] for r in ids} == {42}

    # strip via the Column helper, then decode the plain body
    stripped = framed.select(strip_confluent_header("value").alias("value"))
    decoded = decode_df(stripped, schema)
    back = {r["MunicipalityNo"]: r for r in decoded.collect()}
    assert back["101"]["ConsumptionkWh"] == 1.5
    assert back["155"]["Branche"] == "B"

    # and the one-shot confluent=True path agrees
    decoded2 = decode_df(framed.select("value"), schema, confluent=True)
    assert sorted(map(str, decoded2.collect())) == sorted(map(str, decoded.collect()))

    # driver-side framing helper agrees with the distributed path
    one = encode_record(schema, dict(zip(
        ["HourUTC", "HourDK", "MunicipalityNo", "Branche", "ConsumptionkWh"],
        rows[0],
    )))
    assert confluent_frame(one, 42) in {bytes(r["value"]) for r in got}


def test_container_round_trip_and_java_datafilereader(spark, tmp_path):
    """The container file must be readable by the canonical Apache
    Avro Java DataFileReader — interop proof, not just self-consistency
    (the reference's consumer/sink disagree on framing, SURVEY §1.4;
    this asserts ours IS the standard at-rest framing)."""
    schema = normalize_avsc(CONTRACTS["ConsumptionIndustry"])
    records = [
        {
            "HourUTC": f"2024-01-15T{h:02d}:00:00",
            "HourDK": f"2024-01-15T{h + 1:02d}:00:00",
            "MunicipalityNo": "101",
            "Branche": "A",
            "ConsumptionkWh": h + 0.5,
        }
        for h in range(5)
    ]
    blob = write_container(schema, records)

    back_schema, back = read_container(blob)
    assert back_schema["name"] == "ConsumptionIndustry"
    assert [r["HourUTC"] for r in back] == [r["HourUTC"] for r in records]

    f = tmp_path / "sample.avro"
    f.write_bytes(blob)
    jvm = spark.sparkContext._jvm
    jfile = jvm.java.io.File(str(f))
    reader = jvm.org.apache.avro.file.DataFileReader(
        jfile, jvm.org.apache.avro.generic.GenericDatumReader()
    )
    assert json.loads(reader.getSchema().toString())["name"] == "ConsumptionIndustry"
    got = []
    while reader.hasNext():
        got.append(reader.next())
    reader.close()
    assert len(got) == 5
    assert str(got[0].get("HourUTC")) == "2024-01-15T00:00:00"
    assert float(str(got[4].get("ConsumptionkWh"))) == 4.5


def test_container_dir_write_scan_round_trip(spark, tmp_path):
    schema = CONTRACTS["Bil52"]
    df = spark.createDataFrame(
        [(f"2018M{m:02d}", m * 10, "Privat", "Benzin", "antal", "Bil52") for m in range(1, 13)],
        ["time", "value", "ownership", "propellant", "unit", "label"],
    ).repartition(3)
    path = str(tmp_path / "avro_sink")
    n_files = write_container_dir(df, schema, path)
    assert 1 <= n_files <= 3

    back = scan_container_dir(spark, path, schema)
    assert [f.name for f in back.schema.fields] == [
        "time", "value", "ownership", "propellant", "unit", "label",
    ]
    rows = {r["time"]: r["value"] for r in back.collect()}
    assert rows == {f"2018M{m:02d}": m * 10 for m in range(1, 13)}


def test_container_detects_corruption():
    schema = CONTRACTS["Bil52"]
    blob = bytearray(write_container(schema, [SAMPLES["Bil52"]]))
    blob[-1] ^= 0xFF  # flip a sync-marker byte
    with pytest.raises(ValueError, match="sync"):
        read_container(bytes(blob))
    with pytest.raises(ValueError, match="magic"):
        read_container(b"PAR1" + bytes(blob))


def test_streaming_avro_container_sink(spark, tmp_path):
    """File stream -> Avro container sink (foreachBatch) -> scan back:
    the reference's Kafka->HDFS-Avro landing path end to end."""
    import json as _json

    from pyspark.sql import types as T

    from ingest_spark.streaming.pipeline import (
        read_file_stream,
        write_stream_avro_containers,
    )

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"time": f"2018M{m:02d}", "value": m, "ownership": "Privat",
         "propellant": "El", "unit": "antal", "label": "Bil52"}
        for m in range(1, 7)
    ]
    (src / "feed.json").write_text("\n".join(_json.dumps(r) for r in rows))
    schema = T.StructType([
        T.StructField("time", T.StringType()),
        T.StructField("value", T.IntegerType()),
        T.StructField("ownership", T.StringType()),
        T.StructField("propellant", T.StringType()),
        T.StructField("unit", T.StringType()),
        T.StructField("label", T.StringType()),
    ])
    stream = read_file_stream(spark, str(src), schema, fmt="json")
    sink = tmp_path / "avro_sink"
    q = write_stream_avro_containers(
        stream, CONTRACTS["Bil52"], str(sink), str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    batches = sorted(sink.glob("batch-*"))
    assert batches, "no batch directory written"
    back = scan_container_dir(spark, str(batches[0]), CONTRACTS["Bil52"])
    assert {r["time"]: r["value"] for r in back.collect()} == {
        f"2018M{m:02d}": m for m in range(1, 7)
    }


# ------------------------------------------------------ schema resolution


V1 = {
    "type": "record",
    "name": "Evt",
    "fields": [
        {"name": "a", "type": "int"},
        {"name": "b", "type": "string"},
        {"name": "gone", "type": {"type": "array", "items": "int"}},
        {"name": "u", "type": ["null", "int"], "default": None},
    ],
}
# v2: field order changed, `gone` removed, `c` added with default,
# a promoted int->long, u promoted ["null","int"]->["null","long"]
V2 = {
    "type": "record",
    "name": "Evt",
    "fields": [
        {"name": "b", "type": "string"},
        {"name": "c", "type": "double", "default": 2.5},
        {"name": "a", "type": "long"},
        {"name": "u", "type": ["null", "long"], "default": None},
    ],
}
V1_REC = {"a": 7, "b": "x", "gone": [1, 2, 3], "u": 5}


def test_schema_resolution_reader_newer():
    """T13 registry-latest case: v1 bytes decoded under the v2 reader
    — name matching across reordered fields, writer-only field
    skipped, added field filled from its default, int->long and
    union-branch promotions applied."""
    body = encode_record(V1, V1_REC)
    out = decode_record(V1, body, reader_schema=V2)
    assert out == {"b": "x", "c": 2.5, "a": 7, "u": 5}
    # same bytes without resolution keep the writer shape
    assert decode_record(V1, body)["gone"] == [1, 2, 3]


def test_schema_resolution_matches_java_resolving_reader(spark):
    """Parity with the implementation the registry ecosystem runs on:
    Java's GenericDatumReader(writer, reader) resolves the same v1
    payload; its reader-schema re-encoding must equal the Python
    resolution's reader-schema re-encoding byte-for-byte."""
    jvm = spark.sparkContext._jvm
    body = encode_record(V1, V1_REC)
    jw = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(normalize_avsc(V1)))
    jr = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(normalize_avsc(V2)))
    reader = jvm.org.apache.avro.generic.GenericDatumReader(jw, jr)
    dec = jvm.org.apache.avro.io.DecoderFactory.get().binaryDecoder(body, None)
    rec = reader.read(None, dec)
    writer = jvm.org.apache.avro.generic.GenericDatumWriter(jr)
    baos = jvm.java.io.ByteArrayOutputStream()
    enc = jvm.org.apache.avro.io.EncoderFactory.get().binaryEncoder(baos, None)
    writer.write(rec, enc)
    enc.flush()
    theirs = bytes(baos.toByteArray())
    ours = encode_record(V2, decode_record(V1, body, reader_schema=V2))
    assert ours == theirs


def test_schema_resolution_string_bytes_promotion():
    w = {"type": "record", "name": "R",
         "fields": [{"name": "s", "type": "string"},
                    {"name": "raw", "type": "bytes"}]}
    r = {"type": "record", "name": "R",
         "fields": [{"name": "s", "type": "bytes"},
                    {"name": "raw", "type": "string"}]}
    body = encode_record(w, {"s": "héllo", "raw": "héllo".encode("utf-8")})
    out = decode_record(w, body, reader_schema=r)
    assert out == {"s": "héllo".encode("utf-8"), "raw": "héllo"}


def test_schema_resolution_missing_default_fails():
    r_bad = {"type": "record", "name": "Evt",
             "fields": [{"name": "a", "type": "int"},
                        {"name": "b", "type": "string"},
                        {"name": "gone", "type": {"type": "array", "items": "int"}},
                        {"name": "u", "type": ["null", "int"], "default": None},
                        {"name": "nodefault", "type": "int"}]}
    body = encode_record(V1, V1_REC)
    with pytest.raises(ValueError, match="no default"):
        decode_record(V1, body, reader_schema=r_bad)


def test_schema_resolution_incompatible_type_fails():
    r_bad = {"type": "record", "name": "Evt",
             "fields": [{"name": "a", "type": "string"},
                        {"name": "b", "type": "string"},
                        {"name": "gone", "type": {"type": "array", "items": "int"}},
                        {"name": "u", "type": ["null", "int"], "default": None}]}
    body = encode_record(V1, V1_REC)
    with pytest.raises(ValueError, match="not resolvable"):
        decode_record(V1, body, reader_schema=r_bad)


def test_check_backward_compatible():
    from ingest_spark.schemas.avro_binary import check_backward_compatible

    assert check_backward_compatible(V1, V2) == []
    # demotion long->int is NOT resolvable
    errs = check_backward_compatible(V2, V1)
    assert any("not resolvable" in e or "no reader branch" in e for e in errs)
    # new field without default flagged with its path
    r_bad = {"type": "record", "name": "Evt",
             "fields": V1["fields"] + [{"name": "x", "type": "int"}]}
    errs = check_backward_compatible(V1, r_bad)
    assert errs and "x" in errs[0] and "no default" in errs[0]
    # every production contract is trivially self-compatible
    for name, c in CONTRACTS.items():
        assert check_backward_compatible(c, c) == [], name


def test_decode_df_with_reader_schema(spark):
    """Distributed resolution: a binary column of v1 payloads decodes
    into the v2 reader's columns/types via decode_df."""
    import pandas as pd

    rows = [{"a": i, "b": f"r{i}", "gone": [i], "u": None if i % 2 else i}
            for i in range(50)]
    pdf = pd.DataFrame({"value": [encode_record(V1, r) for r in rows]})
    df = spark.createDataFrame(pdf)
    out = decode_df(df, V1, reader_schema=V2)
    assert [f.name for f in out.schema.fields] == ["b", "c", "a", "u"]
    got = {r["a"]: r for r in out.collect()}
    assert len(got) == 50
    assert got[3]["c"] == 2.5 and got[3]["b"] == "r3" and got[3]["u"] is None
    assert got[4]["u"] == 4


# ------------------------------------------------- r13 hardening: unions/enum/fixed

MULTI_UNION = {
    "type": "record",
    "name": "Multi",
    "fields": [{"name": "v", "type": ["null", "int", "string", "boolean"]}],
}

ENUM_FIXED = {
    "type": "record",
    "name": "EF",
    "fields": [
        {
            "name": "color",
            "type": {"type": "enum", "name": "Color",
                     "symbols": ["RED", "GREEN", "BLUE"]},
        },
        {
            "name": "digest",
            "type": {"type": "fixed", "name": "MD5", "size": 4},
        },
        {
            "name": "maybe_color",
            "type": ["null", {"type": "enum", "name": "Color2",
                              "symbols": ["A", "B"]}],
            "default": None,
        },
    ],
}


@pytest.mark.parametrize(
    "value", [None, 7, "seven", True, False, 0, ""], ids=repr
)
def test_multibranch_union_byte_parity(spark, value):
    """r12 verdict #4: a ["null","int","string","boolean"] union must
    encode by the VALUE's runtime type (Java GenericDatumWriter
    semantics), not the first non-null branch. Byte-parity vs the
    Apache Avro Java library, plus exact round-trip (bool-before-int
    ordering matters: True must come back as True, not 1)."""
    rec = {"v": value}
    ours = encode_record(MULTI_UNION, rec)
    theirs = _jvm_encode(spark, MULTI_UNION, rec)
    assert ours == theirs
    back = decode_record(MULTI_UNION, ours)
    assert back == rec and type(back["v"]) is type(value)


@pytest.mark.parametrize(
    "rec",
    [
        {"color": "RED", "digest": b"\x00\x01\x02\xff", "maybe_color": None},
        {"color": "BLUE", "digest": b"abcd", "maybe_color": "B"},
    ],
    ids=["null-union", "enum-in-union"],
)
def test_enum_fixed_byte_parity(spark, rec):
    """enum (zigzag symbol index) + fixed (raw size bytes, no length
    prefix) byte-parity vs Java, including an enum inside a union."""
    ours = encode_record(ENUM_FIXED, rec)
    theirs = _jvm_encode(spark, ENUM_FIXED, rec)
    assert ours == theirs
    assert decode_record(ENUM_FIXED, ours) == rec


def test_enum_fixed_reject_bad_values():
    with pytest.raises(ValueError, match="enum symbols"):
        encode_record(ENUM_FIXED, {"color": "MAUVE", "digest": b"abcd"})
    with pytest.raises(ValueError, match="fixed size"):
        encode_record(ENUM_FIXED, {"color": "RED", "digest": b"toolong!"})


def test_reader_union_prefers_exact_kind_match(spark):
    """ADVICE r12: writer long vs reader ["double","long"] must pick
    the long branch (exact kind) over the double promotion — Java's
    resolving GenericDatumReader behavior; a double would silently
    lose precision beyond 2^53. Verified against the JVM reader."""
    w = {"type": "record", "name": "R", "fields": [{"name": "n", "type": "long"}]}
    r = {"type": "record", "name": "R",
         "fields": [{"name": "n", "type": ["double", "long"]}]}
    big = 2**60 + 1  # not representable as a double
    body = encode_record(w, {"n": big})
    out = decode_record(w, body, reader_schema=r)
    assert out == {"n": big} and type(out["n"]) is int
    # JVM oracle: resolving reader keeps it a long too
    jvm = spark.sparkContext._jvm
    jw = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(normalize_avsc(w)))
    jr = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(normalize_avsc(r)))
    reader = jvm.org.apache.avro.generic.GenericDatumReader(jw, jr)
    dec = jvm.org.apache.avro.io.DecoderFactory.get().binaryDecoder(body, None)
    rec = reader.read(None, dec)
    assert int(str(rec.get("n"))) == big


def test_enum_schema_resolution():
    """Writer enum with an extra symbol: resolution falls back to the
    reader's declared enum default for unknown symbols, and errors
    loudly when the reader has none."""
    w = {"type": "record", "name": "R",
         "fields": [{"name": "c", "type": {
             "type": "enum", "name": "C", "symbols": ["X", "Y", "Z"]}}]}
    r_def = {"type": "record", "name": "R",
             "fields": [{"name": "c", "type": {
                 "type": "enum", "name": "C", "symbols": ["X", "Y"],
                 "default": "X"}}]}
    r_nodef = {"type": "record", "name": "R",
               "fields": [{"name": "c", "type": {
                   "type": "enum", "name": "C", "symbols": ["X", "Y"]}}]}
    body = encode_record(w, {"c": "Z"})
    assert decode_record(w, body, reader_schema=r_def) == {"c": "X"}
    with pytest.raises(ValueError, match="absent from reader"):
        decode_record(w, body, reader_schema=r_nodef)
    # shared symbols resolve unchanged
    body_y = encode_record(w, {"c": "Y"})
    assert decode_record(w, body_y, reader_schema=r_nodef) == {"c": "Y"}
    # preflight agrees with runtime on both shapes
    from ingest_spark.schemas.avro_binary import check_backward_compatible

    assert check_backward_compatible(w, r_def) == []
    assert any("absent" in e for e in check_backward_compatible(w, r_nodef))


def test_fixed_schema_resolution_size_mismatch():
    from ingest_spark.schemas.avro_binary import check_backward_compatible

    w = {"type": "record", "name": "R",
         "fields": [{"name": "d", "type": {
             "type": "fixed", "name": "D", "size": 4}}]}
    r = {"type": "record", "name": "R",
         "fields": [{"name": "d", "type": {
             "type": "fixed", "name": "D", "size": 8}}]}
    body = encode_record(w, {"d": b"abcd"})
    with pytest.raises(ValueError, match="size mismatch"):
        decode_record(w, body, reader_schema=r)
    assert any("size mismatch" in e for e in check_backward_compatible(w, r))
    # same size resolves
    assert decode_record(w, body, reader_schema=w) == {"d": b"abcd"}


DECIMAL_SCHEMA = {
    "type": "record",
    "name": "Money",
    "fields": [
        {
            "name": "amount",
            "type": {"type": "bytes", "logicalType": "decimal",
                     "precision": 10, "scale": 2},
        },
        {
            "name": "rate",
            "type": {"type": "fixed", "name": "Rate8", "size": 8,
                     "logicalType": "decimal", "precision": 18, "scale": 6},
        },
    ],
}


@pytest.mark.parametrize(
    "amount,rate",
    [
        ("123.45", "0.000001"),
        ("-0.01", "-1.5"),
        ("0", "0"),
        ("21474836.47", "-922337203685.477580"),
        # unscaled exactly -2^(8k-1): -128 must encode as ONE byte
        # (0x80), Java BigInteger.toByteArray parity — the naive
        # (bit_length+8)//8 formula writes two (0xff80).
        ("-1.28", "-0.032768"),
    ],
)
def test_decimal_logical_type_byte_parity(spark, amount, rate):
    """decimal over bytes (minimal two's-complement, length-prefixed)
    and over fixed (sign-extended to size): byte-parity vs Java by
    feeding the JVM the raw physical bytes our codec claims to write
    (the generic Java datum layer treats logical types as their
    physical carrier, so equal bytes == Java-compatible), plus exact
    Decimal round-trip through our own decode."""
    from decimal import Decimal

    rec = {"amount": Decimal(amount), "rate": Decimal(rate)}
    ours = encode_record(DECIMAL_SCHEMA, rec)

    def twos(v, scale, size=None):
        sign, digits, exp = Decimal(v).as_tuple()
        n = int("".join(map(str, digits))) * 10 ** (exp + scale)
        if sign:
            n = -n
        # Java BigInteger.toByteArray: signed minimal length
        ln = size or ((n if n >= 0 else ~n).bit_length() // 8 + 1)
        return n.to_bytes(ln, "big", signed=True)

    phys = {"amount": twos(amount, 2), "rate": twos(rate, 6, 8)}
    theirs = _jvm_encode(spark, DECIMAL_SCHEMA, phys)
    assert ours == theirs
    back = decode_record(DECIMAL_SCHEMA, ours)
    assert back == rec
    assert str(back["amount"]) == str(
        Decimal(amount).quantize(Decimal("0.01"))
    )


def test_decimal_rejects_inexact_and_float():
    from decimal import Decimal

    with pytest.raises(ValueError, match="scale"):
        encode_record(DECIMAL_SCHEMA, {"amount": Decimal("1.999"),
                                       "rate": Decimal("0")})
    with pytest.raises(ValueError, match="float"):
        encode_record(DECIMAL_SCHEMA, {"amount": 1.99, "rate": Decimal("0")})
    with pytest.raises(ValueError, match="overflows"):
        encode_record(
            DECIMAL_SCHEMA,
            {"amount": Decimal("1"), "rate": Decimal(10) ** 14},
        )


TWO_RECORD_UNION = {
    "type": "record",
    "name": "Envelope",
    "fields": [
        {
            "name": "payload",
            "type": [
                {"type": "record", "name": "Click",
                 "fields": [{"name": "url", "type": "string"},
                            {"name": "ts", "type": "long"}]},
                {"type": "record", "name": "Purchase",
                 "fields": [{"name": "sku", "type": "string"},
                            {"name": "qty", "type": "int"},
                            {"name": "price_cents", "type": "long"}]},
                "null",
            ],
        },
    ],
}


@pytest.mark.parametrize(
    "payload,branch",
    [
        ({"url": "https://x/a", "ts": 17}, 0),
        ({"sku": "ABC-1", "qty": 3, "price_cents": 999}, 1),
        (None, 2),
    ],
)
def test_union_of_two_records_structural_match(spark, payload, branch):
    """[recordA, recordB] unions: a plain dict picks its branch by
    field shape (every key declared, every non-defaulted non-nullable
    field present) — VERDICT r13 #6. Byte parity vs the Java generic
    writer, whose JsonDecoder input names the same branch."""
    rec = {"payload": payload}
    ours = encode_record(TWO_RECORD_UNION, rec)
    assert ours[0] == branch * 2  # zigzag(branch) is the first byte
    theirs = _jvm_encode(spark, TWO_RECORD_UNION, rec)
    assert ours == theirs
    assert decode_record(TWO_RECORD_UNION, ours) == rec


def test_union_record_branch_rejects_shape_mismatch_keys():
    """A dict whose keys fit neither record falls back to the first
    non-null branch and then fails on the missing required field —
    never silently encodes a wrong-shaped record."""
    with pytest.raises((ValueError, TypeError)):
        encode_record(TWO_RECORD_UNION, {"payload": {"nope": 1}})


WIDE_DECIMAL_SCHEMA = {
    "type": "record",
    "name": "Wide",
    "fields": [
        {
            "name": "big",
            "type": {"type": "bytes", "logicalType": "decimal",
                     "precision": 38, "scale": 2},
        },
    ],
}


@pytest.mark.parametrize(
    "big",
    [
        # 30 significant digits — the default Decimal context (prec=28)
        # would round this in scaleb; the codec must stay exact.
        "1234567890123456789012345678.90",
        # full precision-38, positive and negative
        "123456789012345678901234567890123456.78",
        "-999999999999999999999999999999999999.99",
    ],
)
def test_decimal_precision_29_to_38_exact(spark, big):
    """Decimals with >28 significant digits must round-trip exactly:
    unscaled int is computed from as_tuple(), never via context-bound
    Decimal arithmetic (ADVICE r13 high: scaleb under the default
    prec=28 context silently rounded precision 29-38 values)."""
    from decimal import Decimal

    rec = {"big": Decimal(big)}
    ours = encode_record(WIDE_DECIMAL_SCHEMA, rec)
    back = decode_record(WIDE_DECIMAL_SCHEMA, ours)
    assert back["big"] == Decimal(big)
    assert str(back["big"]) == big
    # byte parity vs Java on the physical carrier
    sign, digits, exp = Decimal(big).as_tuple()
    n = int("".join(map(str, digits))) * 10 ** (exp + 2)
    if sign:
        n = -n
    raw = n.to_bytes((n if n >= 0 else ~n).bit_length() // 8 + 1,
                     "big", signed=True)
    theirs = _jvm_encode(spark, WIDE_DECIMAL_SCHEMA, {"big": raw})
    assert ours == theirs


def test_decimal_spark_struct_mapping():
    from pyspark.sql import types as T

    from ingest_spark.schemas.avsc import avsc_to_struct

    st = avsc_to_struct(DECIMAL_SCHEMA)
    assert st["amount"].dataType == T.DecimalType(10, 2)
    assert st["rate"].dataType == T.DecimalType(18, 6)


TEMPORAL_SCHEMA = {
    "type": "record",
    "name": "Evt",
    "fields": [
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {"name": "ts_ms",
         "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "ts_us",
         "type": {"type": "long", "logicalType": "timestamp-micros"}},
        # the Bil54 quirk: timestamp-millis declared on a STRING — the
        # carrier check must leave it a plain string
        {"name": "quirk",
         "type": {"type": "string", "logicalType": "timestamp-millis"}},
    ],
}


def test_temporal_logical_types_roundtrip_and_parity(spark):
    """date/timestamp-millis/timestamp-micros: datetime values encode
    to the spec's epoch integers (byte-parity vs Java fed the raw
    ints), decode back to date / tz-aware UTC datetime; string-carrier
    annotations (the Bil54 §1.4 quirk) stay strings."""
    import datetime as dt

    when = dt.datetime(2024, 1, 15, 7, 30, 0, 123456, tzinfo=dt.timezone.utc)
    rec = {"d": dt.date(2024, 1, 15), "ts_ms": when, "ts_us": when,
           "quirk": "2024-01-15T07:30:00"}
    ours = encode_record(TEMPORAL_SCHEMA, rec)
    days = (dt.date(2024, 1, 15) - dt.date(1970, 1, 1)).days
    micros = int(when.timestamp() * 1_000_000)
    theirs = _jvm_encode(
        spark, TEMPORAL_SCHEMA,
        {"d": days, "ts_ms": micros // 1000, "ts_us": micros,
         "quirk": "2024-01-15T07:30:00"},
    )
    assert ours == theirs
    back = decode_record(TEMPORAL_SCHEMA, ours)
    assert back["d"] == dt.date(2024, 1, 15)
    assert back["ts_us"] == when
    # millis carrier floors to the millisecond
    assert back["ts_ms"] == when.replace(microsecond=123000)
    assert back["quirk"] == "2024-01-15T07:30:00"
    # raw epoch ints are accepted as-is (they ARE the wire value)
    assert encode_record(
        TEMPORAL_SCHEMA,
        {"d": days, "ts_ms": micros // 1000, "ts_us": micros,
         "quirk": "2024-01-15T07:30:00"},
    ) == ours
    # naive datetimes are treated as UTC (the engine-wide zone)
    assert encode_record(
        TEMPORAL_SCHEMA,
        {"d": rec["d"], "ts_ms": when.replace(tzinfo=None),
         "ts_us": when.replace(tzinfo=None), "quirk": rec["quirk"]},
    ) == ours


def test_temporal_spark_struct_mapping():
    from pyspark.sql import types as T

    from ingest_spark.schemas.avsc import avsc_to_struct

    st = avsc_to_struct(TEMPORAL_SCHEMA)
    assert st["d"].dataType == T.DateType()
    assert st["ts_ms"].dataType == T.TimestampType()
    assert st["ts_us"].dataType == T.TimestampType()
    assert st["quirk"].dataType == T.StringType()  # the quirk survives


def test_temporal_in_union_matches_by_type():
    import datetime as dt

    u = {"type": "record", "name": "R",
         "fields": [{"name": "v", "type": [
             "null", "string",
             {"type": "int", "logicalType": "date"}], "default": None}]}
    body = encode_record(u, {"v": dt.date(2020, 2, 29)})
    assert decode_record(u, body) == {"v": dt.date(2020, 2, 29)}
    body_s = encode_record(u, {"v": "not-a-date"})
    assert decode_record(u, body_s) == {"v": "not-a-date"}


DEFAULTED_SCHEMA = {
    "type": "record",
    "name": "Defaulted",
    "fields": [
        {"name": "url", "type": "string"},
        {"name": "ts", "type": "long", "default": 0},
        {"name": "tag", "type": "string", "default": "none"},
        {"name": "blob", "type": "bytes", "default": "ÿ"},
    ],
}


def test_record_encode_fills_writer_defaults():
    """ADVICE r14: _value_matches treats a defaulted-absent field as
    satisfied, so encode must FILL the writer default (fastavro
    semantics) instead of raising 'null for non-nullable'. Filled
    bytes equal the explicit-value encoding; bytes defaults decode
    from their ISO-8859-1 JSON spelling."""
    filled = encode_record(DEFAULTED_SCHEMA, {"url": "x"})
    explicit = encode_record(
        DEFAULTED_SCHEMA,
        {"url": "x", "ts": 0, "tag": "none", "blob": b"\xff"},
    )
    assert filled == explicit
    assert decode_record(DEFAULTED_SCHEMA, filled) == {
        "url": "x", "ts": 0, "tag": "none", "blob": b"\xff",
    }


def test_union_record_branch_default_fill_agrees_with_match():
    """The exact ADVICE repro: {"url": "x"} against a union whose Click
    branch declares ts default 0 — the matcher accepts the branch, so
    the encoder must fill ts=0 rather than raise mid-record."""
    schema = {
        "type": "record",
        "name": "Env",
        "fields": [
            {"name": "payload", "type": [
                {"type": "record", "name": "ClickD",
                 "fields": [{"name": "url", "type": "string"},
                            {"name": "ts", "type": "long", "default": 0}]},
                "null",
            ]},
        ],
    }
    body = encode_record(schema, {"payload": {"url": "x"}})
    assert decode_record(schema, body) == {"payload": {"url": "x", "ts": 0}}


NAMED_REUSE_SCHEMA = {
    "type": "record",
    "name": "Segment",
    "namespace": "geo",
    "fields": [
        {"name": "start", "type": {
            "type": "record", "name": "Point",
            "fields": [{"name": "x", "type": "double"},
                       {"name": "y", "type": "double"}]}},
        # bare-name reuse (same namespace) and full-name reuse — the
        # spec's definition-before-use contract (VERDICT r14 #Missing 3)
        {"name": "end", "type": "Point"},
        {"name": "mid", "type": "geo.Point"},
    ],
}


def test_named_type_reuse_loader_and_codec(spark):
    """A record defined once and reused by (bare or full) name loads
    to the same StructType in every position, and the codec encodes
    it byte-identically to the Java library (which resolves named
    refs natively)."""
    from pyspark.sql import types as T

    from ingest_spark.schemas.avsc import avsc_to_struct

    st = avsc_to_struct(NAMED_REUSE_SCHEMA)
    point = T.StructType([
        T.StructField("x", T.DoubleType(), False),
        T.StructField("y", T.DoubleType(), False),
    ])
    assert st["start"].dataType == point
    assert st["end"].dataType == point
    assert st["mid"].dataType == point

    rec = {"start": {"x": 1.5, "y": -2.0},
           "end": {"x": 0.0, "y": 4.25},
           "mid": {"x": 0.75, "y": 1.125}}
    ours = encode_record(NAMED_REUSE_SCHEMA, rec)
    assert ours == _jvm_encode(spark, NAMED_REUSE_SCHEMA, rec)
    assert decode_record(NAMED_REUSE_SCHEMA, ours) == rec


def test_recursive_named_type_rejected():
    """A self-referential record (linked list) has no finite
    StructType — the resolver fails loudly instead of looping."""
    from ingest_spark.schemas.avsc import avsc_to_struct

    recursive = {
        "type": "record", "name": "Node",
        "fields": [{"name": "value", "type": "long"},
                   {"name": "next", "type": ["null", "Node"],
                    "default": None}],
    }
    with pytest.raises(ValueError, match="recursive"):
        avsc_to_struct(recursive)
    with pytest.raises(ValueError, match="recursive"):
        encode_record(recursive, {"value": 1, "next": None})


def test_multibranch_union_struct_mapping():
    """Non-null multi-branch unions now load (VERDICT r14 #Missing 3:
    the codec supported them while the loader rejected them) — Spark
    avro-connector convention: struct of nullable memberN fields."""
    from pyspark.sql import types as T

    from ingest_spark.schemas.avsc import avsc_to_struct

    st = avsc_to_struct({
        "type": "record", "name": "R",
        "fields": [{"name": "v", "type": ["null", "int", "string"],
                    "default": None}],
    })
    assert st["v"].nullable
    assert st["v"].dataType == T.StructType([
        T.StructField("member0", T.IntegerType(), True),
        T.StructField("member1", T.StringType(), True),
    ])


# ------------------------------------------- Arrow batches into the codec

LONG_FLOAT = {
    "type": "record",
    "name": "LongFloat",
    "fields": [
        {"name": "n", "type": ["null", "long"]},
        {"name": "x", "type": "float"},
    ],
}


@pytest.mark.parametrize("with_null", [False, True], ids=["no_null", "null_in_batch"])
def test_encode_df_keeps_longs_above_2_53(spark, with_null):
    """2**60+1 in a (long, float) record survives encode_df and
    decode_df exactly, also beside a null in the same column of the
    same batch. Pandas rows upcast an all-numeric row to float64, and a
    nullable long column holding a null to float64, both of which round
    the value to 2**60."""
    big = 2**60 + 1
    rows = [(big, 1.5)] + ([(None, 2.5)] if with_null else [])
    df = spark.createDataFrame(rows, "n long, x float").coalesce(1)
    enc = encode_df(df, LONG_FLOAT)
    got = sorted(bytes(r["value"]) for r in enc.collect())
    assert got == sorted(encode_record(LONG_FLOAT, {"n": n, "x": x}) for n, x in rows)
    back = decode_df(enc, LONG_FLOAT).collect()
    assert sorted((r["n"] is None, r["n"] or 0, r["x"]) for r in back) == sorted(
        (n is None, n or 0, x) for n, x in rows
    )


WITH_MAPS = {
    "type": "record",
    "name": "WithMaps",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "tags", "type": {"type": "map", "values": "long"}},
        {
            "name": "nested",
            "type": {"type": "array", "items": {"type": "map", "values": "string"}},
        },
    ],
}


def test_encode_df_maps_and_key_pass_through(spark):
    """Arrow hands map cells over as (key, value) pairs, also inside
    arrays; encode_df must encode them as the dicts encode_record takes
    (same bytes), decode_df must give maps back, and a string ``key``
    column passes through as binary."""
    rows = [
        {"id": 1, "tags": {"a": 1, "b": -2}, "nested": [{"x": "y"}, {}]},
        {"id": 2, "tags": {}, "nested": []},
    ]
    df = spark.createDataFrame(
        [(f"k{r['id']}", r["id"], r["tags"], r["nested"]) for r in rows],
        "key string, id long, tags map<string,bigint>, nested array<map<string,string>>",
    )
    enc = encode_df(df, WITH_MAPS, schema_id=3)
    got = {bytes(r["key"]): bytes(r["value"]) for r in enc.collect()}
    assert got == {
        f"k{r['id']}".encode(): confluent_frame(encode_record(WITH_MAPS, r), 3)
        for r in rows
    }
    back = {r["id"]: r for r in decode_df(enc, WITH_MAPS, confluent=True).collect()}
    assert back[1]["tags"] == {"a": 1, "b": -2}
    assert back[1]["nested"] == [{"x": "y"}, {}]
    assert back[2]["tags"] == {} and back[2]["nested"] == []
