"""Executable Avro BINARY serde (T11/T13/K2) — pure Python, no jars.

pip-installed pyspark ships neither the spark-avro datasource nor any
Python avro library, so ``to_avro``/``from_avro`` stay unavailable
(session.py gates them). What CAN run everywhere is the wire format
itself: Avro binary encoding is a small public spec (zigzag-varint
ints/longs, little-endian IEEE float/double, length-prefixed
bytes/strings, union-index prefix, block-encoded arrays/maps,
depth-first records). This module implements that spec for the
subset the reference's four contracts use — primitives,
``[null, T]`` unions, records, arrays, maps — plus the Connect-interop
completions (r13): multi-branch unions (value-type branch pick),
``enum``, ``fixed``, and the ``decimal`` logical type (two's-complement
unscaled int over bytes/fixed, exact-scale, Java BigInteger.toByteArray
minimal-length parity) — giving the engine a real byte-level
serialize/deserialize path:

- driver/executor-side: ``encode_record`` / ``decode_record`` on
  plain dicts (used by tests for byte-parity against the Apache Avro
  JAVA implementation that ships inside Spark's JVM — the oracle);
- distributed: ``encode_df`` / ``decode_df`` run the codec over
  Arrow batches via ``mapInArrow`` (binary column in/out), with
  optional Confluent wire framing (magic 0x00 + big-endian schema
  id) matching the reference producer's AvroSerializer output
  (fetch_data_energinet.py:240-244) and the reader-side header strip
  in ``schemas.avsc.strip_confluent_header``.

At 100 TB this path is the interop/edge format — parquet remains the
at-rest analytics format; the codec's Python cost sits only on
Kafka-facing encode/decode, the same place the reference pays it.
That cost is one walk of the parsed field types per row:
``encode_df``/``decode_df`` parse the schema once per call (not once
per row) and read each Arrow batch column-wise with ``to_pylist``, so
no pandas row object or dtype conversion sits in the loop.
"""

from __future__ import annotations

import json
import struct
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ingest_spark.schemas.avsc import avsc_to_struct, normalize_avsc, resolve_named_types

# ------------------------------------------------------------ primitives


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_long(buf: bytearray, n: int) -> None:
    z = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _read_long(data: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _zigzag_decode(acc), pos
        shift += 7
        if shift > 70:
            raise ValueError("malformed varint")


# ------------------------------------------------------------ schema walk


def _parse(schema: dict | str) -> dict:
    if isinstance(schema, str):
        schema = json.loads(schema)
    if schema.get("type") != "record":
        raise ValueError("top-level avro schema must be a record")
    # named-type references are inlined here (r15) so the encode/
    # decode hot paths and schema resolution never see a bare name —
    # loader and codec now agree on what a legal contract is
    return resolve_named_types(normalize_avsc(schema))


# date/timestamp logical types and their REQUIRED physical carriers
# (spec §Logical Types). time-millis/micros and local-timestamp-* are
# deliberately absent: Spark has no TimeType / NTZ-at-this-layer, so
# they stay raw ints (annotated-primitive fall-through) rather than
# inventing a lossy conversion.
_TEMPORAL_CARRIERS = {
    "date": "int",
    "timestamp-millis": "long",
    "timestamp-micros": "long",
}


def _temporal_to_int(v: Any, lt: str, path: str) -> int:
    import datetime as _dt

    if v is None:
        raise ValueError(f"{path}: null for non-nullable {lt} field")
    if isinstance(v, bool):
        raise ValueError(f"{path}: bool is not a {lt} value")
    if isinstance(v, int):
        return v  # already the wire integer
    if lt == "date":
        if isinstance(v, _dt.datetime):
            v = v.date()
        if isinstance(v, _dt.date):
            return (v - _dt.date(1970, 1, 1)).days
    else:
        if isinstance(v, _dt.datetime):
            if v.tzinfo is None:  # naive == UTC, the engine-wide zone
                v = v.replace(tzinfo=_dt.timezone.utc)
            # timedelta floor-div, not float .timestamp(): exact to the
            # microsecond across the whole representable range
            micros = (
                v - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
            ) // _dt.timedelta(microseconds=1)
            return micros // 1000 if lt == "timestamp-millis" else micros
    raise ValueError(f"{path}: {type(v).__name__} is not a {lt} value")


def _int_to_temporal(n: int, lt: str):
    """Epoch integer -> datetime.date / tz-aware UTC datetime.
    timedelta arithmetic from the epoch, not fromtimestamp (which
    loses microsecond exactness to float and can't reach the full
    +-2^63-micro range)."""
    import datetime as _dt

    if lt == "date":
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=n)
    per_unit = 1_000 if lt == "timestamp-millis" else 1
    return _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc) + _dt.timedelta(
        microseconds=n * per_unit
    )


def _decimal_unscaled(v: Any, scale: int, path: str) -> int:
    """Exact unscaled integer for a decimal logical value. Floats are
    rejected (binary floats can't carry exact decimal semantics —
    0.1 * 10 != 1 in binary; callers must pass Decimal/int/str).
    Computed from as_tuple(), never via context-bound arithmetic:
    Decimal.scaleb rounds under the default prec=28 context, silently
    corrupting legal precision 29-38 values (Avro allows up to the
    fixed/bytes capacity; Spark DecimalType goes to 38)."""
    import decimal as _dec

    if isinstance(v, float):
        raise ValueError(
            f"{path}: decimal fields take Decimal/int/str, not float "
            "(binary floats are inexact)"
        )
    try:
        d = v if isinstance(v, _dec.Decimal) else _dec.Decimal(str(v))
    except _dec.InvalidOperation:
        raise ValueError(f"{path}: {v!r} is not a valid decimal") from None
    if not d.is_finite():
        raise ValueError(f"{path}: {v!r} is not a valid decimal") from None
    sign, digits, exp = d.as_tuple()
    coeff = int("".join(map(str, digits)))
    if sign:
        coeff = -coeff
    shift = exp + scale  # unscaled = coeff * 10^(exp+scale)
    if shift >= 0:
        return coeff * 10**shift
    q, r = divmod(coeff, 10 ** (-shift))
    if r:
        raise ValueError(
            f"{path}: {v!r} does not fit scale {scale} exactly"
        )
    return q


def _value_matches(t: Any, v: Any) -> bool:
    """Does Python value v encode naturally under (non-union) branch t?
    Drives multi-branch union encode the way Java's GenericDatumWriter
    resolves a union: by the runtime type of the datum. bool is tested
    before int (bool subclasses int in Python)."""
    if isinstance(t, dict) and t.get("logicalType") == "decimal":
        import decimal as _dec

        return isinstance(v, _dec.Decimal)
    if isinstance(t, dict) and t.get("logicalType") in _TEMPORAL_CARRIERS:
        import datetime as _dt

        if isinstance(v, (_dt.date, _dt.datetime)):
            return True  # fall through to the int check for raw ints
    k = t["type"] if isinstance(t, dict) else t
    import numbers

    if k == "null":
        return v is None
    # numbers ABCs, not concrete types: Arrow/pandas batches hand the
    # codec numpy scalars (np.int64, np.float32, np.bool_), which are
    # not instances of int/float/bool but register with the ABCs.
    is_bool = isinstance(v, bool) or type(v).__name__ == "bool_"
    if k == "boolean":
        return is_bool
    if k in ("int", "long"):
        return isinstance(v, numbers.Integral) and not is_bool
    if k in ("float", "double"):
        return isinstance(v, numbers.Real) and not isinstance(
            v, numbers.Integral
        )
    if k == "string":
        return isinstance(v, str)
    if k == "bytes":
        return isinstance(v, (bytes, bytearray))
    if k == "enum":
        return isinstance(v, str) and v in t["symbols"]
    if k == "fixed":
        return isinstance(v, (bytes, bytearray)) and len(v) == t["size"]
    if k == "record":
        # Structural branch matching for [recordA, recordB] unions
        # (Java resolves by the GenericRecord's schema name; a plain
        # dict has none, so match on field shape like fastavro does):
        # every datum key must be a declared field, and every field
        # that has no default and is not nullable must be present.
        # Identical-shape branches resolve to the first (documented).
        if not isinstance(v, dict):
            return False
        fields = t.get("fields", [])
        fnames = {f["name"] for f in fields}
        if not set(v).issubset(fnames):
            return False
        for f in fields:
            ft = f["type"]
            nullable = ft == "null" or (isinstance(ft, list) and "null" in ft)
            if f["name"] not in v and "default" not in f and not nullable:
                return False
        return True
    if k == "map":
        return isinstance(v, dict)
    if k == "array":
        return not isinstance(v, (str, bytes, bytearray, dict)) and hasattr(
            v, "__len__"
        )
    return False


_MISSING = object()


def _default_runtime_value(t: Any, d: Any) -> Any:
    """Avro JSON-default -> runtime value for encoding. Defaults are
    spelled in JSON (spec §schema_record): bytes/fixed defaults are
    ISO-8859-1-escaped strings; a union's default belongs to its FIRST
    branch; everything else (numbers, strings, booleans, dicts for
    records/maps, lists for arrays) passes through as-is."""
    branch = t[0] if isinstance(t, list) else t
    kind = branch["type"] if isinstance(branch, dict) else branch
    if kind in ("bytes", "fixed") and isinstance(d, str):
        return d.encode("latin-1")
    return d


def _encode_value(buf: bytearray, t: Any, v: Any, path: str) -> None:
    if isinstance(t, list):  # union: index, then value
        if v is None:
            if "null" not in t:
                raise ValueError(f"{path}: null for non-nullable union {t}")
            _write_long(buf, t.index("null"))
            return
        # type-aware branch pick (r13): a ["null","int","string"] union
        # must encode a str under the string branch, not the first
        # non-null one. Exact runtime-type match first; fall back to
        # first non-null branch for cross-typed numerics (int value
        # into a ["null","double"] contract — the pre-r13 behavior the
        # reference contracts rely on). A [null, T] union has one
        # non-null branch, so both rules pick it: skip the match.
        if len(t) == 2 and "null" in t:
            branch = 1 - t.index("null")
        else:
            matches = [i for i, x in enumerate(t) if x != "null" and _value_matches(x, v)]
            branch = matches[0] if matches else next(
                i for i, x in enumerate(t) if x != "null"
            )
        _write_long(buf, branch)
        _encode_value(buf, t[branch], v, path)
        return
    if isinstance(t, dict):
        kind = t["type"]
        if kind == "record":
            for f in t["fields"]:
                fv = (v or {}).get(f["name"], _MISSING)
                if fv is _MISSING:
                    # fill the writer-schema default for an absent field
                    # (fastavro/Java behavior; ADVICE r14: _value_matches
                    # accepts a datum missing a defaulted field, so encode
                    # must fill it or the match-accept/encode-reject split
                    # is inconsistent)
                    fv = (
                        _default_runtime_value(f["type"], f["default"])
                        if "default" in f
                        else None
                    )
                _encode_value(buf, f["type"], fv, f"{path}.{f['name']}")
            return
        if kind == "array":
            # len() not truthiness: Arrow hands list cells to the codec
            # as numpy arrays, whose bool() is ambiguous
            if v is not None and len(v):
                _write_long(buf, len(v))
                for item in v:
                    _encode_value(buf, t["items"], item, f"{path}[]")
            _write_long(buf, 0)
            return
        if kind == "map":
            if v is not None and len(v):
                _write_long(buf, len(v))
                # a dict, or Arrow's to_pylist form of a map cell: a
                # list of (key, value) pairs
                for k, mv in v.items() if isinstance(v, dict) else v:
                    _encode_value(buf, "string", k, f"{path}<key>")
                    _encode_value(buf, t["values"], mv, f"{path}[{k}]")
            _write_long(buf, 0)
            return
        if kind == "enum":  # spec: zero-based index into symbols, as int
            try:
                _write_long(buf, t["symbols"].index(v))
            except ValueError:
                raise ValueError(
                    f"{path}: {v!r} not in enum symbols {t['symbols']}"
                ) from None
            return
        if t.get("logicalType") == "decimal" and kind in ("bytes", "fixed"):
            # spec: two's-complement big-endian unscaled integer —
            # minimal length for bytes-backed (Java
            # BigInteger.toByteArray parity), sign-extended to `size`
            # for fixed-backed. Accepts Decimal/int/numeric-string;
            # the scale must match exactly (Java's DecimalConversion
            # throws on a rescale too — silent rounding is a data bug).
            unscaled = _decimal_unscaled(v, t.get("scale", 0), path)
            if kind == "bytes":
                # signed minimal length, Java BigInteger.toByteArray
                # parity: -128 is 1 byte (0x80), not 2 (0xff80) —
                # (~n for negatives) counts magnitude bits exactly.
                nbits = (unscaled if unscaled >= 0 else ~unscaled).bit_length()
                raw = unscaled.to_bytes(nbits // 8 + 1, "big", signed=True)
                _write_long(buf, len(raw))
            else:
                try:
                    raw = unscaled.to_bytes(t["size"], "big", signed=True)
                except OverflowError:
                    raise ValueError(
                        f"{path}: decimal unscaled {unscaled} overflows "
                        f"fixed size {t['size']}"
                    ) from None
            buf += raw
            return
        if kind == "fixed":  # spec: exactly `size` raw bytes, no length
            raw = bytes(v)
            if len(raw) != t["size"]:
                raise ValueError(
                    f"{path}: fixed size {t['size']} but value has {len(raw)} bytes"
                )
            buf += raw
            return
        lt = t.get("logicalType")
        if lt in _TEMPORAL_CARRIERS and kind == _TEMPORAL_CARRIERS[lt]:
            # date/timestamp logical types (r13): datetime values are
            # converted to the spec's epoch integers; raw ints pass
            # through unchanged (they ARE the wire value). The Bil54
            # quirk — timestamp-millis declared on a STRING field —
            # stays untouched because the carrier check fails there
            # and the annotated physical type wins, as before.
            v = _temporal_to_int(v, lt, path)
            _write_long(buf, int(v))
            return
        t = kind  # annotated primitive (logicalType): physical type wins
    if v is None:
        if t == "null":
            return
        raise ValueError(f"{path}: null for non-nullable {t!r} field")
    if t == "boolean":
        buf.append(1 if v else 0)
    elif t in ("int", "long"):
        _write_long(buf, int(v))
    elif t == "float":
        buf += struct.pack("<f", float(v))
    elif t == "double":
        buf += struct.pack("<d", float(v))
    elif t == "string":
        raw = str(v).encode("utf-8")
        _write_long(buf, len(raw))
        buf += raw
    elif t == "bytes":
        raw = bytes(v)
        _write_long(buf, len(raw))
        buf += raw
    else:
        raise ValueError(f"{path}: unsupported avro type {t!r}")


def _decode_value(data: bytes, pos: int, t: Any, path: str) -> tuple[Any, int]:
    if isinstance(t, list):
        idx, pos = _read_long(data, pos)
        if not 0 <= idx < len(t):
            raise ValueError(f"{path}: union index {idx} out of range")
        return _decode_value(data, pos, t[idx], path)
    if isinstance(t, dict):
        kind = t["type"]
        if kind == "record":
            out = {}
            for f in t["fields"]:
                out[f["name"]], pos = _decode_value(
                    data, pos, f["type"], f"{path}.{f['name']}"
                )
            return out, pos
        if kind == "array":
            items = []
            while True:
                n, pos = _read_long(data, pos)
                if n == 0:
                    return items, pos
                if n < 0:  # block with byte-size prefix (spec-legal)
                    n = -n
                    _, pos = _read_long(data, pos)
                for _ in range(n):
                    item, pos = _decode_value(data, pos, t["items"], f"{path}[]")
                    items.append(item)
        if kind == "map":
            out = {}
            while True:
                n, pos = _read_long(data, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    n = -n
                    _, pos = _read_long(data, pos)
                for _ in range(n):
                    k, pos = _decode_value(data, pos, "string", f"{path}<key>")
                    out[k], pos = _decode_value(data, pos, t["values"], f"{path}[{k}]")
        if t.get("logicalType") == "decimal" and kind in ("bytes", "fixed"):
            if kind == "bytes":
                n, pos = _read_long(data, pos)
                if n < 0:
                    raise ValueError(f"{path}: negative decimal length {n}")
            else:
                n = t["size"]
            if pos + n > len(data):
                raise ValueError(f"{path}: truncated decimal of {n} bytes")
            import decimal as _dec

            unscaled = int.from_bytes(data[pos : pos + n], "big", signed=True)
            # tuple constructor, not scaleb: the Decimal constructor is
            # context-free, so precision 29-38 values decode exactly
            # (scaleb rounds under the default prec=28 context).
            return (
                _dec.Decimal(
                    (
                        1 if unscaled < 0 else 0,
                        tuple(int(c) for c in str(abs(unscaled))),
                        -t.get("scale", 0),
                    )
                ),
                pos + n,
            )
        if kind == "enum":
            idx, pos = _read_long(data, pos)
            syms = t["symbols"]
            if not 0 <= idx < len(syms):
                raise ValueError(f"{path}: enum index {idx} out of range")
            return syms[idx], pos
        if kind == "fixed":
            n = t["size"]
            if pos + n > len(data):
                raise ValueError(f"{path}: truncated fixed of size {n}")
            return bytes(data[pos : pos + n]), pos + n
        lt = t.get("logicalType")
        if lt in _TEMPORAL_CARRIERS and kind == _TEMPORAL_CARRIERS[lt]:
            n, pos = _read_long(data, pos)
            return _int_to_temporal(n, lt), pos
        t = kind
    if t == "null":
        return None, pos
    if t == "boolean":
        return data[pos] != 0, pos + 1
    if t in ("int", "long"):
        return _read_long(data, pos)
    if t == "float":
        return struct.unpack_from("<f", data, pos)[0], pos + 4
    if t == "double":
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if t == "string":
        n, pos = _read_long(data, pos)
        if n < 0:  # negative counts are legal only for array/map blocks
            raise ValueError(f"{path}: negative string length {n}")
        return data[pos : pos + n].decode("utf-8"), pos + n
    if t == "bytes":
        n, pos = _read_long(data, pos)
        if n < 0:
            raise ValueError(f"{path}: negative bytes length {n}")
        return bytes(data[pos : pos + n]), pos + n
    raise ValueError(f"{path}: unsupported avro type {t!r}")


# ------------------------------------------------------ schema resolution
#
# Avro spec §Schema Resolution (r12): the reference's registry workflow
# fetches the LATEST version per subject (fetch_data_energinet.py:
# 266-274) while topics retain records written under older versions, so
# a reader must decode writer-schema bytes INTO its own (newer) schema:
# fields matched by name (any order), reader-only fields filled from
# their defaults, writer-only fields decoded and discarded, and the
# spec's type promotions applied (int->long/float/double,
# long->float/double, float->double, string<->bytes). Parity-tested
# against Java's resolving GenericDatumReader (the implementation the
# registry ecosystem runs on).

_PROMOTIONS = {
    "int": ("long", "float", "double"),
    "long": ("float", "double"),
    "float": ("double",),
    "string": ("bytes",),
    "bytes": ("string",),
}


def _kind(t: Any) -> str:
    if isinstance(t, list):
        return "union"
    if isinstance(t, dict):
        return t["type"]
    return t


def _promote(v: Any, wkind: str, rkind: str) -> Any:
    if rkind in ("long",):
        return int(v)
    if rkind in ("float", "double"):
        return float(v)
    if rkind == "bytes":  # string -> bytes
        return v.encode("utf-8")
    if rkind == "string":  # bytes -> string
        return v.decode("utf-8")
    raise AssertionError(wkind)


def _branch_matches(wt: Any, rt: Any) -> bool:
    """Can a writer (non-union) type resolve against reader branch rt?"""
    wk, rk = _kind(wt), _kind(rt)
    if wk == rk:
        return _names_compatible(wt, rt, wk)
    return rk in _PROMOTIONS.get(wk, ())


def _names_compatible(wt: Any, rt: Any, kind: str) -> bool:
    """Spec: named types (record/enum/fixed) resolve only when their
    unqualified names match (or the reader lists the writer's name as
    an alias). Unnamed writer/reader dicts stay permissive."""
    if kind not in ("record", "enum", "fixed"):
        return True
    wn = wt.get("name") if isinstance(wt, dict) else None
    rn = rt.get("name") if isinstance(rt, dict) else None
    if wn is None or rn is None:
        return True
    if wn.split(".")[-1] == rn.split(".")[-1]:
        return True
    aliases = rt.get("aliases", []) if isinstance(rt, dict) else []
    return wn.split(".")[-1] in {a.split(".")[-1] for a in aliases}


def _pick_reader_branch(wt: Any, branches: list) -> Any | None:
    """Java's resolving GenericDatumReader prefers an EXACT kind match
    over a promotion when choosing a reader-union branch (r13, advised):
    writer long vs reader ["double","long"] must decode as long, not
    double (precision loss beyond 2^53). Two passes: exact kind (with
    name compatibility for named types), then promotions."""
    wk = _kind(wt)
    for b in branches:
        if _kind(b) == wk and _names_compatible(wt, b, wk):
            return b
    for b in branches:
        if _kind(b) in _PROMOTIONS.get(wk, ()):
            return b
    return None


def _default_value(t: Any, d: Any, path: str) -> Any:
    """Materialize a reader field's JSON default as a decoded value.
    Per spec, a union's default is interpreted against its FIRST
    branch; bytes defaults are JSON strings of codepoints 0-255."""
    if isinstance(t, list):
        return _default_value(t[0], d, path)
    k = _kind(t)
    if k == "null":
        return None
    if k in ("int", "long"):
        return int(d)
    if k in ("float", "double"):
        return float(d)
    if k == "boolean":
        return bool(d)
    if k == "string":
        return str(d)
    if k == "bytes":
        return str(d).encode("latin-1")
    if k == "enum":
        return str(d)
    if k == "fixed":
        raw = str(d).encode("latin-1")
        if len(raw) != t["size"]:
            raise ValueError(f"{path}: fixed default wrong size")
        return raw
    if k == "record":
        out = {}
        for f in t["fields"]:
            nm = f["name"]
            if isinstance(d, dict) and nm in d:
                out[nm] = _default_value(f["type"], d[nm], f"{path}.{nm}")
            elif "default" in f:
                out[nm] = _default_value(f["type"], f["default"], f"{path}.{nm}")
            else:
                raise ValueError(f"{path}.{nm}: record default missing field")
        return out
    if k == "array":
        return [_default_value(t["items"], x, f"{path}[]") for x in (d or [])]
    if k == "map":
        return {
            mk: _default_value(t["values"], mv, f"{path}[{mk}]")
            for mk, mv in (d or {}).items()
        }
    raise ValueError(f"{path}: unsupported default for type {t!r}")


def _decode_resolved(
    data: bytes, pos: int, wt: Any, rt: Any, path: str
) -> tuple[Any, int]:
    if isinstance(wt, list):  # writer union: index picks the branch
        idx, pos = _read_long(data, pos)
        if not 0 <= idx < len(wt):
            raise ValueError(f"{path}: union index {idx} out of range")
        return _decode_resolved(data, pos, wt[idx], rt, path)
    if isinstance(rt, list):  # reader union: exact kind first, then promotion
        branch = _pick_reader_branch(wt, rt)
        if branch is not None:
            return _decode_resolved(data, pos, wt, branch, path)
        raise ValueError(
            f"{path}: writer type {_kind(wt)!r} matches no reader "
            f"union branch {[_kind(b) for b in rt]}"
        )
    wk, rk = _kind(wt), _kind(rt)
    if wk == "enum" and rk == "enum":
        idx, pos = _read_long(data, pos)
        wsyms = wt["symbols"]
        if not 0 <= idx < len(wsyms):
            raise ValueError(f"{path}: enum index {idx} out of range")
        sym = wsyms[idx]
        if sym in rt["symbols"]:
            return sym, pos
        if "default" in rt:  # spec: reader enum default catches unknowns
            return rt["default"], pos
        raise ValueError(
            f"{path}: writer enum symbol {sym!r} absent from reader "
            "symbols and reader declares no default"
        )
    if wk == "fixed" and rk == "fixed":
        if wt["size"] != rt["size"]:
            raise ValueError(
                f"{path}: fixed size mismatch writer={wt['size']} "
                f"reader={rt['size']}"
            )
        return _decode_value(data, pos, wt, path)
    if wk == "record" and rk == "record":
        out = {}
        rfields = {f["name"]: f for f in rt["fields"]}
        for f in wt["fields"]:
            nm = f["name"]
            if nm in rfields:
                out[nm], pos = _decode_resolved(
                    data, pos, f["type"], rfields[nm]["type"], f"{path}.{nm}"
                )
            else:  # writer-only: decode and discard (spec: skipped)
                _, pos = _decode_value(data, pos, f["type"], f"{path}.{nm}")
        wnames = {f["name"] for f in wt["fields"]}
        for f in rt["fields"]:
            if f["name"] not in wnames:
                if "default" not in f:
                    raise ValueError(
                        f"{path}.{f['name']}: reader field absent from "
                        "writer schema and has no default"
                    )
                out[f["name"]] = _default_value(
                    f["type"], f["default"], f"{path}.{f['name']}"
                )
        return out, pos
    if wk == "array" and rk == "array":
        items = []
        while True:
            n, pos = _read_long(data, pos)
            if n == 0:
                return items, pos
            if n < 0:
                n = -n
                _, pos = _read_long(data, pos)
            for _ in range(n):
                item, pos = _decode_resolved(
                    data, pos, wt["items"], rt["items"], f"{path}[]"
                )
                items.append(item)
    if wk == "map" and rk == "map":
        out = {}
        while True:
            n, pos = _read_long(data, pos)
            if n == 0:
                return out, pos
            if n < 0:
                n = -n
                _, pos = _read_long(data, pos)
            for _ in range(n):
                mk, pos = _decode_value(data, pos, "string", f"{path}<key>")
                out[mk], pos = _decode_resolved(
                    data, pos, wt["values"], rt["values"], f"{path}[{mk}]"
                )
    v, pos = _decode_value(data, pos, wt, path)
    if wk == rk:
        return v, pos
    if rk in _PROMOTIONS.get(wk, ()):
        return _promote(v, wk, rk), pos
    raise ValueError(
        f"{path}: writer type {wk!r} is not resolvable to reader {rk!r}"
    )


def _resolve_check(wt: Any, rt: Any, path: str, errors: list[str]) -> None:
    """Dry-run of _decode_resolved over the SCHEMAS only — the
    registry-compatibility preflight (reference O2: the producer
    aborts if the subject is missing; the registry itself enforces
    BACKWARD compatibility, which is exactly 'every writer value is
    resolvable into the reader schema')."""
    if isinstance(wt, list):
        for branch in wt:
            _resolve_check(branch, rt, path, errors)
        return
    if isinstance(rt, list):
        branch = _pick_reader_branch(wt, rt)
        if branch is not None:
            _resolve_check(wt, branch, path, errors)
        else:
            errors.append(
                f"{path}: writer {_kind(wt)!r} matches no reader branch"
            )
        return
    wk, rk = _kind(wt), _kind(rt)
    if wk == "record" and rk == "record":
        rfields = {f["name"]: f for f in rt["fields"]}
        wnames = {f["name"] for f in wt["fields"]}
        for f in wt["fields"]:
            if f["name"] in rfields:
                _resolve_check(
                    f["type"], rfields[f["name"]]["type"],
                    f"{path}.{f['name']}", errors,
                )
        for f in rt["fields"]:
            if f["name"] not in wnames and "default" not in f:
                errors.append(
                    f"{path}.{f['name']}: new reader field has no default"
                )
        return
    if wk == "array" and rk == "array":
        _resolve_check(wt["items"], rt["items"], f"{path}[]", errors)
        return
    if wk == "map" and rk == "map":
        _resolve_check(wt["values"], rt["values"], f"{path}<v>", errors)
        return
    if wk == "enum" and rk == "enum":
        missing = set(wt["symbols"]) - set(rt["symbols"])
        if missing and "default" not in rt:
            errors.append(
                f"{path}: writer enum symbols {sorted(missing)} absent "
                "from reader and no reader default"
            )
        return
    if wk == "fixed" and rk == "fixed":
        if wt["size"] != rt["size"]:
            errors.append(
                f"{path}: fixed size mismatch writer={wt['size']} "
                f"reader={rt['size']}"
            )
        return
    if wk != rk and rk not in _PROMOTIONS.get(wk, ()):
        errors.append(f"{path}: writer {wk!r} not resolvable to {rk!r}")


def check_backward_compatible(
    writer_schema: dict | str, reader_schema: dict | str
) -> list[str]:
    """Return the list of resolution errors a reader using
    ``reader_schema`` would hit on data written under
    ``writer_schema`` — empty means BACKWARD compatible (the registry
    default the reference's subjects run under). Schema preflight for
    contract evolution: call before registering a new version."""
    w, r = _parse(writer_schema), _parse(reader_schema)
    errors: list[str] = []
    _resolve_check(
        {"type": "record", "fields": w["fields"]},
        {"type": "record", "fields": r["fields"]},
        r.get("name", "record"),
        errors,
    )
    return errors


# ------------------------------------------------------------ public API


def _align_col(df: DataFrame, name: str, target: T.DataType):
    """Cast a contract column to its Avro-derived Spark type, skipping
    the cast when only nullability differs (Spark 4 rejects e.g.
    array<bigint> -> array<bigint> with a containsNull mismatch as
    CAST_WITHOUT_SUGGESTION)."""
    if df.schema[name].dataType.simpleString() == target.simpleString():
        return F.col(name)
    return F.col(name).cast(target).alias(name)


def encode_record(schema: dict | str, record: dict) -> bytes:
    """One dict -> Avro binary body (no framing)."""
    return _encode_body(_parse(schema), record)


def _encode_body(s: dict, record: dict) -> bytes:
    """``encode_record`` over an already ``_parse``d schema."""
    buf = bytearray()
    _encode_value(buf, {"type": "record", "fields": s["fields"]}, record, s.get("name", "record"))
    return bytes(buf)


def decode_record(
    schema: dict | str, data: bytes, reader_schema: dict | str | None = None
) -> dict:
    """Avro binary body -> dict; rejects trailing garbage (a wrong
    schema usually 'succeeds' with leftover bytes — fail loudly).

    With ``reader_schema``, full spec schema RESOLUTION runs: bytes
    written under ``schema`` (the writer) decode into the reader's
    shape — name-matched fields in any order, reader defaults for new
    fields, writer-only fields skipped, numeric/string promotions
    (the registry latest-version consumer case, T13)."""
    r = _parse(reader_schema) if reader_schema is not None else None
    return _decode_body(_parse(schema), data, r)


def _decode_body(s: dict, data: bytes, r: dict | None = None) -> dict:
    """``decode_record`` over already ``_parse``d writer (and reader)
    schemas."""
    wt = {"type": "record", "fields": s["fields"]}
    name = s.get("name", "record")
    if r is None:
        out, pos = _decode_value(data, 0, wt, name)
    else:
        out, pos = _decode_resolved(
            data, 0, wt, {"type": "record", "fields": r["fields"]},
            r.get("name", name),
        )
    if pos != len(data):
        raise ValueError(f"{len(data) - pos} trailing bytes after record")
    return out


def confluent_frame(body: bytes, schema_id: int) -> bytes:
    """Magic 0x00 + big-endian uint32 schema id + body — the registry
    wire format the reference producer emits."""
    return b"\x00" + struct.pack(">I", schema_id) + body


def encode_df(
    df: DataFrame, schema: dict | str, schema_id: int | None = None
) -> DataFrame:
    """Distributed encode: contract columns -> one ``value: binary``
    column (plus pass-through of any ``key`` column if present), via
    mapInArrow. ``schema_id`` adds Confluent framing.

    The schema is parsed once per call, and each Arrow batch is read
    column by column (``to_pylist``), so cells reach the codec as plain
    Python values with nulls as None: no pandas dtype sits in between
    (a nullable long column holding a null would turn float64 there
    and round every long above 2**53)."""
    s = _parse(schema)
    names = [f["name"] for f in s["fields"]]
    rec_name = s.get("name", "record")
    fields = [(f["type"], f"{rec_name}.{f['name']}") for f in s["fields"]]
    spark_schema = avsc_to_struct(s)
    missing = [n for n in names if n not in df.columns]
    if missing:
        raise ValueError(f"contract violation, missing columns: {missing}")
    has_key = "key" in df.columns and "key" not in names
    out_fields = ([T.StructField("key", T.BinaryType())] if has_key else []) + [
        T.StructField("value", T.BinaryType())
    ]
    out_schema = T.StructType(out_fields)
    aligned = df.select(
        *(["key"] if has_key else []),
        *[_align_col(df, n, spark_schema[n].dataType) for n in names],
    )
    prefix = b"" if schema_id is None else confluent_frame(b"", schema_id)

    def _enc(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for batch in batches:
            cols = [batch.column(n).to_pylist() for n in names]
            values = []
            # every field is a column, so the record walk of
            # _encode_value reduces to the fields in order
            for i in range(batch.num_rows):
                buf = bytearray(prefix)
                for (ft, path), col in zip(fields, cols):
                    _encode_value(buf, ft, col[i], path)
                values.append(bytes(buf))
            arrays = [pa.array(values, type=pa.binary())]
            if has_key:
                arrays.insert(0, batch.column("key").cast(pa.binary()))
            yield pa.RecordBatch.from_arrays(arrays, names=out_schema.names)

    return aligned.mapInArrow(_enc, out_schema)


# ---------------------------------------- Object Container File (OCF)

_OCF_MAGIC = b"Obj\x01"


def _sync_marker(schema: dict) -> bytes:
    """Deterministic 16-byte sync marker derived from the schema
    (random per-file markers are spec-legal but break reproducible
    tests; determinism costs nothing — markers only delimit blocks)."""
    import hashlib

    return hashlib.sha256(json.dumps(schema, sort_keys=True).encode()).digest()[:16]


def write_container(schema: dict | str, records: list[dict], codec: str = "null") -> bytes:
    """Records -> a complete Avro Object Container File (the at-rest
    format of the reference's HDFS sink, cluster/configuration.json:10
    AvroFormat): magic, metadata map (avro.schema + avro.codec),
    sync-marker-delimited data blocks. codec 'null' only (deflate adds
    a zlib dependency the spec makes optional)."""
    s = _parse(schema)
    if codec != "null":
        raise ValueError("only the null codec is supported")
    sync = _sync_marker(s)
    buf = bytearray(_OCF_MAGIC)
    meta = {
        "avro.schema": json.dumps(s).encode(),
        "avro.codec": codec.encode(),
    }
    _write_long(buf, len(meta))
    for k, v in meta.items():
        kb = k.encode()
        _write_long(buf, len(kb))
        buf += kb
        _write_long(buf, len(v))
        buf += v
    _write_long(buf, 0)  # metadata map terminator
    buf += sync
    if records:
        body = bytearray()
        for r in records:
            body += _encode_body(s, r)
        _write_long(buf, len(records))
        _write_long(buf, len(body))
        buf += body
        buf += sync
    return bytes(buf)


def read_container(data: bytes) -> tuple[dict, list[dict]]:
    """Container file bytes -> (schema, records); validates magic,
    codec, and every block's sync marker."""
    if data[:4] != _OCF_MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = _read_long(data, pos)
        if n == 0:
            break
        if n < 0:
            n = -n
            _, pos = _read_long(data, pos)
        for _ in range(n):
            klen, pos = _read_long(data, pos)
            if klen < 0:
                raise ValueError(f"negative metadata key length {klen}")
            k = data[pos : pos + klen].decode()
            pos += klen
            vlen, pos = _read_long(data, pos)
            if vlen < 0:
                raise ValueError(f"negative metadata value length {vlen}")
            meta[k] = data[pos : pos + vlen]
            pos += vlen
    codec = meta.get("avro.codec", b"null").decode()
    if codec != "null":
        raise ValueError(f"unsupported codec {codec!r}")
    schema = json.loads(meta["avro.schema"])
    sync = data[pos : pos + 16]
    pos += 16
    rec_t = {"type": "record", "fields": schema["fields"]}
    out: list[dict] = []
    while pos < len(data):
        count, pos = _read_long(data, pos)
        _, pos = _read_long(data, pos)  # block byte size (unused: we walk)
        for _ in range(count):
            rec, pos = _decode_value(data, pos, rec_t, schema.get("name", "record"))
            out.append(rec)
        if data[pos : pos + 16] != sync:
            raise ValueError("sync marker mismatch (corrupt block boundary)")
        pos += 16
    return schema, out


def write_container_dir(
    df: DataFrame, schema: dict | str, path: str
) -> int:
    """K2 at-rest Avro sink: one ``part-NNNNN.avro`` container file per
    partition, written inside the tasks (foreachPartition) — the
    date-partitioned parquet sink's Avro sibling. Local-filesystem
    paths only in this sandbox; on a cluster the same per-partition
    writer targets a shared mount, or the spark-avro datasource
    replaces it wholesale. Returns the number of files written."""
    import os

    s = _parse(schema)
    names = [f["name"] for f in s["fields"]]
    spark_schema = avsc_to_struct(s)
    os.makedirs(path, exist_ok=True)
    aligned = df.select(*[_align_col(df, n, spark_schema[n].dataType) for n in names])

    def _write_partition(rows) -> None:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        records = [{n: row[n] for n in names} for row in rows]
        if not records:
            return
        blob = write_container(s, records)
        with open(os.path.join(path, f"part-{pid:05d}.avro"), "wb") as fh:
            fh.write(blob)

    aligned.foreachPartition(_write_partition)
    return len([f for f in os.listdir(path) if f.endswith(".avro")])


def scan_container_dir(spark, path: str, schema: dict | str) -> DataFrame:
    """Distributed READ of a directory of Avro container files without
    the spark-avro jar: binaryFile scan (one file per row) -> the pure
    codec unpacks blocks inside mapInPandas. File-level parallelism —
    the right grain for sink-rolled files; a single giant file would
    need sync-marker splitting, which is exactly what the real
    datasource does."""
    s = _parse(schema)
    spark_schema = avsc_to_struct(s)
    names = [f["name"] for f in s["fields"]]
    files = spark.read.format("binaryFile").load(f"{path}/*.avro")

    def _scan(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows: list[dict] = []
            for raw in pdf["content"]:
                _, records = read_container(bytes(raw))
                rows.extend(records)
            yield pd.DataFrame(rows, columns=names)

    return files.select("content").mapInPandas(_scan, spark_schema)


def decode_df(
    df: DataFrame,
    schema: dict | str,
    value_col: str = "value",
    confluent: bool = False,
    reader_schema: dict | str | None = None,
) -> DataFrame:
    """Distributed decode: ``value: binary`` -> typed contract columns
    (mapInArrow, schemas parsed once per call). ``confluent=True``
    strips the 5-byte header first — the reader-side interop the
    reference consumer got wrong (consumer.py:27-33 parsed
    wire-framed bytes as a container file).
    ``reader_schema`` turns on spec schema resolution: payloads
    written under ``schema`` decode into the reader's (newer) shape,
    and the output columns/types are the READER's."""
    s = _parse(schema)
    r = _parse(reader_schema) if reader_schema is not None else None
    out_schema = r if r is not None else s
    spark_schema = avsc_to_struct(out_schema)
    names = [f["name"] for f in out_schema["fields"]]

    def _dec(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(spark_schema)
        for batch in batches:
            cols: list[list] = [[] for _ in names]
            for raw in batch.column(value_col).to_pylist():
                if confluent:
                    # Validated strip (mirrors avsc.strip_confluent_header):
                    # blind [5:] turns an unframed payload into confusing
                    # trailing-byte errors or silently wrong values.
                    if len(raw) < 5 or raw[0] != 0:
                        raise ValueError(
                            "not a Confluent-framed payload (expected magic "
                            f"0x00 + 4-byte schema id, got {raw[:5]!r})"
                        )
                    raw = raw[5:]
                rec = _decode_body(s, raw, r)
                for col, n in zip(cols, names):
                    col.append(rec[n])
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return df.mapInArrow(_dec, spark_schema)
