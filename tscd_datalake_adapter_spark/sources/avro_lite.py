"""avro_lite — a minimal pure-Python Avro 1.x object-container codec.

The environment ships no avro library and no Iceberg jar, but Apache
Iceberg's metadata layer (manifest lists and manifest files) is specified
as Avro object-container files — so implementing the §2.2 Iceberg half of
the lakehouse row (``sources.iceberg_lite``) needs exactly the Avro subset
those schemas use. This module implements that subset from the PUBLIC
Avro 1.11 specification (binary encoding + object container format):

- types: ``null boolean int long float double bytes string``, ``record``,
  ``array``, ``map``, ``fixed``, and unions (encoded as zigzag branch
  index + value);
- binary encoding: little-endian zigzag varints for int/long, length-
  prefixed bytes/strings, block-encoded arrays/maps (positive block
  counts; a negative block count per the spec carries a byte size — read
  supported, never written);
- container format: magic ``Obj\\x01``, file-metadata map carrying
  ``avro.schema`` (JSON) and ``avro.codec``, a random 16-byte sync
  marker, then data blocks of ``(count, byte-length, payload, sync)``.
  Codecs: ``null`` and ``deflate`` (zlib raw) — the two every Avro
  implementation must support.

Scope honesty: no schema resolution/evolution (reader uses the writer's
embedded schema — which is how Iceberg manifests are consumed anyway),
no named-type references, enums, or logical-type coercion (values pass
through as their underlying primitives). Everything here derives from
the public Avro specification; round-trips are property-tested in
``tests/test_iceberg_lite.py``.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

from tscd_datalake_adapter_spark.sources import write_once

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------- encode


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_varint(buf: io.BytesIO, n: int) -> None:
    n = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


def _write_bytes(buf: io.BytesIO, b: bytes) -> None:
    _write_varint(buf, len(b))
    buf.write(b)


def write_datum(buf: io.BytesIO, schema, value) -> None:
    """Binary-encode ``value`` per ``schema`` (parsed Avro JSON)."""
    if isinstance(schema, str):
        t = schema
        if t == "null":
            return
        if t == "boolean":
            buf.write(b"\x01" if value else b"\x00")
        elif t in ("int", "long"):
            _write_varint(buf, int(value))
        elif t == "float":
            buf.write(struct.pack("<f", float(value)))
        elif t == "double":
            buf.write(struct.pack("<d", float(value)))
        elif t == "bytes":
            _write_bytes(buf, bytes(value))
        elif t == "string":
            _write_bytes(buf, str(value).encode("utf-8"))
        else:
            raise NotImplementedError(f"avro_lite cannot encode {t!r}")
        return
    if isinstance(schema, list):  # union: branch index + value
        for i, branch in enumerate(schema):
            bt = branch if isinstance(branch, str) else branch.get("type")
            if value is None and bt == "null":
                _write_varint(buf, i)
                return
            if value is not None and bt != "null":
                _write_varint(buf, i)
                write_datum(buf, branch, value)
                return
        raise ValueError(f"no union branch for {value!r} in {schema}")
    t = schema["type"]
    if t == "record":
        for f in schema["fields"]:
            if f["name"] in value:
                write_datum(buf, f["type"], value[f["name"]])
            elif "default" in f or _has_null_branch(f["type"]):
                write_datum(buf, f["type"], f.get("default"))
            else:
                raise ValueError(
                    f"missing required field {f['name']} for record "
                    f"{schema.get('name')}"
                )
    elif t == "array":
        items = list(value or [])
        if items:
            _write_varint(buf, len(items))
            for it in items:
                write_datum(buf, schema["items"], it)
        _write_varint(buf, 0)
    elif t == "map":
        entries = dict(value or {})
        if entries:
            _write_varint(buf, len(entries))
            for k, v in entries.items():
                _write_bytes(buf, str(k).encode("utf-8"))
                write_datum(buf, schema["values"], v)
        _write_varint(buf, 0)
    elif t == "fixed":
        b = bytes(value)
        if len(b) != schema["size"]:
            raise ValueError(
                f"fixed {schema.get('name')} needs {schema['size']} bytes"
            )
        buf.write(b)
    elif t in ("null", "boolean", "int", "long", "float", "double",
               "bytes", "string"):
        write_datum(buf, t, value)
    else:
        raise NotImplementedError(f"avro_lite cannot encode type {t!r}")


def _has_null_branch(schema) -> bool:
    return isinstance(schema, list) and any(
        (b if isinstance(b, str) else b.get("type")) == "null"
        for b in schema
    )


# ---------------------------------------------------------------- decode


class _Reader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, n: int) -> bytes:
        b = self.data[self.pos: self.pos + n]
        if len(b) != n:
            raise EOFError("truncated avro data")
        self.pos += n
        return b

    def varint(self) -> int:
        shift = 0
        acc = 0
        while True:
            b = self.data[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return _unzigzag(acc)
            shift += 7

    def lbytes(self) -> bytes:
        return self.read(self.varint())


def read_datum(r: _Reader, schema):
    if isinstance(schema, str):
        t = schema
        if t == "null":
            return None
        if t == "boolean":
            return r.read(1) == b"\x01"
        if t in ("int", "long"):
            return r.varint()
        if t == "float":
            return struct.unpack("<f", r.read(4))[0]
        if t == "double":
            return struct.unpack("<d", r.read(8))[0]
        if t == "bytes":
            return r.lbytes()
        if t == "string":
            return r.lbytes().decode("utf-8")
        raise NotImplementedError(f"avro_lite cannot decode {t!r}")
    if isinstance(schema, list):
        return read_datum(r, schema[r.varint()])
    t = schema["type"]
    if t == "record":
        return {
            f["name"]: read_datum(r, f["type"]) for f in schema["fields"]
        }
    if t == "array":
        out = []
        while True:
            n = r.varint()
            if n == 0:
                return out
            if n < 0:  # spec: negative count precedes a byte size
                r.varint()
                n = -n
            for _ in range(n):
                out.append(read_datum(r, schema["items"]))
    if t == "map":
        out = {}
        while True:
            n = r.varint()
            if n == 0:
                return out
            if n < 0:
                r.varint()
                n = -n
            for _ in range(n):
                k = r.lbytes().decode("utf-8")
                out[k] = read_datum(r, schema["values"])
    if t == "fixed":
        return r.read(schema["size"])
    if t in ("null", "boolean", "int", "long", "float", "double",
             "bytes", "string"):
        return read_datum(r, t)
    raise NotImplementedError(f"avro_lite cannot decode type {t!r}")


# ------------------------------------------------------------- container


def write_container(
    path: str,
    schema: dict,
    records: list[dict],
    codec: str = "deflate",
    extra_meta: dict[str, bytes] | None = None,
) -> None:
    """Write an Avro object-container file (one data block)."""
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"codec {codec!r}")
    payload = io.BytesIO()
    for rec in records:
        write_datum(payload, schema, rec)
    raw = payload.getvalue()
    if codec == "deflate":
        # raw deflate (no zlib header/checksum), per the Avro spec
        comp = zlib.compressobj(9, zlib.DEFLATED, -15)
        raw = comp.compress(raw) + comp.flush()
    sync = os.urandom(16)
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    meta.update(extra_meta or {})
    buf = io.BytesIO()
    buf.write(MAGIC)
    _write_varint(buf, len(meta))
    for k, v in meta.items():
        _write_bytes(buf, k.encode("utf-8"))
        _write_bytes(buf, v)
    _write_varint(buf, 0)
    buf.write(sync)
    if records:
        _write_varint(buf, len(records))
        _write_varint(buf, len(raw))
        buf.write(raw)
        buf.write(sync)
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(buf.getvalue())
    os.replace(tmp, path)


def read_container(path: str) -> tuple[dict, list[dict]]:
    """Read an Avro object-container file → (schema, records), decoded
    once per process while the file's bytes are unchanged
    (:mod:`write_once`): the result is shared, so do not mutate it."""
    try:
        return write_once.parsed(path, _decode_container)
    except ValueError as exc:
        raise ValueError(f"{exc} in {path}") from exc


def _decode_container(data: bytes) -> tuple[dict, list[dict]]:
    if data[:4] != MAGIC:
        raise ValueError("not an avro container")
    r = _Reader(data)
    r.pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n = r.varint()
        if n == 0:
            break
        if n < 0:
            r.varint()
            n = -n
        for _ in range(n):
            k = r.lbytes().decode("utf-8")
            meta[k] = r.lbytes()
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"codec {codec!r}")
    sync = r.read(16)
    records: list[dict] = []
    while r.pos < len(data):
        count = r.varint()
        size = r.varint()
        block = r.read(size)
        if r.read(16) != sync:
            raise ValueError("sync marker mismatch")
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        br = _Reader(block)
        for _ in range(count):
            records.append(read_datum(br, schema))
    return schema, records
