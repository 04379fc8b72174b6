"""iceberg_lite — a minimal pure-Python implementation of the Apache
Iceberg TABLE FORMAT (format-version 2) over Spark parquet, from the
public spec (iceberg.apache.org/spec/), completing the §2.2
"Delta/Iceberg write+read" row's second half without the connector jar
(``sources.delta_lite`` is the Delta half; without the jar,
``sources.tables.write_table(fmt="iceberg")`` fails in Spark with
``DATA_SOURCE_NOT_FOUND``).

An Iceberg filesystem table ("HadoopTables" layout) is:

- ``<path>/metadata/v<N>.metadata.json`` — the table metadata: schemas
  (with per-field ids), partition specs (identity/temporal/bucket),
  snapshots, and the current snapshot pointer; ``version-hint.text``
  names the current N.
- each snapshot points at a MANIFEST LIST (an Avro file: one record per
  manifest, with added/existing counts and sequence numbers);
- each MANIFEST (Avro) lists data files: status, per-file record counts,
  and the file's PARTITION TUPLE as a typed struct — the native
  partition-pruning index;
- data files are immutable parquet; a snapshot's file set = the union of
  its manifests' non-deleted entries.

Avro encoding comes from the in-repo ``sources.avro_lite`` (public Avro
spec, null/deflate codecs). Commits are atomic via the same ``os.link``
claim delta_lite uses: two writers racing for ``v<N+1>.metadata.json``
— the loser raises ``ConcurrentWriteError`` (no retry-merge here; the
Delta half demonstrates that machinery).

Semantics implemented: overwrite/append writes (schema enforced on
write; full overwrite evolves the schema with a new schema-id), reads of
the current or any retained snapshot (time travel by snapshot id or
timestamp), manifest-level partition pruning (``partition_filter`` skips
data files before Spark lists anything), snapshot history, and snapshot
expiry with physical file cleanup. APPEND snapshots REUSE the prior
manifests untouched and add one new manifest — commit cost is O(new
files), never O(table), which is the property that makes the format work
at 100 TB.

Manifests DO carry per-column lower/upper bounds (spec single-value
binary serialization keyed by field id, collected from parquet footers
at commit time), and ``where=`` pruning evaluates them before Spark
lists anything — see :func:`_file_bounds` /
``delta_lite._stats_may_match`` and the oracle query
``iceberg_lite_data_skipping``.

Partition transforms (r10): identity plus the spec's ``day``/``hour``/
``month``/``year`` temporal transforms, ``bucket[N]`` (murmur3-32
appendix-B hash, pinned against the spec's published test vectors), and
``truncate[W]`` (int floor-mod bucket start / string prefix) —
manifests store the transformed values, manifest pruning evaluates
source-column predicates through the transform (order-preserving
relaxation for temporal and truncate; bucket equality).

Honest scope (errors, not silent wrongness): the ``void``
transform is refused, single metadata.json lineage (no external
catalog). Nested columns (struct/list/map, r11) round-trip with
spec-shaped schema JSON and unique nested field ids; partitioning and
manifest bounds stay primitive-only (nested columns carry no bounds —
readers treat absence as may-match, per the spec). Schema evolution
re-enumerates ids depth-first (same discipline as flat columns).
Row-level deletes run BOTH ways (r11): COPY-ON-WRITE
(:func:`delete_iceberg`, bounds-pruned file rewrite via
``replace_paths``) and MERGE-ON-READ position deletes
(``strategy="merge-on-read"`` — content=1 DELETE manifests over
``(file_path, pos)`` parquet, O(matched rows) commits, readers apply
them by broadcast anti-join, :func:`materialize_deletes` folds them
back into the data files). Data files and position-delete files are
read by ``delta_lite.read_data_files``, the one reader of both formats:
with the snapshot's schema (or the spec's ``file_path string, pos
long`` for deletes), never an inferred one, after the one partition
check against each hive path. Equality deletes (content=2) are not
written or read; partial-overwrite commits refuse while position
deletes are pending (they would resurrect rows). Readers that find a higher
format-version or an unsupported spec raise. The Avro metadata
carries the spec's fixed field-id attributes (ADVICE r9) but is
primarily self-read: external-reader consumability is untested (no
external Iceberg implementation in this environment to certify against).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from tscd_datalake_adapter_spark.sources import avro_lite
from tscd_datalake_adapter_spark.sources.delta_lite import (
    ConcurrentWriteError,
    DeltaSchemaError,
    _check_partitions,
    _partition_values,
    _prune_empty_dirs,
    _schema_fingerprint,
    _stats_may_match,
    _write_data_files,
    read_data_files,
)

# ----------------------------------------------------------- type mapping

_SPARK_TO_ICEBERG = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "binary": "binary",
}


def _iceberg_type(spark_type) -> str:
    """Primitive Spark type → the spec's primitive type string."""
    s = spark_type.simpleString()
    if s in _SPARK_TO_ICEBERG:
        return _SPARK_TO_ICEBERG[s]
    if s.startswith("decimal"):
        return s  # decimal(p,s) spells identically
    if s in ("timestamp", "timestamp_ltz"):
        return "timestamptz"
    if s == "timestamp_ntz":
        return "timestamp"
    raise NotImplementedError(f"unsupported spark type {s}")


def _iceberg_type_of(spark_type, alloc):
    """Spark type → the spec's schema-JSON type: primitive strings, or
    the object forms for struct/list/map (r11 — nested columns). Nested
    element/key/value/field ids come from ``alloc`` (a fresh-id
    counter); the spec requires them unique across the whole schema."""
    from pyspark.sql import types as T

    if isinstance(spark_type, T.StructType):
        fields = []
        for f in spark_type.fields:
            fid = alloc()
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": False,
                    "type": _iceberg_type_of(f.dataType, alloc),
                }
            )
        return {"type": "struct", "fields": fields}
    if isinstance(spark_type, T.ArrayType):
        eid = alloc()
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type_of(spark_type.elementType, alloc),
            "element-required": not spark_type.containsNull,
        }
    if isinstance(spark_type, T.MapType):
        kid = alloc()
        vid = alloc()
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type_of(spark_type.keyType, alloc),
            "value-id": vid,
            "value": _iceberg_type_of(spark_type.valueType, alloc),
            "value-required": not spark_type.valueContainsNull,
        }
    return _iceberg_type(spark_type)


def _iceberg_schema(df_schema, schema_id: int) -> dict:
    """Table schema JSON. TOP-LEVEL field ids stay 1..N by position —
    the pre-r11 flat contract, so manifest bounds of existing tables
    keep resolving — and NESTED ids (struct fields, list elements, map
    keys/values) are allocated AFTER every top-level id, unique across
    the schema per the spec."""
    n_top = len(df_schema.fields)
    counter = {"next": n_top + 1}

    def alloc() -> int:
        v = counter["next"]
        counter["next"] += 1
        return v

    fields = []
    for i, f in enumerate(df_schema.fields, start=1):
        fields.append(
            {
                "id": i,
                "name": f.name,
                "required": False,
                "type": _iceberg_type_of(f.dataType, alloc),
            }
        )
    return {
        "type": "struct",
        "schema-id": schema_id,
        "fields": fields,
    }


def _max_field_id(schema: dict) -> int:
    """Largest field/element/key/value id anywhere in a schema JSON —
    what the spec's ``last-column-id`` must cover."""
    best = 0

    def walk(t) -> None:
        nonlocal best
        if not isinstance(t, dict):
            return
        if t["type"] == "struct":
            for f in t["fields"]:
                best = max(best, f["id"])
                walk(f["type"])
        elif t["type"] == "list":
            best = max(best, t["element-id"])
            walk(t["element"])
        elif t["type"] == "map":
            best = max(best, t["key-id"], t["value-id"])
            walk(t["key"])
            walk(t["value"])

    walk(schema)
    return best


_ICEBERG_TO_SPARK = None


def _spark_type_of(t):
    """Inverse of :func:`_iceberg_type_of`: schema-JSON type → Spark
    type, primitives and the nested object forms."""
    from pyspark.sql import types as T

    global _ICEBERG_TO_SPARK
    if _ICEBERG_TO_SPARK is None:
        _ICEBERG_TO_SPARK = {
            "long": T.LongType(),
            "int": T.IntegerType(),
            "double": T.DoubleType(),
            "float": T.FloatType(),
            "string": T.StringType(),
            "boolean": T.BooleanType(),
            "date": T.DateType(),
            "binary": T.BinaryType(),
            "timestamptz": T.TimestampType(),
            "timestamp": T.TimestampNTZType(),
        }
    if isinstance(t, dict):
        if t["type"] == "struct":
            return T.StructType(
                [
                    T.StructField(
                        f["name"],
                        _spark_type_of(f["type"]),
                        not f.get("required", False),
                    )
                    for f in t["fields"]
                ]
            )
        if t["type"] == "list":
            return T.ArrayType(
                _spark_type_of(t["element"]),
                not t.get("element-required", False),
            )
        if t["type"] == "map":
            return T.MapType(
                _spark_type_of(t["key"]),
                _spark_type_of(t["value"]),
                not t.get("value-required", False),
            )
        raise NotImplementedError(f"unsupported iceberg type {t}")
    if t in _ICEBERG_TO_SPARK:
        return _ICEBERG_TO_SPARK[t]
    if t.startswith("decimal"):
        p, s = t[t.index("(") + 1: -1].split(",")
        return T.DecimalType(int(p), int(s))
    raise NotImplementedError(f"unsupported iceberg type {t}")


def _spark_schema_of(meta: dict):
    """Spark StructType for the CURRENT schema of a metadata dict."""
    from pyspark.sql import types as T

    schema = _current_schema(meta)
    return T.StructType(
        [
            T.StructField(f["name"], _spark_type_of(f["type"]), True)
            for f in schema["fields"]
        ]
    )


def _current_schema(meta: dict) -> dict:
    sid = meta["current-schema-id"]
    for s in meta["schemas"]:
        if s["schema-id"] == sid:
            return s
    raise ValueError(f"current-schema-id {sid} not in schemas")


# ----------------------------------------------------------- avro schemas

# The "field-id" attributes below are the Iceberg spec's FIXED ids for
# manifest-list / manifest-entry Avro fields (spec "Manifests" and
# "Manifest Lists" tables) — required for external Iceberg readers,
# which resolve fields by id, not name (ADVICE r9). avro_lite itself
# resolves by name and ignores the attribute.
_FIELD_SUMMARY = {
    "type": "record",
    "name": "field_summary",
    "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        {"name": "contains_nan", "type": ["null", "boolean"],
         "default": None, "field-id": 518},
        {"name": "lower_bound", "type": ["null", "bytes"], "default": None,
         "field-id": 510},
        {"name": "upper_bound", "type": ["null", "bytes"], "default": None,
         "field-id": 511},
    ],
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {
            "name": "partitions",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": _FIELD_SUMMARY,
                    "element-id": 508,
                },
            ],
            "default": None,
            "field-id": 507,
        },
    ],
}


def _avro_partition_type(iceberg_type: str):
    m = {
        "long": "long",
        "int": "int",
        "double": "double",
        "float": "float",
        "string": "string",
        "boolean": "boolean",
    }
    if iceberg_type not in m:
        raise NotImplementedError(
            f"iceberg_lite identity-partitions on "
            f"long/int/double/float/string/boolean columns only; "
            f"got {iceberg_type}"
        )
    return m[iceberg_type]


# ------------------------------------------------------------- transforms
#
# The spec's partition-transform table (Iceberg spec "Partition
# Transforms" + appendix B bucket hash): temporal transforms map a
# date/timestamp to an int ordinal (days/hours/months/years since
# 1970-01-01), bucket maps any supported primitive to
# murmur3_32(serialized) mod N. Partition STRUCT values in manifests are
# the TRANSFORMED ints; hive path segments use the human-readable spell
# real Iceberg writes (day: 2026-08-13, hour: 2026-08-13-14,
# month: 2026-08, year: 2026, bucket: the int).

_EPOCH_DATE = None  # set lazily to avoid module-import datetime cost


def _epoch_date():
    global _EPOCH_DATE
    if _EPOCH_DATE is None:
        import datetime as _dt

        _EPOCH_DATE = _dt.date(1970, 1, 1)
    return _EPOCH_DATE


def parse_transform(spec: str) -> tuple[str, str, int | None]:
    """``'day(ts)'`` → ``('day','ts',None)``; ``'bucket(8,id)'`` →
    ``('bucket','id',8)``; a bare column name → identity."""
    import re as _re

    s = spec.strip()
    m = _re.fullmatch(r"(\w+)\(\s*([\w.]+)\s*\)", s)
    if m and m.group(1) in ("identity", "day", "hour", "month", "year"):
        return m.group(1), m.group(2), None
    m = _re.fullmatch(r"(bucket|truncate)\(\s*(\d+)\s*,\s*([\w.]+)\s*\)", s)
    if m:
        n = int(m.group(2))
        if n <= 0:
            raise ValueError(f"{m.group(1)} width must be > 0: {spec!r}")
        return m.group(1), m.group(3), n
    if _re.fullmatch(r"[\w.]+", s):
        return "identity", s, None
    raise ValueError(
        f"unsupported partition transform {spec!r}; expected a column "
        "name, identity(col), day(col), hour(col), month(col), "
        "year(col), bucket(N, col), or truncate(W, col)"
    )


def _transform_of_spec_field(pf: dict, schema: dict) -> dict:
    """Descriptor {'transform','source','name','n'} for a logged
    partition-spec field."""
    import re as _re

    by_id = {f["id"]: f for f in schema["fields"]}
    t = pf.get("transform", "identity")
    n = None
    m = _re.fullmatch(r"(bucket|truncate)\[(\d+)\]", t)
    if m:
        t, n = m.group(1), int(m.group(2))
    if t not in (
        "identity", "day", "hour", "month", "year", "bucket", "truncate",
    ):
        raise NotImplementedError(
            f"transform {pf.get('transform')!r} not supported"
        )
    src = by_id[pf["source-id"]]
    if not isinstance(src["type"], str):
        raise NotImplementedError(
            f"partitioning by nested column {src['name']!r} is not "
            "supported (the spec partitions on primitive source fields)"
        )
    return {
        "transform": t,
        "source": src["name"],
        "source_type": src["type"],
        "name": pf["name"],
        "n": n,
        "field-id": pf["field-id"],
    }


def _validate_transform(t: str, source_type: str, n: int | None) -> None:
    if t in ("day", "month", "year") and source_type not in (
        "date",
        "timestamp",
        "timestamptz",
    ):
        raise NotImplementedError(
            f"{t}() needs a date/timestamp source column; got {source_type}"
        )
    if t == "hour" and source_type not in ("timestamp", "timestamptz"):
        raise NotImplementedError(
            f"hour() needs a timestamp source column; got {source_type}"
        )
    if t == "bucket" and source_type not in (
        "int",
        "long",
        "string",
        "date",
    ):
        raise NotImplementedError(
            f"bucket() on int/long/string/date sources only; "
            f"got {source_type}"
        )
    if t == "truncate" and source_type not in ("int", "long", "string"):
        raise NotImplementedError(
            f"truncate() on int/long/string sources only; "
            f"got {source_type}"
        )


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit (the spec's bucket-transform hash,
    appendix B; seed 0). Pinned against the spec's published test
    vectors in tests/test_iceberg_lite.py."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    length = len(data)
    rounded = length & ~3
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i: i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= length
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def bucket_transform(v, source_type: str, n: int) -> int:
    """The spec's bucket: murmur3_32(single-value serialization) with
    the sign bit cleared, mod N. ints/longs/dates hash their 8-byte
    little-endian long form; strings hash UTF-8 bytes."""
    import struct as _struct

    if source_type in ("int", "long"):
        b = _struct.pack("<q", int(v))
    elif source_type == "date":
        d = v if not isinstance(v, str) else _date_fromiso(v)
        b = _struct.pack("<q", (d - _epoch_date()).days)
    elif source_type == "string":
        b = str(v).encode("utf-8")
    else:
        raise NotImplementedError(
            f"bucket() on int/long/string/date only; got {source_type}"
        )
    return (murmur3_32(b) & 0x7FFFFFFF) % n


def _date_fromiso(s: str):
    import datetime as _dt

    return _dt.date.fromisoformat(s[:10])


def _ts_from_literal(v):
    """Literal (ISO date/timestamp string, date, or datetime) → naive
    datetime for temporal-transform evaluation."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day)
    s = str(v).strip()
    for fmt in (
        "%Y-%m-%d %H:%M:%S.%f",
        "%Y-%m-%d %H:%M:%S",
        "%Y-%m-%dT%H:%M:%S.%f",
        "%Y-%m-%dT%H:%M:%S",
        "%Y-%m-%d",
    ):
        try:
            return _dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
    raise ValueError(f"not a date/timestamp literal: {v!r}")


def apply_transform(
    t: str, source_type: str, v, n: int | None = None
):
    """TYPED source value (or ISO literal) → transformed partition value
    (int ordinal for temporal/bucket; the value itself for identity)."""
    if v is None:
        return None
    if t == "identity":
        return v
    if t == "bucket":
        return bucket_transform(v, source_type, n)
    if t == "truncate":
        # spec: ints floor to the bucket start (floor mod, negatives
        # included); strings truncate to the first W characters
        if source_type in ("int", "long"):
            return int(v) - (int(v) % n)
        return str(v)[:n]
    ts = _ts_from_literal(v)
    if t == "day":
        return (ts.date() - _epoch_date()).days
    if t == "hour":
        days = (ts.date() - _epoch_date()).days
        return days * 24 + ts.hour
    if t == "month":
        return (ts.year - 1970) * 12 + (ts.month - 1)
    if t == "year":
        return ts.year - 1970
    raise NotImplementedError(f"transform {t!r}")


def _transform_path_value(d: dict, seg: str):
    """Hive path segment → TYPED transformed partition value."""
    import datetime as _dt

    t = d["transform"]
    if t == "identity":
        return seg  # typed later, per source type (legacy path)
    if t == "truncate":
        return (
            int(seg) if d["source_type"] in ("int", "long") else seg
        )
    if t == "day":
        return (_dt.date.fromisoformat(seg) - _epoch_date()).days
    if t == "hour":
        ts = _dt.datetime.strptime(seg, "%Y-%m-%d-%H")
        return ((ts.date() - _epoch_date()).days) * 24 + ts.hour
    if t == "month":
        y, m = seg.split("-")
        return (int(y) - 1970) * 12 + (int(m) - 1)
    if t == "year":
        return int(seg) - 1970
    if t == "bucket":
        return int(seg)
    raise NotImplementedError(f"transform {t!r}")


def _transform_path_str(d: dict, want) -> str:
    """TYPED transformed partition value → the hive path segment the
    writer produced (inverse of :func:`_transform_path_value`)."""
    import datetime as _dt

    t = d["transform"]
    if t == "identity":
        return _hive_partition_str(want)
    if t == "truncate":
        return str(want)
    if t == "day":
        return (_epoch_date() + _dt.timedelta(days=int(want))).isoformat()
    if t == "hour":
        base = _dt.datetime(1970, 1, 1) + _dt.timedelta(hours=int(want))
        return base.strftime("%Y-%m-%d-%H")
    if t == "month":
        y, m = divmod(int(want), 12)
        return f"{1970 + y}-{m + 1:02d}"
    if t == "year":
        return str(1970 + int(want))
    if t == "bucket":
        return str(int(want))
    raise NotImplementedError(f"transform {t!r}")


def _transform_column(d: dict):
    """Spark Column producing the hive path segment for one transform
    (the WRITE-side derivation; sessions are UTC-pinned by
    sources.ensure_engine_confs, matching the spec's UTC temporal
    transforms)."""
    from pyspark.sql import functions as F

    t, src = d["transform"], d["source"]
    if t == "truncate":
        if d["source_type"] in ("int", "long"):
            w = d["n"]
            # floor-mod bucket start, negatives included (the spec's
            # v - (((v % W) + W) % W))
            return F.expr(
                f"CAST({src} - ((({src} % {w}) + {w}) % {w}) AS STRING)"
            )
        return F.substring(F.col(src), 1, d["n"])
    if t == "day":
        return F.date_format(F.col(src), "yyyy-MM-dd")
    if t == "hour":
        return F.date_format(F.col(src), "yyyy-MM-dd-HH")
    if t == "month":
        return F.date_format(F.col(src), "yyyy-MM")
    if t == "year":
        return F.date_format(F.col(src), "yyyy")
    if t == "bucket":
        from pyspark.sql.functions import pandas_udf
        from pyspark.util import PythonEvalType

        n, st = d["n"], d["source_type"]

        # Arrow-batched; explicit eval type because the local type hints
        # aren't resolvable under `from __future__ import annotations`.
        # Null checks use pd.isna, NOT `is None`: a nullable int/long
        # column arrives as float64 with NaN under Arrow→pandas, where
        # int(NaN) raises. Worse, float64 silently rounds longs above
        # 2^53 — routing them to the wrong bucket would make read-side
        # bucket-equality pruning skip the file holding them. So the
        # column is cast to STRING on the JVM side (exact for any long;
        # dates spell ISO, which bucket_transform parses) and the hash
        # input never passes through a float.
        def _bucket_series(s):
            import pandas as pd

            return s.map(
                lambda v: None
                if pd.isna(v)
                else str(bucket_transform(v, st, n))
            )

        _bucket = pandas_udf(
            _bucket_series,
            "string",
            PythonEvalType.SQL_SCALAR_PANDAS_UDF,
        )
        col = F.col(src)
        if st in ("int", "long", "date"):
            col = col.cast("string")
        return _bucket(col)
    raise NotImplementedError(f"transform {t!r}")


def _partition_may_match(
    data_file: dict, descriptors: list[dict], conjuncts
) -> bool:
    """False only when the entry's TRANSFORMED partition values prove no
    row matches every conjunct on a transform's SOURCE column. Temporal
    transforms are order-preserving, so range predicates relax to >=/<=
    on the ordinal; bucket supports equality only."""
    pv = data_file.get("partition", {})
    for col, op, lit in conjuncts:
        if op not in (">", ">=", "<", "<=", "=", "=="):
            continue  # null-predicates etc. carry no transform ordinal
        for d in descriptors:
            if d["source"] != col or d["transform"] == "identity":
                continue
            want = pv.get(d["name"])
            if want is None:
                continue
            try:
                tlit = apply_transform(
                    d["transform"], d["source_type"], lit, d["n"]
                )
            except (ValueError, NotImplementedError):
                continue
            t = d["transform"]
            if t == "bucket":
                if op in ("=", "==") and want != tlit:
                    return False
                continue
            if op in (">", ">=") and want < tlit:
                return False
            if op in ("<", "<=") and want > tlit:
                return False
            if op in ("=", "==") and want != tlit:
                return False
    return True


def _hive_partition_str(v) -> str:
    """Serialize a TYPED manifest partition value with the same rule the
    writer used to parse the hive path segment (ADVICE r9): hive paths
    spell booleans ``true``/``false`` while Python's ``str`` gives
    ``True``/``False`` — without this, every read of a
    boolean-partitioned table would fail the manifest-vs-path
    cross-check despite booleans being a supported partition type."""
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _bounds_kv_schema(name: str, key_id: int, value_id: int) -> dict:
    """Iceberg serializes per-column bounds as a map keyed by FIELD ID
    with single-value binary payloads; in Avro that is a logical-map
    array of (key int, value bytes) records carrying the spec's fixed
    key/value field-ids (lower_bounds 126/127, upper_bounds 129/130)."""
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": "bytes", "field-id": value_id},
            ],
        },
        "logicalType": "map",
    }


def _ice_serialize(iceberg_type: str, v) -> bytes | None:
    """Iceberg's single-value binary serialization (spec appendix D) for
    the bound types we stat: ints/longs/floats/doubles little-endian,
    strings UTF-8, booleans one byte."""
    import struct as _struct

    try:
        if iceberg_type == "int":
            return _struct.pack("<i", int(v))
        if iceberg_type == "long":
            return _struct.pack("<q", int(v))
        if iceberg_type == "float":
            return _struct.pack("<f", float(v))
        if iceberg_type == "double":
            return _struct.pack("<d", float(v))
        if iceberg_type == "string":
            return str(v).encode("utf-8")
        if iceberg_type == "boolean":
            return b"\x01" if v else b"\x00"
    except (ValueError, OverflowError, _struct.error):
        return None
    return None


def _ice_deserialize(iceberg_type: str, b: bytes):
    import struct as _struct

    if iceberg_type == "int":
        return _struct.unpack("<i", b)[0]
    if iceberg_type == "long":
        return _struct.unpack("<q", b)[0]
    if iceberg_type == "float":
        return _struct.unpack("<f", b)[0]
    if iceberg_type == "double":
        return _struct.unpack("<d", b)[0]
    if iceberg_type == "string":
        return b.decode("utf-8")
    if iceberg_type == "boolean":
        return b == b"\x01"
    return None


def _file_bounds(
    full_path: str, schema: dict
) -> tuple[list, list, list]:
    """(lower_bounds, upper_bounds, null_value_counts) kv-lists for a
    parquet data file, from its footer row-group statistics, serialized
    per the spec and keyed by field id. Columns without usable stats are
    omitted (readers treat absence as 'may match'). Null counts
    accumulate INDEPENDENTLY of min/max — an all-null column has no
    min/max but a perfectly good null count (r10, mirroring delta_lite's
    nullCount)."""
    import pyarrow.parquet as pq

    by_name = {f["name"]: f for f in schema["fields"]}
    try:
        md = pq.ParquetFile(full_path).metadata
    except Exception:
        return [], [], []
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    good: set[str] = set()
    null_good: set[str] = set()
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name or name not in by_name:
                continue
            st = col.statistics
            if st is None or not st.has_null_count:
                null_good.discard(name)
                nulls.pop(name, None)
            elif rg == 0:
                nulls[name] = int(st.null_count)
                null_good.add(name)
            elif name in null_good:
                nulls[name] += int(st.null_count)
            if st is None or not st.has_min_max:
                good.discard(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            lo, hi = st.min, st.max
            if (isinstance(lo, float) and lo != lo) or (
                isinstance(hi, float) and hi != hi
            ):
                # NaN bounds in ANY row group invalidate the column —
                # keeping earlier-row-group bounds could wrongly prune a
                # file whose later row groups match (ADVICE r9)
                good.discard(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            if rg == 0:
                mins[name], maxs[name] = lo, hi
                good.add(name)
            elif name in good:
                mins[name] = min(mins[name], lo)
                maxs[name] = max(maxs[name], hi)
    lower, upper = [], []
    for name in sorted(good):
        f = by_name[name]
        t = f["type"]
        lo_b = _ice_serialize(t, mins[name])
        hi_b = _ice_serialize(t, maxs[name])
        if lo_b is None or hi_b is None:
            continue
        lower.append({"key": f["id"], "value": lo_b})
        upper.append({"key": f["id"], "value": hi_b})
    nvc = [
        {"key": by_name[name]["id"], "value": nulls[name]}
        for name in sorted(null_good)
    ]
    return lower, upper, nvc


def _manifest_entry_schema(meta: dict) -> dict:
    """manifest_entry avro schema with the partition struct typed per the
    table's (identity) partition spec."""
    schema = _current_schema(meta)
    pfields = []
    for pf in _current_spec(meta)["fields"]:
        d = _transform_of_spec_field(pf, schema)
        # temporal/bucket transforms store INT ordinals; identity and
        # truncate store the source type (truncate's result type is its
        # source type per the spec)
        avro_t = (
            _avro_partition_type(d["source_type"])
            if d["transform"] in ("identity", "truncate")
            else "int"
        )
        pfields.append(
            {
                "name": pf["name"],
                "type": ["null", avro_t],
                "default": None,
                # partition struct fields carry the SPEC's partition
                # field id (1000+), not a fixed manifest id
                "field-id": pf["field-id"],
            }
        )
    partition_record = {
        "type": "record",
        "name": "r102",
        "fields": pfields,
    }
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": partition_record,
             "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long",
             "field-id": 104},
            {
                "name": "lower_bounds",
                "type": ["null", _bounds_kv_schema("k_v_lower", 126, 127)],
                "default": None,
                "field-id": 125,
            },
            {
                "name": "upper_bounds",
                "type": ["null", _bounds_kv_schema("k_v_upper", 129, 130)],
                "default": None,
                "field-id": 128,
            },
            {
                "name": "null_value_counts",
                "type": [
                    "null",
                    {
                        "type": "array",
                        "items": {
                            "type": "record",
                            "name": "k_v_nulls",
                            "fields": [
                                {
                                    "name": "key",
                                    "type": "int",
                                    "field-id": 121,
                                },
                                {
                                    "name": "value",
                                    "type": "long",
                                    "field-id": 122,
                                },
                            ],
                        },
                        "logicalType": "map",
                    },
                ],
                "default": None,
                "field-id": 110,
            },
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


def _current_spec(meta: dict) -> dict:
    sid = meta["default-spec-id"]
    for s in meta["partition-specs"]:
        if s["spec-id"] == sid:
            return s
    raise ValueError(f"default-spec-id {sid} not in partition-specs")


# ------------------------------------------------------------- metadata io


def _metadata_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _version_hint(path: str) -> str:
    return os.path.join(_metadata_dir(path), "version-hint.text")


def _metadata_file(path: str, v: int) -> str:
    return os.path.join(_metadata_dir(path), f"v{v}.metadata.json")


def _current_version(path: str) -> int | None:
    """Current metadata version: the hint if valid, else the max vN on
    disk (the spec's recovery path), else None (not a table)."""
    md = _metadata_dir(path)
    if not os.path.isdir(md):
        return None
    best = None
    for fn in os.listdir(md):
        if fn.startswith("v") and fn.endswith(".metadata.json"):
            try:
                n = int(fn[1:].split(".")[0])
            except ValueError:
                continue
            best = n if best is None else max(best, n)
    hint = _version_hint(path)
    if os.path.exists(hint):
        try:
            h = int(open(hint, encoding="utf-8").read().strip())
            if os.path.exists(_metadata_file(path, h)):
                return max(h, best if best is not None else h)
        except ValueError:
            pass
    return best


def load_metadata(path: str, version: int | None = None) -> dict:
    v = _current_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"not an iceberg_lite table: {path}")
    with open(_metadata_file(path, v), encoding="utf-8") as f:
        meta = json.load(f)
    if meta.get("format-version") not in (1, 2):
        raise NotImplementedError(
            f"format-version {meta.get('format-version')} not supported"
        )
    import re as _re

    for spec in meta.get("partition-specs", []):
        for pf in spec.get("fields", []):
            t = pf.get("transform", "identity")
            if t not in (
                "identity",
                "day",
                "hour",
                "month",
                "year",
            ) and not _re.fullmatch(r"(bucket|truncate)\[\d+\]", t):
                raise NotImplementedError(
                    f"transform {t!r} not supported (identity, day, hour, "
                    "month, year, bucket[N], truncate[W])"
                )
    return meta


def _commit_metadata(path: str, version: int, meta: dict) -> None:
    """Atomic metadata commit: link-claim v<version>.metadata.json, then
    update version-hint (a pointer readers only use as a hint)."""
    md = _metadata_dir(path)
    os.makedirs(md, exist_ok=True)
    dest = _metadata_file(path, version)
    tmp = os.path.join(md, f".{uuid.uuid4().hex}.json.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(meta, f, separators=(",", ":"))
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, dest)
    except FileExistsError as exc:
        raise ConcurrentWriteError(
            f"metadata v{version} committed concurrently at {path}"
        ) from exc
    finally:
        os.unlink(tmp)
    hint_tmp = os.path.join(md, f".{uuid.uuid4().hex}.hint.tmp")
    with open(hint_tmp, "w", encoding="utf-8") as f:
        f.write(str(version))
    os.replace(hint_tmp, _version_hint(path))


# ------------------------------------------------------------------ write


def _resolve_descriptors(
    meta: dict | None,
    df_schema,
    partition_by: tuple[str, ...] | None,
    partition_transforms: tuple[str, ...] | None,
) -> list[dict]:
    """Transform descriptors for a write: from the PINNED spec when the
    table exists (validating any caller-given layout against it), else
    from the args + the write schema. ``partition_by`` is identity
    sugar; ``partition_transforms`` accepts 'day(col)', 'hour(col)',
    'month(col)', 'year(col)', 'bucket(N, col)', 'identity(col)' or a
    bare column name."""
    if partition_by is not None and partition_transforms is not None:
        raise ValueError(
            "pass partition_by OR partition_transforms, not both"
        )
    want: list[tuple[str, str, int | None]] | None = None
    if partition_transforms is not None:
        want = [parse_transform(s) for s in partition_transforms]
    elif partition_by is not None:
        want = [("identity", c, None) for c in partition_by]
    if meta is not None:
        schema = _current_schema(meta)
        descs = [
            _transform_of_spec_field(pf, schema)
            for pf in _current_spec(meta)["fields"]
        ]
        if want is not None:
            pinned = [(d["transform"], d["source"], d["n"]) for d in descs]
            if want != pinned:
                raise ValueError(
                    f"partition layout {want} does not match the "
                    f"table's pinned spec {pinned}"
                )
        return descs
    by_name = {f.name: f for f in df_schema.fields}
    descs = []
    for i, (t, src, n) in enumerate(want or []):
        if src not in by_name:
            raise ValueError(
                f"partition source column {src!r} not in the write schema"
            )
        from pyspark.sql import types as T

        if isinstance(
            by_name[src].dataType, (T.StructType, T.ArrayType, T.MapType)
        ):
            raise NotImplementedError(
                f"partitioning by nested column {src!r} is not supported "
                "(the spec partitions on primitive source fields)"
            )
        st = _iceberg_type(by_name[src].dataType)
        _validate_transform(t, st, n)
        descs.append(
            {
                "transform": t,
                "source": src,
                "source_type": st,
                "name": src if t == "identity" else f"{src}_{t}",
                "n": n,
                "field-id": 1000 + i,
            }
        )
    return descs


def write_iceberg(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] | None = None,
    partition_transforms: tuple[str, ...] | None = None,
    replace_partitions: list[dict] | None = None,
    replace_paths: list[str] | None = None,
    writer_options: dict[str, str] | None = None,
    commit_timestamp_ms: int | None = None,
    operation: str | None = None,
    summary_extra: dict | None = None,
    distribution_mode: str | None = None,
    _drop_deletes: bool = False,
) -> int:
    """Write ``df`` as an iceberg_lite snapshot; returns the snapshot id.

    ``mode="append"`` adds one manifest and REUSES the prior manifests in
    the new manifest list (commit cost O(new files)); ``"overwrite"``
    starts a fresh manifest list (prior snapshots keep theirs — time
    travel intact until :func:`expire_snapshots`). With
    ``replace_partitions`` (a list of partition-tuple dicts, mode
    "overwrite") only entries in the named partitions are dropped: prior
    entries OUTSIDE them are carried into one rewritten manifest with
    status=EXISTING and their original snapshot/sequence numbers, per
    the spec — a partition named with no new rows is thereby dropped.
    Schema-on-write matches delta_lite: drifted appends raise, full
    overwrites evolve (new schema-id, same field-id assignment
    discipline); replace_partitions never evolves. The partition SPEC is
    pinned at creation: ``partition_by`` declares identity transforms,
    ``partition_transforms`` the spec's transformed partitioning —
    ``day(col)``/``month(col)``/``year(col)`` on date/timestamp sources,
    ``hour(col)`` on timestamps, ``bucket(N, col)`` on
    int/long/string/date (spec murmur3 bucket hash). Transformed
    partition values are stored in manifests as the spec's int ordinals;
    the physical hive layout uses real Iceberg's human-readable spells
    (``col_day=2026-08-13``, ``col_hour=2026-08-13-14``). Temporal
    transforms evaluate in the session timezone — the engine pins UTC
    (``sources.ensure_engine_confs``), matching the spec.

    Scale shape: the data write is ``df.write.parquet`` (distributed,
    hive layout under ``data/``); the manifest/metadata writes are
    driver-side and metadata-scale, exactly like the real table format's
    commit path. ``distribution_mode="hash"`` is the spec's
    ``write.distribution-mode=hash``: shuffle by the physical partition
    columns so each directory is written by one owning task (one file
    per partition, no small-files explosion — guide §6); the default
    None keeps the caller's layout."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unsupported mode {mode!r}")
    if replace_partitions is not None and mode != "overwrite":
        raise ValueError("replace_partitions requires mode='overwrite'")
    if replace_paths is not None and mode != "overwrite":
        raise ValueError("replace_paths requires mode='overwrite'")
    now_ms = (
        int(commit_timestamp_ms)
        if commit_timestamp_ms is not None
        else int(time.time() * 1000)
    )
    cur_v = _current_version(path)
    meta = load_metadata(path) if cur_v is not None else None
    descriptors = _resolve_descriptors(
        meta, df.schema, partition_by, partition_transforms
    )

    if meta is not None:
        logged_fp = _schema_fingerprint(_spark_schema_of(meta))
        df_fp = _schema_fingerprint(df.schema)
        if df_fp != logged_fp:
            if (
                mode == "append"
                or replace_partitions is not None
                or replace_paths is not None
            ):
                raise DeltaSchemaError(
                    f"write schema {df_fp} does not match the table "
                    f"schema {logged_fp}; appends and partition/path "
                    "replacements must match exactly"
                )
            missing = [
                d["source"] for d in descriptors if d["source"] not in df_fp
            ]
            if missing:
                raise DeltaSchemaError(
                    f"schema evolution cannot drop partition source "
                    f"columns {missing}"
                )

    commit_uuid = uuid.uuid4().hex
    data_root = os.path.join(path, "data")
    os.makedirs(data_root, exist_ok=True)
    # derive the physical hive layout: identity partitions write the
    # source column; transforms write a derived path-segment column
    # (dropped from the data files by partitionBy, so data files keep
    # the raw source column — exactly the spec's physical shape)
    write_df = df
    phys_cols = []
    for d in descriptors:
        if d["transform"] == "identity":
            phys_cols.append(d["source"])
        else:
            write_df = write_df.withColumn(d["name"], _transform_column(d))
            phys_cols.append(d["name"])
    adds_rel = _write_data_files(
        write_df,
        data_root,
        tuple(phys_cols),
        commit_uuid,
        writer_options,
        distribution_mode,
    )
    return commit_snapshot(
        path,
        adds_rel,
        df.schema,
        mode=mode,
        partition_by=partition_by,
        partition_transforms=partition_transforms,
        replace_partitions=replace_partitions,
        replace_paths=replace_paths,
        commit_timestamp_ms=commit_timestamp_ms,
        operation=operation,
        summary_extra=summary_extra,
        _commit_uuid=commit_uuid,
        _drop_deletes=_drop_deletes,
    )


def commit_snapshot(
    path: str,
    adds_rel: list[str],
    df_schema,
    mode: str = "append",
    partition_by: tuple[str, ...] | None = None,
    partition_transforms: tuple[str, ...] | None = None,
    replace_partitions: list[dict] | None = None,
    replace_paths: list[str] | None = None,
    commit_timestamp_ms: int | None = None,
    operation: str | None = None,
    summary_extra: dict | None = None,
    _commit_uuid: str | None = None,
    _drop_deletes: bool = False,
) -> int:
    """Commit PRE-STAGED parquet files (paths relative to ``<path>/data``,
    already in place) as one snapshot — the metadata-only half of
    :func:`write_iceberg`, exposed for writers that produce their data
    files without a Spark job (the lake adapter's metadata-scale
    single-record ingest). ``df_schema`` is the pyspark StructType the
    files conform to; schema-on-write, pinned layout, manifest reuse,
    and bounds all apply identically.

    ``replace_paths`` (mode "overwrite", exclusive with
    ``replace_partitions``): drop exactly those live data files (by
    their manifest ``file_path``) and carry every other prior entry as
    status=EXISTING with its original snapshot/sequence numbers — the
    file-scoped rewrite a copy-on-write row-level DELETE commits. A
    named path not live in the current snapshot raises (a delete built
    against a stale snapshot must collide, not silently resurrect)."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unsupported mode {mode!r}")
    if replace_partitions is not None and mode != "overwrite":
        raise ValueError("replace_partitions requires mode='overwrite'")
    if replace_paths is not None:
        if mode != "overwrite":
            raise ValueError("replace_paths requires mode='overwrite'")
        if replace_partitions is not None:
            raise ValueError(
                "replace_paths and replace_partitions are exclusive"
            )
    now_ms = (
        int(commit_timestamp_ms)
        if commit_timestamp_ms is not None
        else int(time.time() * 1000)
    )
    cur_v = _current_version(path)
    meta = load_metadata(path) if cur_v is not None else None
    descriptors = _resolve_descriptors(
        meta, df_schema, partition_by, partition_transforms
    )
    if meta is not None:
        logged_fp = _schema_fingerprint(_spark_schema_of(meta))
        df_fp = _schema_fingerprint(df_schema)
        if df_fp != logged_fp and (
            mode == "append"
            or replace_partitions is not None
            or replace_paths is not None
        ):
            raise DeltaSchemaError(
                f"write schema {df_fp} does not match the table "
                f"schema {logged_fp}; appends and partition/path "
                "replacements must match exactly"
            )
    commit_uuid = _commit_uuid or uuid.uuid4().hex
    data_root = os.path.join(path, "data")

    # ---- construct the new metadata ----
    if meta is None:
        schema = _iceberg_schema(df_schema, 0)
        by_name = {f["name"]: f for f in schema["fields"]}
        spec_fields = [
            {
                "name": d["name"],
                "transform": (
                    f"{d['transform']}[{d['n']}]"
                    if d["transform"] in ("bucket", "truncate")
                    else d["transform"]
                ),
                "source-id": by_name[d["source"]]["id"],
                "field-id": 1000 + i,
            }
            for i, d in enumerate(descriptors)
        ]
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": path,
            "last-sequence-number": 0,
            "last-updated-ms": now_ms,
            "last-column-id": _max_field_id(schema),
            "schemas": [schema],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "default-spec-id": 0,
            "last-partition-id": 1000 + len(spec_fields) - 1,
            "properties": {"write.format.default": "parquet"},
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        new_version = 1
    else:
        meta = json.loads(json.dumps(meta))  # deep copy
        new_version = (cur_v or 0) + 1
        df_fp = _schema_fingerprint(df_schema)
        if df_fp != _schema_fingerprint(_spark_schema_of(meta)):
            missing = [
                d["source"]
                for d in descriptors
                if d["source"] not in df_fp
            ]
            if missing:
                raise DeltaSchemaError(
                    f"schema evolution cannot drop partition source "
                    f"columns {missing}"
                )
            sid = max(s["schema-id"] for s in meta["schemas"]) + 1
            schema = _iceberg_schema(df_schema, sid)
            meta["schemas"].append(schema)
            meta["current-schema-id"] = sid
            meta["last-column-id"] = max(
                meta["last-column-id"], _max_field_id(schema)
            )

    seq = meta["last-sequence-number"] + 1
    snapshot_id = int.from_bytes(os.urandom(7), "big")
    schema = _current_schema(meta)

    # a partial-overwrite commit (replace_partitions / replace_paths)
    # built without awareness of LIVE position-delete files would
    # silently RESURRECT deleted rows: its carried EXISTING entries lose
    # their deletes when the fresh manifest list drops the delete
    # manifests. Refuse unless the caller is materialize_deletes, which
    # consumes them deliberately (r11, merge-on-read). A FULL overwrite
    # replaces every row, so dropping the delete files with the data
    # they applied to is exactly right — no guard needed; appends reuse
    # the prior manifest list wholesale, delete manifests included.
    if (
        mode == "overwrite"
        and (replace_partitions is not None or replace_paths is not None)
        and not _drop_deletes
        and meta["current-snapshot-id"] != -1
        and _live_delete_files(meta)
    ):
        raise ValueError(
            "table has live position-delete files; run "
            "materialize_deletes() before partial-overwrite commits "
            "(replace_partitions/replace_paths/COW DML) — full "
            "overwrites and appends are always fine"
        )

    # ---- the new manifest ----
    entry_schema = _manifest_entry_schema(meta)
    entries = []
    total_rows = 0
    existing_rows = 0
    if replace_partitions is not None and meta["current-snapshot-id"] != -1:
        # carry every prior entry OUTSIDE the named partitions into the
        # rewritten manifest as status=EXISTING, preserving its original
        # snapshot and sequence numbers (the spec's manifest rewrite)
        cur_snap = _snapshot_by_id(meta, meta["current-snapshot-id"])
        _, prior_ms = avro_lite.read_container(cur_snap["manifest-list"])
        for m in prior_ms:
            if m.get("content", 0) != 0:
                continue  # delete manifests are never carried as data
            _, prior_entries = avro_lite.read_container(
                m["manifest_path"]
            )
            for e in prior_entries:
                if e["status"] == 2:
                    continue
                pv = e["data_file"]["partition"]
                if any(
                    all(pv.get(k) == v for k, v in want.items())
                    for want in replace_partitions
                ):
                    continue  # replaced: dropped from the new snapshot
                entries.append({**e, "status": 0})
                existing_rows += e["data_file"]["record_count"]
    if replace_paths is not None and meta["current-snapshot-id"] != -1:
        # carry every prior entry EXCEPT the named files as
        # status=EXISTING (original snapshot/sequence numbers kept) —
        # the copy-on-write DELETE's manifest rewrite
        drop = {os.path.normpath(p) for p in replace_paths}
        seen: set[str] = set()
        carried: set[str] = set()
        cur_snap = _snapshot_by_id(meta, meta["current-snapshot-id"])
        _, prior_ms = avro_lite.read_container(cur_snap["manifest-list"])
        for m in prior_ms:
            if m.get("content", 0) != 0:
                continue  # delete manifests are never carried as data
            _, prior_entries = avro_lite.read_container(
                m["manifest_path"]
            )
            for e in prior_entries:
                if e["status"] == 2:
                    continue
                fp = os.path.normpath(e["data_file"]["file_path"])
                if fp in drop:
                    seen.add(fp)
                    continue
                if fp in carried:
                    continue  # defensive: reused-manifest duplicate
                carried.add(fp)
                entries.append({**e, "status": 0})
                existing_rows += e["data_file"]["record_count"]
        missing = sorted(drop - seen)
        if missing:
            raise ValueError(
                f"replace_paths named files not live in the current "
                f"snapshot: {missing} — the rewrite was built against a "
                "stale snapshot"
            )
    n_existing = len(entries)
    import pyarrow.parquet as pq

    pnames = tuple(d["name"] for d in descriptors)
    for rel in adds_rel:
        full = os.path.join(data_root, rel)
        nrows = pq.ParquetFile(full).metadata.num_rows
        total_rows += nrows
        pvals_raw = _partition_values(rel, pnames)
        pvals = {}
        for d in descriptors:
            v = pvals_raw.get(d["name"])
            if v is not None:
                if d["transform"] == "identity":
                    t = d["source_type"]
                    if t == "long" or t == "int":
                        v = int(v)
                    elif t in ("double", "float"):
                        v = float(v)
                    elif t == "boolean":
                        v = v == "true"
                else:
                    # hive segment spells the human-readable transform
                    # value; manifests store the spec's int ordinal
                    v = _transform_path_value(d, v)
            pvals[d["name"]] = v
        lower, upper, nvc = _file_bounds(full, schema)
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": full,
                    "file_format": "PARQUET",
                    "partition": pvals,
                    "record_count": nrows,
                    "file_size_in_bytes": os.path.getsize(full),
                    "lower_bounds": lower or None,
                    "upper_bounds": upper or None,
                    "null_value_counts": nvc or None,
                },
            }
        )
    md_dir = _metadata_dir(path)
    os.makedirs(md_dir, exist_ok=True)
    manifest_path = os.path.join(md_dir, f"{commit_uuid}-m0.avro")
    avro_lite.write_container(
        manifest_path,
        entry_schema,
        entries,
        extra_meta={
            "schema": json.dumps(schema).encode(),
            "partition-spec": json.dumps(
                _current_spec(meta)["fields"]
            ).encode(),
            "partition-spec-id": str(meta["default-spec-id"]).encode(),
            "format-version": b"2",
            "content": b"data",
        },
    )
    min_seq = min(
        [seq]
        + [
            e["sequence_number"]
            for e in entries
            if e["status"] == 0 and e.get("sequence_number") is not None
        ]
    )
    new_manifest_rec = {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": meta["default-spec-id"],
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": min_seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries) - n_existing,
        "existing_files_count": n_existing,
        "deleted_files_count": 0,
        "added_rows_count": total_rows,
        "existing_rows_count": existing_rows,
        "deleted_rows_count": 0,
        "partitions": None,
    }

    # ---- the new manifest list: append reuses prior manifests ----
    prior_manifests: list[dict] = []
    if mode == "append" and meta["current-snapshot-id"] != -1:
        cur_snap = _snapshot_by_id(meta, meta["current-snapshot-id"])
        _, prior_manifests = avro_lite.read_container(
            cur_snap["manifest-list"]
        )
    manifest_list_path = os.path.join(
        md_dir, f"snap-{snapshot_id}-1-{commit_uuid}.avro"
    )
    avro_lite.write_container(
        manifest_list_path,
        _MANIFEST_FILE_SCHEMA,
        prior_manifests + [new_manifest_rec],
        extra_meta={
            "snapshot-id": str(snapshot_id).encode(),
            "sequence-number": str(seq).encode(),
            "format-version": b"2",
        },
    )

    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    meta["snapshots"].append(
        {
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            # the spec's lineage pointer (r11): after a rollback, the
            # CURRENT chain of parents is the table history — consumers
            # walk it so abandoned (rolled-back) snapshots never replay
            "parent-snapshot-id": (
                None
                if meta["current-snapshot-id"] == -1
                else meta["current-snapshot-id"]
            ),
            "timestamp-ms": now_ms,
            "summary": {
                "operation": operation
                or ("append" if mode == "append" else "overwrite"),
                # the WRITE MODE separately from the engine label, so
                # incremental append scans can tell an INGEST-labelled
                # append from a MERGE-labelled rewrite (r10)
                "mode": mode,
                # caller properties (the spec allows free summary keys);
                # the streaming sink's exactly-once batch-id dedup lives
                # here, as in the real Iceberg Spark sink
                **(summary_extra or {}),
            },
            "manifest-list": manifest_list_path,
            "schema-id": meta["current-schema-id"],
        }
    )
    meta["current-snapshot-id"] = snapshot_id
    meta["snapshot-log"].append(
        {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
    )
    _commit_metadata(path, new_version, meta)
    return snapshot_id


def _commit_delete_files(
    path: str,
    delete_rels: list[str],
    commit_timestamp_ms: int | None = None,
    summary_extra: dict | None = None,
) -> int:
    """Commit PRE-STAGED position-delete parquet files (relative to
    ``<path>/data``; each holds ``(file_path string, pos long)`` rows)
    as ONE merge-on-read DELETE snapshot (r11): a new content=1 DELETE
    manifest is appended to the current snapshot's manifest list — every
    prior manifest (data and delete) reused verbatim, so the commit is
    O(delete files) like an append. Summary mode is
    ``merge-on-read-delete`` (NOT ``append``): incremental append scans
    and the streaming source correctly treat it as a non-append."""
    import pyarrow.parquet as pq

    meta = load_metadata(path)
    if meta["current-snapshot-id"] == -1:
        raise FileNotFoundError(
            f"cannot delete from an empty table: {path}"
        )
    cur_v = _current_version(path)
    meta = json.loads(json.dumps(meta))  # deep copy
    new_version = (cur_v or 0) + 1
    now_ms = (
        int(commit_timestamp_ms)
        if commit_timestamp_ms is not None
        else int(time.time() * 1000)
    )
    seq = meta["last-sequence-number"] + 1
    snapshot_id = int.from_bytes(os.urandom(7), "big")
    schema = _current_schema(meta)
    descriptors = [
        _transform_of_spec_field(pf, schema)
        for pf in _current_spec(meta)["fields"]
    ]
    data_root = os.path.join(path, "data")
    commit_uuid = uuid.uuid4().hex
    entries = []
    total_rows = 0
    for rel in delete_rels:
        full = os.path.join(data_root, rel)
        nrows = pq.ParquetFile(full).metadata.num_rows
        total_rows += nrows
        entries.append(
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 1,  # POSITION_DELETES
                    "file_path": full,
                    "file_format": "PARQUET",
                    # path-position deletes are partition-unscoped; the
                    # entry's partition struct stays all-null
                    "partition": {d["name"]: None for d in descriptors},
                    "record_count": nrows,
                    "file_size_in_bytes": os.path.getsize(full),
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "null_value_counts": None,
                },
            }
        )
    md_dir = _metadata_dir(path)
    manifest_path = os.path.join(md_dir, f"{commit_uuid}-d0.avro")
    avro_lite.write_container(
        manifest_path,
        _manifest_entry_schema(meta),
        entries,
        extra_meta={
            "schema": json.dumps(schema).encode(),
            "partition-spec": json.dumps(
                _current_spec(meta)["fields"]
            ).encode(),
            "partition-spec-id": str(meta["default-spec-id"]).encode(),
            "format-version": b"2",
            "content": b"deletes",
        },
    )
    delete_manifest_rec = {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": meta["default-spec-id"],
        "content": 1,  # DELETES manifest
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": total_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "partitions": None,
    }
    cur_snap = _snapshot_by_id(meta, meta["current-snapshot-id"])
    _, prior_manifests = avro_lite.read_container(
        cur_snap["manifest-list"]
    )
    manifest_list_path = os.path.join(
        md_dir, f"snap-{snapshot_id}-1-{commit_uuid}.avro"
    )
    avro_lite.write_container(
        manifest_list_path,
        _MANIFEST_FILE_SCHEMA,
        prior_manifests + [delete_manifest_rec],
        extra_meta={
            "snapshot-id": str(snapshot_id).encode(),
            "sequence-number": str(seq).encode(),
            "format-version": b"2",
        },
    )
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    meta["snapshots"].append(
        {
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "parent-snapshot-id": meta["current-snapshot-id"],
            "timestamp-ms": now_ms,
            "summary": {
                "operation": "DELETE",
                "mode": "merge-on-read-delete",
                "deleted-records": str(total_rows),
                **(summary_extra or {}),
            },
            "manifest-list": manifest_list_path,
            "schema-id": meta["current-schema-id"],
        }
    )
    meta["current-snapshot-id"] = snapshot_id
    meta["snapshot-log"].append(
        {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
    )
    _commit_metadata(path, new_version, meta)
    return snapshot_id


def _snapshot_by_id(meta: dict, snapshot_id: int) -> dict:
    for s in meta["snapshots"]:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise ValueError(
        f"snapshot {snapshot_id} not found (expired or never existed)"
    )


# ------------------------------------------------------------------- read


def _ancestry(meta: dict) -> list[dict]:
    """The CURRENT table lineage, oldest → newest: walk
    ``parent-snapshot-id`` from the current snapshot through the
    retained list (r11). After a rollback, abandoned snapshots are NOT
    on this chain — they stay retained (re-roll-forward, time travel)
    but are not table history, so lineage-aware consumers (incremental
    scans, the streaming source) never replay them as appends.

    Legacy snapshots without the pointer (pre-r11 commits) fall back to
    their list predecessor — pre-r11 histories were strictly linear, so
    the reconstruction is exact."""
    snaps = meta["snapshots"]
    if meta["current-snapshot-id"] == -1 or not snaps:
        return []
    by_id = {s["snapshot-id"]: s for s in snaps}
    idx = {s["snapshot-id"]: i for i, s in enumerate(snaps)}
    chain: list[dict] = []
    cur = by_id.get(meta["current-snapshot-id"])
    while cur is not None:
        chain.append(cur)
        if "parent-snapshot-id" in cur:
            pid = cur["parent-snapshot-id"]
            cur = by_id.get(pid) if pid is not None else None
        else:  # legacy linear history: predecessor in list order
            i = idx[cur["snapshot-id"]]
            cur = snaps[i - 1] if i > 0 else None
    return list(reversed(chain))


def _snapshot_is_append(meta: dict, snap: dict) -> bool:
    """Whether a snapshot APPENDED data (vs rewrote it) — the predicate
    the incremental append scan and the streaming source are defined
    over.

    Snapshots written since the ``mode`` summary key exists carry the
    answer directly. Older snapshots (or tables written by the pre-r10
    code, whose appends carried free-form labels like ``INGEST``) are
    classified from the MANIFEST LIST instead of the label, per r10
    ADVICE: an append's new manifests hold only ADDED entries
    (``existing_files_count == deleted_files_count == 0``) and reuse
    every prior manifest verbatim; a rewrite either carries EXISTING
    entries into its new manifest or drops prior manifests from the
    list. The label is free-form per the spec and never trusted.
    """
    summary = snap.get("summary") or {}
    if "mode" in summary:
        return summary["mode"] == "append"
    seq = snap["sequence-number"]
    _, manifests = avro_lite.read_container(snap["manifest-list"])
    for m in manifests:
        if m["sequence_number"] == seq and (
            m["existing_files_count"] > 0 or m["deleted_files_count"] > 0
        ):
            return False  # rewrite: carried or deleted prior files
    # did it keep every manifest its PREDECESSOR had? The parent
    # pointer names the true predecessor when present (post-rollback
    # lists are not lineage-ordered); legacy snapshots use list order.
    snaps = meta["snapshots"]
    by_id = {s["snapshot-id"]: s for s in snaps}
    idx = next(
        (
            i
            for i, s in enumerate(snaps)
            if s["snapshot-id"] == snap["snapshot-id"]
        ),
        0,
    )
    prev = None
    if "parent-snapshot-id" in snap:
        prev = by_id.get(snap["parent-snapshot-id"])
    elif idx > 0:
        prev = snaps[idx - 1]
    if prev is not None:
        try:
            _, prev_ms = avro_lite.read_container(prev["manifest-list"])
        except OSError:
            return True  # prior list unreadable: no evidence of a drop
        kept = {m["manifest_path"] for m in manifests}
        if any(m["manifest_path"] not in kept for m in prev_ms):
            return False  # dropped prior data: an overwrite
        return True
    # OLDEST retained snapshot (its predecessors expired): an append at
    # seq > 1 reuses its predecessors' manifests, so its manifest list
    # holds manifests with sequence_number < seq; a FULL overwrite's
    # list holds only seq-manifests. seq == 1 is trivially an append
    # (first commit of the table). The rare append-onto-EMPTY-table at
    # seq > 1 (no prior manifests to reuse) conservatively classifies
    # as a rewrite — a raise/skip, never silent double-counting.
    seq0 = snap["sequence-number"]
    if seq0 == 1:
        return True
    return any(m["sequence_number"] < seq0 for m in manifests)


def _snapshot_files(meta: dict, snap: dict) -> list[dict]:
    """Non-deleted data_file records of a snapshot (manifest replay).
    DATA manifests only (content=0) — position-delete files live in
    content=1 manifests and are served by
    :func:`_snapshot_delete_files`."""
    _, manifests = avro_lite.read_container(snap["manifest-list"])
    files: list[dict] = []
    for m in manifests:
        if m.get("content", 0) != 0:
            continue  # delete manifest: not data
        _, entries = avro_lite.read_container(m["manifest_path"])
        for e in entries:
            if e["status"] != 2:  # 2 = DELETED
                files.append(e["data_file"])
    return files


def _snapshot_delete_files(meta: dict, snap: dict) -> list[dict]:
    """POSITION-DELETE file records of a snapshot — the spec's content=1
    manifests (r11, merge-on-read deletes). Each parquet holds
    ``(file_path string, pos long)`` rows naming deleted positions."""
    _, manifests = avro_lite.read_container(snap["manifest-list"])
    files: list[dict] = []
    for m in manifests:
        if m.get("content", 0) != 1:
            continue
        _, entries = avro_lite.read_container(m["manifest_path"])
        for e in entries:
            if e["status"] != 2:
                files.append(e["data_file"])
    return files


def _live_delete_files(meta: dict) -> list[dict]:
    """Delete files of the CURRENT snapshot ([] for empty tables)."""
    if meta["current-snapshot-id"] == -1:
        return []
    return _snapshot_delete_files(
        meta, _snapshot_by_id(meta, meta["current-snapshot-id"])
    )


def _bounds_stats(data_file: dict, schema: dict) -> dict:
    """A manifest entry's record count, bounds and null counts in
    delta_lite's parsed-stats shape (``numRecords``, ``minValues``,
    ``maxValues``, ``nullCount``), keyed by top-level column name.
    Bounds of a type with no single-value deserializer are left out —
    absent bounds may match."""
    by_id = {f["id"]: f for f in schema["fields"]}

    def kv(key: str) -> dict:
        return {
            e["key"]: e["value"]
            for e in (data_file.get(key) or [])
            if e["key"] in by_id
        }

    lo, hi = kv("lower_bounds"), kv("upper_bounds")
    mins: dict = {}
    maxs: dict = {}
    for fid in sorted(lo.keys() & hi.keys()):
        f = by_id[fid]
        a = _ice_deserialize(f["type"], lo[fid])
        b = _ice_deserialize(f["type"], hi[fid])
        if a is not None and b is not None:
            mins[f["name"]], maxs[f["name"]] = a, b
    return {
        "numRecords": data_file.get("record_count"),
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": {
            by_id[fid]["name"]: n
            for fid, n in kv("null_value_counts").items()
        },
    }


def _fs_path(p: str) -> str:
    """One spelling of a data-file reference, an absolute local path:
    manifests store the path the writer was given, while Spark's
    ``_metadata.file_path`` — the ``file_path`` column of position-delete
    files — is a percent-encoded ``file:`` URI."""
    if p.startswith("file:"):
        from urllib.parse import unquote, urlparse

        p = unquote(urlparse(p).path)
    return os.path.abspath(p)


def _hive_partition(data_file: dict, descriptors: list[dict]) -> dict:
    """A manifest entry's partition tuple as its hive path spells it
    (``ingest_ts_day=2026-08-13`` → ``"2026-08-13"``; None for a null
    value): the ``partition`` of a :func:`delta_lite.read_data_files`
    record."""
    out = {}
    for d in descriptors:
        v = data_file["partition"].get(d["name"])
        out[d["name"]] = None if v is None else _transform_path_str(d, v)
    return out


def _file_records(files: list[dict], descriptors: list[dict]) -> list[dict]:
    """:func:`delta_lite.read_data_files` records of manifest entries."""
    return [
        {"path": f["file_path"], "partition": _hive_partition(f, descriptors)}
        for f in files
    ]


# the spec's position-delete file schema; delete_iceberg writes Spark's
# _metadata.file_path (string) and _metadata.row_index (long) as these
_POSITION_DELETE_SCHEMA = "file_path STRING, pos BIGINT"


def _position_deletes(
    spark: SparkSession, path: str, delete_files: list[dict]
) -> DataFrame:
    """The ``(file_path, pos)`` rows of position-delete files, broadcast:
    a delete set is metadata-scale next to the data it deletes from.
    Delete files are written unpartitioned under ``data/``."""
    from pyspark.sql import functions as F

    return F.broadcast(
        read_data_files(
            spark,
            os.path.join(path, "data"),
            _POSITION_DELETE_SCHEMA,
            [{"path": f["file_path"], "partition": {}} for f in delete_files],
        )
    )


def _drop_deleted(df: DataFrame, dels: DataFrame) -> DataFrame:
    """``df`` (a read of data files) without the rows whose position
    ``dels`` (:func:`_position_deletes`) names: a left anti-join on
    Spark's ``_metadata`` file path and row index — the columns
    ``delete_iceberg`` wrote, so both sides spell the path alike."""
    from pyspark.sql import functions as F

    return (
        df.withColumns(
            {
                "__ice_fp": F.col("_metadata.file_path"),
                "__ice_pos": F.col("_metadata.row_index"),
            }
        )
        .join(
            dels,
            (F.col("__ice_fp") == dels["file_path"])
            & (F.col("__ice_pos") == dels["pos"]),
            "left_anti",
        )
        .drop("__ice_fp", "__ice_pos")
    )


def _snapshot_view(meta: dict, snap: dict) -> tuple[dict, list[dict]]:
    """(metadata with the snapshot's schema current, partition
    descriptors): the schema a snapshot's files were written with."""
    snap_meta = {
        **meta,
        "current-schema-id": snap.get(
            "schema-id", meta["current-schema-id"]
        ),
    }
    descriptors = [
        _transform_of_spec_field(pf, _current_schema(snap_meta))
        for pf in _current_spec(meta)["fields"]
    ]
    return snap_meta, descriptors


def live_files(path: str) -> list[dict]:
    """The data files of the current snapshot, from the metadata alone
    (no Spark job, no data read): one ``{"path", "size",
    "record_count", "stats", "deleted", "partition"}`` record per file —
    its path, its manifest byte size (``file_size_in_bytes``), its
    manifest record count, its bounds as :func:`_bounds_stats`, the row
    positions live position-delete files remove from it, and its
    manifest partition tuple as the hive path spells it
    (:func:`_hive_partition`), so that each record is a
    ``delta_lite.read_data_files`` record. Partition paths are checked
    as a Spark read checks them; unsupported format versions and transforms
    are refused by :func:`load_metadata`."""
    import pyarrow.parquet as pq

    meta = load_metadata(path)
    if meta["current-snapshot-id"] == -1:
        return []
    snap = _snapshot_by_id(meta, meta["current-snapshot-id"])
    snap_meta, descriptors = _snapshot_view(meta, snap)
    files = _snapshot_files(meta, snap)
    records = _file_records(files, descriptors)
    _check_partitions(os.path.join(path, "data"), records)
    deleted: dict[str, set[int]] = {}
    for d in _snapshot_delete_files(meta, snap):
        t = pq.ParquetFile(d["file_path"]).read(columns=["file_path", "pos"])
        for fp, pos in zip(
            t.column("file_path").to_pylist(), t.column("pos").to_pylist()
        ):
            deleted.setdefault(_fs_path(fp), set()).add(pos)
    schema = _current_schema(snap_meta)
    return [
        {
            **r,
            "size": f["file_size_in_bytes"],
            "record_count": f["record_count"],
            "stats": _bounds_stats(f, schema),
            "deleted": frozenset(deleted.get(_fs_path(f["file_path"]), ())),
        }
        for r, f in zip(records, files)
    ]


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    as_of_timestamp_ms: int | None = None,
    partition_filter: dict | None = None,
    where: str | None = None,
) -> DataFrame:
    """Read an iceberg_lite table: current snapshot, a ``snapshot_id``,
    or the snapshot current AS OF ``as_of_timestamp_ms`` (snapshot-log
    resolution, the spec's timestamp travel). ``partition_filter``
    ({col: value}) prunes data files from the MANIFEST entries' typed
    partition tuples — no listing, no footer reads for skipped files.
    ``where`` (a SQL predicate) is ALWAYS applied to the returned frame;
    simple conjunctive predicates additionally prune files from the
    manifests' per-column bounds (the format's data skipping). The table
    schema (by schema-id of the snapshot) is supplied to the parquet
    reader, so hive partition values cast to their declared types
    exactly as in delta_lite."""
    meta = load_metadata(path)
    if snapshot_id is not None and as_of_timestamp_ms is not None:
        raise ValueError("pass snapshot_id OR as_of_timestamp_ms, not both")
    if as_of_timestamp_ms is not None:
        best = None
        for rec in meta["snapshot-log"]:
            if rec["timestamp-ms"] <= as_of_timestamp_ms:
                best = rec["snapshot-id"]
        if best is None:
            raise ValueError(
                f"no snapshot at or before {as_of_timestamp_ms}"
            )
        snapshot_id = best
    if snapshot_id is None:
        snapshot_id = meta["current-snapshot-id"]
    # schema as of that snapshot (schema-id pinned in the snapshot)
    snap = _snapshot_by_id(meta, snapshot_id)
    snap_meta, descriptors = _snapshot_view(meta, snap)
    schema = _spark_schema_of(snap_meta)
    if snapshot_id == -1:
        return spark.createDataFrame([], schema)
    files = _snapshot_files(meta, snap)
    if partition_filter:
        files = [
            f
            for f in files
            if all(
                f["partition"].get(k) == v
                for k, v in partition_filter.items()
            )
        ]
    if where:
        from tscd_datalake_adapter_spark.sources.delta_lite import (
            _parse_conjuncts,
        )

        conjuncts = _parse_conjuncts(where)
        if conjuncts:
            ice_schema = _current_schema(snap_meta)
            files = [
                f
                for f in files
                if _stats_may_match(_bounds_stats(f, ice_schema), conjuncts)
                # transformed partition values prune on SOURCE-column
                # predicates (day/hour/... are order-preserving; bucket
                # prunes equality) — this is the manifest-level pruning
                # a temporal-transformed table exists for
                and _partition_may_match(f, descriptors, conjuncts)
            ]
    df = read_data_files(
        spark,
        os.path.join(path, "data"),
        schema,
        _file_records(files, descriptors),
    )
    delete_files = _snapshot_delete_files(meta, snap) if files else []
    if delete_files:
        # merge-on-read position deletes (r11)
        df = _drop_deleted(df, _position_deletes(spark, path, delete_files))
    if delete_files or any(
        d["transform"] != "identity" for d in descriptors
    ):
        # partition discovery appends the derived path columns
        # (col_day=...) to the explicit schema; the table schema holds
        # only source columns, so project them back out
        df = df.select(*[f.name for f in schema.fields])
    return df.where(where) if where else df


def delete_iceberg(
    spark: SparkSession,
    path: str,
    where: str,
    commit_timestamp_ms: int | None = None,
    strategy: str = "copy-on-write",
) -> dict:
    """``DELETE FROM <table> WHERE <predicate>`` — copy-on-write
    row-level delete, committed as ONE snapshot (r10 verdict item 1; the
    delta twin is :func:`delta_lite.merge_delta`'s machinery).

    Bounds-pruned like the real engine's COW delete: only files whose
    manifest bounds / transformed partition values say the predicate MAY
    match are rewritten; every other live file is carried as a
    status=EXISTING entry with its original snapshot and sequence
    numbers (the ``replace_paths`` manifest rewrite). Rows where the
    predicate is NULL are KEPT (SQL DELETE semantics). When the matched
    count is zero the table is left untouched — no empty commit. Time
    travel to pre-delete snapshots stays intact until
    :func:`expire_snapshots` (this is NOT a GDPR hard erase until then;
    pair with expiry for that).

    Returns ``{"snapshot_id", "deleted_rows", "rewritten_files"}``
    (snapshot_id is the pre-delete current snapshot when nothing
    matched; the new snapshot's summary carries the spec's
    ``deleted-records``).

    Scale shape: two distributed passes over ONLY the candidate files
    (one to count matches — the same findTouchedFiles scan the Spark COW
    path runs — one to rewrite), plus a metadata-scale manifest rewrite.
    At 100 TB with clustered layout the candidates are a handful of
    files, not the table.

    ``strategy="merge-on-read"`` (r11) instead writes the spec's
    POSITION-DELETE files (content=1 manifests; parquet of
    ``(file_path, pos)``): no data file is rewritten — the commit is
    O(matched rows), the shape a 100 TB table wants for small deletes.
    Readers apply the deletes via a broadcast anti-join; COW mutations
    are refused while deletes are pending until
    :func:`materialize_deletes` folds them in. Returns
    ``{"snapshot_id", "deleted_rows", "delete_files"}``."""
    from pyspark.sql import functions as F

    from tscd_datalake_adapter_spark.sources.delta_lite import (
        _parse_conjuncts,
    )

    if strategy not in ("copy-on-write", "merge-on-read"):
        raise ValueError(f"unknown delete strategy {strategy!r}")
    meta = load_metadata(path)
    if meta["current-snapshot-id"] == -1:
        return {
            "snapshot_id": None, "deleted_rows": 0, "rewritten_files": 0,
        }
    live_deletes = _live_delete_files(meta)
    if strategy == "copy-on-write" and live_deletes:
        raise ValueError(
            "table has live position-delete files; run "
            "materialize_deletes() first (or keep using "
            "strategy='merge-on-read')"
        )
    snap = _snapshot_by_id(meta, meta["current-snapshot-id"])
    files = _snapshot_files(meta, snap)
    snap_meta, descriptors = _snapshot_view(meta, snap)
    conjuncts = _parse_conjuncts(where)
    if conjuncts:
        ice_schema = _current_schema(meta)
        candidates = [
            f
            for f in files
            if _stats_may_match(_bounds_stats(f, ice_schema), conjuncts)
            and _partition_may_match(f, descriptors, conjuncts)
        ]
    else:
        candidates = list(files)
    if not candidates:
        return {
            "snapshot_id": snap["snapshot-id"],
            "deleted_rows": 0,
            "rewritten_files": 0,
        }
    schema = _spark_schema_of(meta)
    paths = sorted(f["file_path"] for f in candidates)
    df = read_data_files(
        spark,
        os.path.join(path, "data"),
        _spark_schema_of(snap_meta),
        _file_records(candidates, descriptors),
    )
    # NULL predicate keeps the row: DELETE removes only proven-TRUE rows
    match = F.coalesce(F.expr(where), F.lit(False))

    if strategy == "merge-on-read":
        matched = df.where(match).select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
        )
        if live_deletes:
            # positions already deleted must not double-count (and the
            # predicate may re-match them): subtract the live delete set
            prior = _position_deletes(spark, path, live_deletes)
            matched = matched.join(
                prior, ["file_path", "pos"], "left_anti"
            )
        deleted = matched.count()
        if deleted == 0:
            return {
                "snapshot_id": snap["snapshot-id"],
                "deleted_rows": 0,
                "delete_files": 0,
            }
        # the spec's sort order for position deletes: file_path, pos
        commit_uuid = uuid.uuid4().hex
        rels = _write_data_files(
            matched.repartition(1).sortWithinPartitions(
                "file_path", "pos"
            ),
            os.path.join(path, "data"),
            (),
            commit_uuid,
            None,
        )
        snapshot_id = _commit_delete_files(
            path, rels, commit_timestamp_ms=commit_timestamp_ms
        )
        return {
            "snapshot_id": snapshot_id,
            "deleted_rows": deleted,
            "delete_files": len(rels),
        }

    df = df.select(*[f.name for f in schema.fields])
    deleted = df.where(match).count()
    if deleted == 0:
        return {
            "snapshot_id": snap["snapshot-id"],
            "deleted_rows": 0,
            "rewritten_files": 0,
        }
    snapshot_id = write_iceberg(
        df.where(~match),
        path,
        mode="overwrite",
        replace_paths=paths,
        operation="DELETE",
        summary_extra={"deleted-records": str(deleted)},
        commit_timestamp_ms=commit_timestamp_ms,
    )
    return {
        "snapshot_id": snapshot_id,
        "deleted_rows": deleted,
        "rewritten_files": len(paths),
    }


def materialize_deletes(
    spark: SparkSession,
    path: str,
    commit_timestamp_ms: int | None = None,
) -> dict:
    """Fold pending merge-on-read position deletes into the data files
    (the spec's rewrite-data-files maintenance, r11): every data file
    named by a live delete file is rewritten WITHOUT its deleted
    positions, the untouched files carry as EXISTING entries, and the
    delete manifests are dropped — ONE atomic commit, after which COW
    mutations are allowed again. No-op (no commit) when no deletes are
    pending. Returns ``{"snapshot_id", "rewritten_files",
    "removed_positions"}``.

    Scale shape: only files WITH pending deletes are read and rewritten
    (discovered from the delete files' distinct file_path set —
    metadata-scale); the anti-join is broadcast on the delete set."""
    meta = load_metadata(path)
    dels = _live_delete_files(meta)
    cur = meta["current-snapshot-id"]
    if not dels:
        return {
            "snapshot_id": None if cur == -1 else cur,
            "rewritten_files": 0,
            "removed_positions": 0,
        }
    snap = _snapshot_by_id(meta, cur)
    files = _snapshot_files(meta, snap)
    del_df = _position_deletes(spark, path, dels)
    # distinct files with pending deletes: bounded by the delete set
    affected_paths = {
        _fs_path(r["file_path"])
        for r in del_df.select("file_path").distinct().collect()
    }
    affected = [
        f for f in files if _fs_path(f["file_path"]) in affected_paths
    ]
    if not affected:
        raise ValueError(
            "live delete files name no live data file — the delete set "
            "is stale (was the table rewritten around the guard?)"
        )
    schema = _spark_schema_of(meta)
    snap_meta, descriptors = _snapshot_view(meta, snap)
    df = read_data_files(
        spark,
        os.path.join(path, "data"),
        _spark_schema_of(snap_meta),
        _file_records(affected, descriptors),
    )
    kept = _drop_deleted(df, del_df).select(*[f.name for f in schema.fields])
    removed = sum(int(f["record_count"]) for f in dels)
    snapshot_id = write_iceberg(
        kept,
        path,
        mode="overwrite",
        replace_paths=sorted(f["file_path"] for f in affected),
        operation="REWRITE",
        summary_extra={"removed-position-deletes": str(removed)},
        commit_timestamp_ms=commit_timestamp_ms,
        _drop_deletes=True,
    )
    return {
        "snapshot_id": snapshot_id,
        "rewritten_files": len(affected),
        "removed_positions": removed,
    }


def merge_iceberg(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    commit_timestamp_ms: int | None = None,
) -> int:
    """MERGE (upsert by ``key``) on iceberg_lite — rows of ``updates``
    replace same-key rows of the current table; new keys append.
    Copy-on-write, ONE snapshot (operation MERGE); the format twin of
    :func:`delta_lite.merge_delta` (r11 — with :func:`delete_iceberg`
    this closes the DML triad on both in-repo formats).

    Bounds-pruned like the delta twin: only files whose manifest
    ``key`` bounds intersect the update set's [min, max] are rewritten;
    every other live file is carried as a status=EXISTING entry via the
    ``replace_paths`` manifest rewrite. Files without usable bounds
    conservatively rewrite. Returns the committed snapshot id.

    Scale shape: ONE 2-value aggregate over the updates, a driver-side
    metadata-scale range check over the file list, then one distributed
    anti-join + union over only the candidate files."""
    from pyspark.sql import functions as F

    meta = load_metadata(path)
    if meta["current-snapshot-id"] == -1:
        raise FileNotFoundError(f"not an iceberg_lite table yet: {path}")
    if _live_delete_files(meta):
        raise ValueError(
            "table has live position-delete files; run "
            "materialize_deletes() before MERGE"
        )
    snap = _snapshot_by_id(meta, meta["current-snapshot-id"])
    files = _snapshot_files(meta, snap)
    rng = updates.agg(
        F.min(key).alias("lo"), F.max(key).alias("hi")
    ).first()
    # an empty update set has no range (None bounds compare as
    # incomparable), so every non-empty file rewrites
    in_range = [(key, ">=", rng["lo"]), (key, "<=", rng["hi"])]
    ice_schema = _current_schema(meta)
    rewrite = [
        f
        for f in files
        if _stats_may_match(_bounds_stats(f, ice_schema), in_range)
    ]
    schema = _spark_schema_of(meta)
    snap_meta, descriptors = _snapshot_view(meta, snap)
    touched = read_data_files(
        spark,
        os.path.join(path, "data"),
        _spark_schema_of(snap_meta),
        _file_records(rewrite, descriptors),
    ).select(*[f.name for f in schema.fields])
    merged = touched.join(
        updates.select(key).distinct(), on=key, how="left_anti"
    ).unionByName(updates)
    return write_iceberg(
        merged,
        path,
        mode="overwrite",
        replace_paths=sorted(f["file_path"] for f in rewrite),
        operation="MERGE",
        commit_timestamp_ms=commit_timestamp_ms,
    )


def update_iceberg(
    spark: SparkSession,
    path: str,
    where: str,
    set_exprs: dict[str, str],
    commit_timestamp_ms: int | None = None,
) -> dict:
    """``UPDATE <table> SET col = expr, ... WHERE <predicate>`` —
    copy-on-write row-level UPDATE as ONE snapshot (r11; completes the
    DML triad with :func:`delete_iceberg` / :func:`merge_iceberg`).

    Bounds-pruned exactly like DELETE: only files the predicate MAY
    touch are rewritten — matched rows get each ``set_exprs`` value
    (a SQL expression string, evaluated per row, cast back to the
    column's declared type so the table schema never drifts), unmatched
    rows in those files are rewritten verbatim, and every other file is
    carried as EXISTING. NULL predicates leave rows unchanged (SQL
    UPDATE semantics). Updating a partition-source column is refused
    (the row would need to MOVE partitions — that's a delete+insert, so
    spell it as one). A no-match update commits nothing.

    Returns ``{"snapshot_id", "updated_rows", "rewritten_files"}``."""
    from pyspark.sql import functions as F

    meta = load_metadata(path)
    if meta["current-snapshot-id"] == -1:
        return {
            "snapshot_id": None, "updated_rows": 0, "rewritten_files": 0,
        }
    if _live_delete_files(meta):
        raise ValueError(
            "table has live position-delete files; run "
            "materialize_deletes() before UPDATE"
        )
    snap = _snapshot_by_id(meta, meta["current-snapshot-id"])
    snap_meta, descriptors = _snapshot_view(meta, snap)
    psources = {d["source"] for d in descriptors}
    bad = set(set_exprs) & psources
    if bad:
        raise ValueError(
            f"UPDATE on partition source columns {sorted(bad)} would "
            "move rows between partitions; use delete + insert"
        )
    files = _snapshot_files(meta, snap)
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        _parse_conjuncts,
    )

    conjuncts = _parse_conjuncts(where)
    if conjuncts:
        ice_schema = _current_schema(meta)
        candidates = [
            f
            for f in files
            if _stats_may_match(_bounds_stats(f, ice_schema), conjuncts)
            and _partition_may_match(f, descriptors, conjuncts)
        ]
    else:
        candidates = list(files)
    if not candidates:
        return {
            "snapshot_id": snap["snapshot-id"],
            "updated_rows": 0,
            "rewritten_files": 0,
        }
    schema = _spark_schema_of(meta)
    paths = sorted(f["file_path"] for f in candidates)
    df = read_data_files(
        spark,
        os.path.join(path, "data"),
        _spark_schema_of(snap_meta),
        _file_records(candidates, descriptors),
    ).select(*[f.name for f in schema.fields])
    match = F.coalesce(F.expr(where), F.lit(False))
    updated = df.where(match).count()
    if updated == 0:
        return {
            "snapshot_id": snap["snapshot-id"],
            "updated_rows": 0,
            "rewritten_files": 0,
        }
    types = {f.name: f.dataType for f in schema.fields}
    for col in set_exprs:
        if col not in types:
            raise ValueError(f"unknown column {col!r}")
    # ONE projection evaluates every SET expression AND the predicate
    # against the ORIGINAL row — sequential withColumn would let later
    # SETs (and the re-inlined predicate) see already-updated columns,
    # breaking SQL UPDATE semantics (e.g. a column swap a=b, b=a)
    out = df.select(
        *[
            (
                F.when(
                    match,
                    F.expr(set_exprs[f.name]).cast(f.dataType),
                )
                .otherwise(F.col(f.name))
                .alias(f.name)
                if f.name in set_exprs
                else F.col(f.name)
            )
            for f in schema.fields
        ]
    )
    snapshot_id = write_iceberg(
        out,
        path,
        mode="overwrite",
        replace_paths=paths,
        operation="UPDATE",
        summary_extra={"updated-records": str(updated)},
        commit_timestamp_ms=commit_timestamp_ms,
    )
    return {
        "snapshot_id": snapshot_id,
        "updated_rows": updated,
        "rewritten_files": len(paths),
    }


def read_iceberg_incremental(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int | None,
    to_snapshot_id: int | None = None,
    operations: tuple[str, ...] | None = None,
    skip_non_append: bool = False,
) -> DataFrame:
    """The spec's INCREMENTAL APPEND SCAN: rows added by snapshots AFTER
    ``from_snapshot_id`` up to ``to_snapshot_id`` (inclusive; current if
    None) — manifest entries with status=ADDED and a sequence number in
    the range, read directly (no diffing of file sets). Returns the
    table columns plus ``_snapshot_id`` (BIGINT) and
    ``_committed_at_ms``. Raises if any snapshot in the range is not an
    ``append`` (an overwrite rewrites rows; its ADDED entries are not
    new data) — the spec's incremental scan is defined over appends.

    Scale shape: metadata-only snapshot walk; one distributed parquet
    read per appended file set. The adds ARE the increment — no table
    scan, no file pruning needed.

    ``operations`` restricts the feed to snapshots whose summary
    operation label matches (others skipped); ``skip_non_append=True``
    SKIPS rewrite snapshots instead of raising — together the
    poll-for-new-appends pattern over a log that also carries
    maintenance commits."""
    from pyspark.sql import functions as F

    meta = load_metadata(path)
    # the increment walks the CURRENT LINEAGE (parent chain), not the
    # retained list: after a rollback, abandoned snapshots stay retained
    # but their rows are NOT table history — positional iteration would
    # replay them as phantom appends (r11 review fix)
    snaps = _ancestry(meta)
    by_id = {s["snapshot-id"]: i for i, s in enumerate(snaps)}
    retained = {s["snapshot-id"] for s in meta["snapshots"]}
    if from_snapshot_id is None:
        lo = -1  # from the beginning: every lineage snapshot
    else:
        if from_snapshot_id not in by_id:
            raise ValueError(
                f"snapshot {from_snapshot_id} "
                + (
                    "is not on the current table lineage (rolled back?)"
                    if from_snapshot_id in retained
                    else "not found (expired?)"
                )
            )
        lo = by_id[from_snapshot_id]
    if to_snapshot_id is None:
        to_snapshot_id = meta["current-snapshot-id"]
    if to_snapshot_id not in by_id:
        raise ValueError(
            f"snapshot {to_snapshot_id} "
            + (
                "is not on the current table lineage (rolled back?)"
                if to_snapshot_id in retained
                else "not found (expired?)"
            )
        )
    hi = by_id[to_snapshot_id]
    if lo > hi:
        raise ValueError("from_snapshot_id is newer than to_snapshot_id")
    schema = _spark_schema_of(meta)
    out: DataFrame | None = None
    for s in snaps[lo + 1: hi + 1]:
        if (
            operations is not None
            and s["summary"]["operation"] not in operations
        ):
            continue  # filtered snapshot: skipped entirely
        # the write MODE (recorded separately since r10) decides
        # append-ness; older snapshots without it are classified from
        # the manifest list, never the free-form label (r10 ADVICE)
        if not _snapshot_is_append(meta, s):
            if skip_non_append:
                continue
            raise ValueError(
                f"snapshot {s['snapshot-id']} is "
                f"{s['summary']['operation']!r}, not an append; the "
                "incremental append scan is undefined across rewrites "
                "(skip_non_append=True to skip them)"
            )
        sid, seq = s["snapshot-id"], s["sequence-number"]
        added = []
        _, manifests = avro_lite.read_container(s["manifest-list"])
        for m in manifests:
            if m["sequence_number"] != seq:
                continue  # reused manifest: its entries predate s
            _, entries = avro_lite.read_container(m["manifest_path"])
            added.extend(
                e["data_file"]
                for e in entries
                if e["status"] == 1 and e["snapshot_id"] == sid
            )
        if not added:
            continue
        part = (
            read_data_files(
                spark,
                os.path.join(path, "data"),
                schema,
                _file_records(added, _snapshot_view(meta, s)[1]),
            )
            .select(*[f.name for f in schema.fields])
            .withColumn("_snapshot_id", F.lit(sid).cast("long"))
            .withColumn(
                "_committed_at_ms",
                F.lit(int(s["timestamp-ms"])).cast("long"),
            )
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        from pyspark.sql import types as T

        empty = T.StructType(
            schema.fields
            + [
                T.StructField("_snapshot_id", T.LongType()),
                T.StructField("_committed_at_ms", T.LongType()),
            ]
        )
        return spark.createDataFrame([], empty)
    return out


def partitions_meta(spark: SparkSession, path: str) -> DataFrame:
    """The format's ``partitions`` METADATA TABLE: one row per live
    partition of the current snapshot with file and record counts —
    answered entirely from manifests (zero data files touched; the
    inspection surface a 100 TB table is operated by). Columns: one
    string column per partition field (the transformed value's path
    spell, e.g. ``2026-08-13`` for a day transform) + ``file_count`` /
    ``record_count`` / ``total_size_bytes``."""
    from pyspark.sql import types as T

    meta = load_metadata(path)
    spec = _current_spec(meta)["fields"]
    descs = [
        _transform_of_spec_field(pf, _current_schema(meta))
        for pf in spec
    ]
    agg: dict[tuple, list[int]] = {}
    if meta["current-snapshot-id"] != -1:
        snap = _snapshot_by_id(meta, meta["current-snapshot-id"])
        for f in _snapshot_files(meta, snap):
            key = tuple(_hive_partition(f, descs).values())
            row = agg.setdefault(key, [0, 0, 0])
            row[0] += 1
            row[1] += int(f["record_count"])
            row[2] += int(f["file_size_in_bytes"])
    schema = T.StructType(
        [T.StructField(d["name"], T.StringType(), True) for d in descs]
        + [
            T.StructField("file_count", T.LongType(), False),
            T.StructField("record_count", T.LongType(), False),
            T.StructField("total_size_bytes", T.LongType(), False),
        ]
    )
    rows = [k + tuple(v) for k, v in sorted(agg.items())]
    return spark.createDataFrame(rows, schema)


def last_streaming_batch_id(path: str, app_id: str) -> int | None:
    """The streaming-sink exactly-once watermark (the real Iceberg Spark
    sink's recipe): the max batch id any retained snapshot recorded for
    ``app_id`` in its summary — a replayed foreachBatch delivery with an
    id at or below it is a no-op. None when no snapshot carries one. NB:
    rides the snapshot list, so keep enough snapshots retained to cover
    redelivery windows (expire_snapshots trims history and the watermark
    with it)."""
    try:
        meta = load_metadata(path)
    except FileNotFoundError:
        return None
    best = None
    for s in meta["snapshots"]:
        summary = s.get("summary", {})
        if summary.get("streaming-app-id") != app_id:
            continue
        bid = summary.get("streaming-batch-id")
        if bid is not None:
            bid = int(bid)
            best = bid if best is None else max(best, bid)
    return best


def snapshots(path: str) -> list[dict]:
    """Snapshot history: id, sequence number, timestamp, operation —
    the table's DESCRIBE HISTORY surface."""
    meta = load_metadata(path)
    return [
        {
            "snapshot_id": s["snapshot-id"],
            "sequence_number": s["sequence-number"],
            "timestamp_ms": s["timestamp-ms"],
            "operation": s["summary"]["operation"],
        }
        for s in meta["snapshots"]
    ]


def remove_orphan_files(path: str) -> list[str]:
    """The format's remove-orphan-files maintenance: physically delete
    parquet files under ``data/`` referenced by NO retained snapshot —
    leftovers of crashed writers (staged files were moved in but the
    metadata commit never happened). Never touches referenced files or
    the metadata tree. Returns the deleted paths."""
    meta = load_metadata(path)
    referenced: set[str] = set()
    for s in meta["snapshots"]:
        referenced.update(
            f["file_path"] for f in _snapshot_files(meta, s)
        )
        referenced.update(
            f["file_path"] for f in _snapshot_delete_files(meta, s)
        )
    data_root = os.path.join(path, "data")
    deleted: list[str] = []
    for root, dirs, files in os.walk(data_root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in files:
            if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
                continue
            full = os.path.join(root, fn)
            if full not in referenced:
                os.unlink(full)
                deleted.append(full)
    # clear abandoned staging dirs, then empty partition dirs
    for entry in os.listdir(data_root):
        if entry.startswith("_staging_"):
            import shutil

            shutil.rmtree(os.path.join(data_root, entry))
    for root, dirs, _files in os.walk(data_root, topdown=False):
        if root != data_root and not os.listdir(root):
            os.rmdir(root)
    return sorted(deleted)


def rollback_iceberg(
    path: str,
    snapshot_id: int,
    commit_timestamp_ms: int | None = None,
) -> int:
    """The spec's ``rollback_to_snapshot`` maintenance (r11): move the
    CURRENT-snapshot pointer back to a retained snapshot as a new
    metadata version — purely metadata, nothing rewritten or deleted.
    The abandoned snapshots stay in the snapshot list (re-roll-forward
    is possible) until :func:`expire_snapshots`, which always retains
    the current snapshot regardless of age. The snapshot-log records the
    rollback, so timestamp travel after it resolves correctly. Returns
    the new metadata version. Rolling back to the current snapshot is a
    no-op (no commit)."""
    meta = load_metadata(path)
    _snapshot_by_id(meta, snapshot_id)  # raises if expired/unknown
    cur_v = _current_version(path)
    if meta["current-snapshot-id"] == snapshot_id:
        return cur_v
    now_ms = (
        int(commit_timestamp_ms)
        if commit_timestamp_ms is not None
        else int(time.time() * 1000)
    )
    meta = json.loads(json.dumps(meta))
    meta["current-snapshot-id"] = snapshot_id
    meta["last-updated-ms"] = now_ms
    meta["snapshot-log"].append(
        {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
    )
    new_version = (cur_v or 0) + 1
    _commit_metadata(path, new_version, meta)
    return new_version


def expire_snapshots(path: str, keep_last: int = 1) -> list[str]:
    """Expire all but the newest ``keep_last`` snapshots: commit a new
    metadata version without them, delete their manifest lists/manifests,
    and physically delete data files referenced ONLY by expired
    snapshots, then the partition directories that left empty — the
    spec's expire-snapshots maintenance (time travel past the horizon
    then correctly fails). Returns deleted file paths."""
    meta = load_metadata(path)
    cur_v = _current_version(path)
    snaps = meta["snapshots"]
    if len(snaps) <= keep_last:
        return []
    keep_ids = {
        s["snapshot-id"] for s in snaps[-max(keep_last, 1):]
    }
    # the CURRENT snapshot is always retained, even when a rollback
    # moved the pointer to an old one — expiring the snapshot readers
    # are on would delete the live table out from under them (r11)
    keep_ids.add(meta["current-snapshot-id"])
    keep = [s for s in snaps if s["snapshot-id"] in keep_ids]
    expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
    if not expired:
        return []
    keep_files: set[str] = set()
    keep_avro: set[str] = set()
    for s in keep:
        keep_avro.add(s["manifest-list"])
        _, manifests = avro_lite.read_container(s["manifest-list"])
        for m in manifests:
            keep_avro.add(m["manifest_path"])
        keep_files.update(
            f["file_path"] for f in _snapshot_files(meta, s)
        )
        keep_files.update(
            f["file_path"] for f in _snapshot_delete_files(meta, s)
        )
    # collect BEFORE deleting anything: expired snapshots can share
    # manifests with each other (append reuses manifests), so reads must
    # all happen against the intact tree
    expired_files: set[str] = set()
    expired_avro: set[str] = set()
    for s in expired:
        ml = s["manifest-list"]
        expired_avro.add(ml)
        _, manifests = avro_lite.read_container(ml)
        for m in manifests:
            expired_avro.add(m["manifest_path"])
        expired_files.update(
            f["file_path"] for f in _snapshot_files(meta, s)
        )
        expired_files.update(
            f["file_path"] for f in _snapshot_delete_files(meta, s)
        )
    deleted: list[str] = []
    for p in sorted(expired_files - keep_files):
        if os.path.exists(p):
            os.unlink(p)
            deleted.append(p)
    for p in sorted(expired_avro - keep_avro):
        if os.path.exists(p):
            os.unlink(p)
    if deleted:
        _prune_empty_dirs(os.path.join(path, "data"))
    meta = json.loads(json.dumps(meta))
    meta["snapshots"] = keep
    kept_ids = {s["snapshot-id"] for s in keep}
    meta["snapshot-log"] = [
        r for r in meta["snapshot-log"] if r["snapshot-id"] in kept_ids
    ]
    _commit_metadata(path, (cur_v or 0) + 1, meta)
    return sorted(deleted)
