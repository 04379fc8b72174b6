"""Custom Python STREAMING DataSource (Spark 4 DataSource API):
``deltalite`` — a Structured Streaming SOURCE over a ``delta_lite``
transaction log, the read half of the exactly-once loop whose write
half is the r9 txn-action sink (``streaming.jobs.run_delta_sink_stream``).

    spark.dataSource.register(DeltaLiteStreamDataSource)
    stream = (spark.readStream.format("deltalite")
              .option("path", table_path)
              .option("starting_version", "0")        # default 0
              .option("operations", "INGEST")          # optional filter
              .option("ignore_deletes", "false")       # default false
              .load())

Offsets are LOG VERSIONS (``{"version": V}`` = consumed through V), so
the source needs no sidecar state at all: the transaction log is the
durable, monotone offset ledger — a restarted query resumes from
Spark's offset WAL and ``latestOffset`` simply reads the log's current
version. Each micro-batch is exactly the files ADDED by the versions in
``(start, end]`` (the same increment :func:`delta_lite.read_delta_changes`
serves in batch), one executor task per data file, with rows stamped
``_commit_version`` / ``_commit_timestamp``.

Append-only contract, like the batch reader: a commit in range that
REMOVES data (overwrite/MERGE/EXPIRE rewrites) fails the stream loudly
unless ``ignore_deletes=true``; ``operations`` (comma-separated) instead
skips non-matching commits entirely — the poll-for-new-appends pattern
over a log that also carries maintenance commits.

Scale shape: the driver touches only the JSON log (bytes per version);
the data reads are per-file executor tasks (parquet row groups), so a
1000-executor cluster fans each micro-batch out file-parallel. Partition
columns are reconstructed ON THE EXECUTOR from each add action's logged
``partitionValues`` and cast per the LOGGED schema's JSON type names
(long/integer/date/timestamp/decimal/...), matching the batch read path.

Schema-evolution contract (r11, pinned by test): a running query's
schema is FIXED, so if the source table's schema EVOLVES mid-stream
(an overwrite committing a new metaData between micro-batches) the
stream FAILS LOUDLY at the next batch rather than silently misaligning
rows — restart with a fresh checkpoint to stream under the new schema.
(A restarted stream declares whatever schema the log currently holds.)

The same Trigger caveat as ``eventreplay``: Python micro-batch streams
do not support AvailableNow — drive with a processingTime trigger +
``processAllAvailable()``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


class DeltaLiteFilePartition(InputPartition):
    """One ADDED data file of one committed version. Plain picklable
    attributes only; the executor re-derives everything else."""

    def __init__(
        self,
        table_path: str,
        rel: str,
        version: int,
        ts_ms: int | None,
        pcols: tuple,
        ptypes: tuple,
        field_names: tuple,
        pvalues: tuple,
    ):
        self.table_path = table_path
        self.rel = rel
        self.version = version
        self.ts_ms = ts_ms
        self.pcols = pcols
        self.ptypes = ptypes
        self.field_names = field_names
        # logged partitionValues (spec-decoded strings, None for null),
        # aligned with pcols — carried from the add action so the
        # executor never re-parses (or mis-unescapes) the hive path.
        self.pvalues = pvalues


def _typed_partition_value(v: str | None, json_type: str):
    """Cast one LOGGED partition value (a decoded string, or None) to
    the Python value matching its schemaString JSON type name.

    The type names here are StructType.json() names ('long', 'integer',
    'short', 'byte', 'date', 'timestamp', 'decimal(p,s)', ...), NOT
    simpleString names ('bigint', 'int', ...) — the fields come straight
    from ``json.loads(md["schemaString"])``. simpleString aliases are
    accepted too for robustness.
    """
    if v is None:
        return None
    if json_type in (
        "long", "integer", "short", "byte",
        "bigint", "int", "smallint", "tinyint",
    ):
        return int(v)
    if json_type in ("double", "float"):
        return float(v)
    if json_type == "boolean":
        return v == "true"
    if json_type == "date":
        import datetime

        return datetime.date.fromisoformat(v)
    if json_type in ("timestamp", "timestamp_ntz"):
        import datetime

        # hive/delta serialize timestamps as 'yyyy-MM-dd HH:mm:ss[.f+]'
        return datetime.datetime.fromisoformat(v)
    if json_type.startswith("decimal"):
        import decimal

        return decimal.Decimal(v)
    return v  # string partition values stay verbatim


class DeltaLiteStreamReader(DataSourceStreamReader):
    def __init__(self, options, declared_fields: tuple | None = None):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("deltalite source requires .option('path', …)")
        # (name, type) pairs of the TABLE schema the stream was declared
        # with — a mid-stream schema evolution cannot be represented in
        # a running query's fixed schema, so partitions() fails loudly
        # when the logged schema drifts from this (see module docstring)
        self._declared_fields = declared_fields
        self._start = int(options.get("starting_version", "0"))
        ops = options.get("operations")
        self._operations = (
            tuple(s.strip() for s in ops.split(",") if s.strip())
            if ops
            else None
        )
        self._ignore_deletes = (
            options.get("ignore_deletes", "false").lower() == "true"
        )

    # -- offsets: the log itself is the durable ledger --------------------
    def initialOffset(self):
        return {"version": self._start - 1}

    def latestOffset(self):
        from tscd_datalake_adapter_spark.sources.delta_lite import _log_head

        return {"version": _log_head(self._path)[2]}

    def partitions(self, start, end):
        from tscd_datalake_adapter_spark.sources.delta_lite import (
            _commit_actions,
            _log_head,
            _replay,
        )

        s, e = int(start["version"]), int(end["version"])
        if e <= s:
            return []
        versions = _log_head(self._path)[0]
        missing = sorted(set(range(s + 1, e + 1)) - set(versions))
        if missing:
            raise ValueError(
                f"versions {missing} were cleaned up past the checkpoint "
                "horizon; the stream cannot replay them"
            )
        state = _replay(self._path, e)
        md = state["metadata"]
        schema_fields = json.loads(md["schemaString"])["fields"]
        if self._declared_fields is not None:
            got = tuple(
                (
                    f["name"],
                    f["type"]
                    if isinstance(f["type"], str)
                    # nested types compare by their FULL serialized JSON
                    # — collapsing to a label would let an evolution
                    # inside a struct/array/map slip past the guard
                    else json.dumps(f["type"], sort_keys=True),
                )
                for f in schema_fields
            )
            if got != self._declared_fields:
                raise ValueError(
                    f"source table schema evolved mid-stream (declared "
                    f"{self._declared_fields}, log now says {got}); a "
                    "running query's schema is fixed — restart the "
                    "stream (fresh checkpoint) to pick up the new schema"
                )
        # simpleString-ish types for partition casting
        type_of = {f["name"]: f["type"] for f in schema_fields}
        pcols = tuple(md.get("partitionColumns") or ())
        ptypes = tuple(
            t if isinstance(t := type_of[c], str) else "string"
            for c in pcols
        )
        field_names = tuple(f["name"] for f in schema_fields)
        parts: list[DeltaLiteFilePartition] = []
        for v in range(s + 1, e + 1):
            adds: list[tuple[str, dict]] = []
            removes = False
            ts_ms = None
            op = None
            for action in _commit_actions(self._path, v):
                if "add" in action and action["add"].get("dataChange"):
                    adds.append(
                        (
                            action["add"]["path"],
                            action["add"].get("partitionValues") or {},
                        )
                    )
                elif "remove" in action and action["remove"].get(
                    "dataChange"
                ):
                    removes = True
                elif "commitInfo" in action:
                    ts_ms = action["commitInfo"].get("timestamp")
                    op = action["commitInfo"].get("operation")
            if self._operations is not None and op not in self._operations:
                continue
            if removes and not self._ignore_deletes:
                raise ValueError(
                    f"version {v} removes data (operation {op!r}); the "
                    "append-only stream cannot represent it — set "
                    ".option('ignore_deletes','true') or filter with "
                    ".option('operations', …)"
                )
            for rel, pv in sorted(adds):
                parts.append(
                    DeltaLiteFilePartition(
                        self._path, rel, v, ts_ms, pcols, ptypes,
                        field_names,
                        tuple(pv.get(c) for c in pcols),
                    )
                )
        return parts

    def read(self, partition):
        import pyarrow.parquet as pq

        full = os.path.join(partition.table_path, partition.rel)
        table = pq.read_table(full)
        cols = set(table.column_names)
        # logged partitionValues → typed constants for partition columns
        # (they are not stored in the data files)
        consts = {}
        for c, t, v in zip(
            partition.pcols, partition.ptypes, partition.pvalues
        ):
            consts[c] = _typed_partition_value(v, t)
        rows = table.to_pylist()
        out = []
        for r in rows:
            tup = tuple(
                r[name] if name in cols else consts.get(name)
                for name in partition.field_names
            ) + (partition.version, partition.ts_ms)
            out.append(tup)
        return iter(out)

    def commit(self, end):
        pass  # the query checkpoint owns progress; the log needs nothing


class DeltaLiteStreamDataSource(DataSource):
    @classmethod
    def name(cls):
        return "deltalite"

    def schema(self):
        from pyspark.sql.types import LongType, StructField, StructType

        from tscd_datalake_adapter_spark.sources.delta_lite import (
            _logged_schema,
            _replay,
        )

        md = _replay(self.options["path"], None)["metadata"]
        base = _logged_schema(md)
        return StructType(
            base.fields
            + [
                StructField("_commit_version", LongType()),
                StructField("_commit_timestamp", LongType()),
            ]
        )

    def streamReader(self, schema):
        from tscd_datalake_adapter_spark.sources.delta_lite import _replay

        md = _replay(self.options["path"], None)["metadata"]
        declared = tuple(
            (
                f["name"],
                f["type"]
                if isinstance(f["type"], str)
                else json.dumps(f["type"], sort_keys=True),
            )
            for f in json.loads(md["schemaString"])["fields"]
        )
        return DeltaLiteStreamReader(self.options, declared)
