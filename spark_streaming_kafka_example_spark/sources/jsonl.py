"""Line-delimited-JSON source via the Spark 4 Python DataSource API.

The reference's source surface is fixed formats wired in Scala (SURVEY
§2.1); this module demonstrates the engine's EXTENSION surface — a custom
format registered at runtime (``spark.dataSource.register``) that
participates in normal planning: ``spark.read.format("jsonl")`` with a
declared or inferred schema.

Scale design (the part that matters at 100 TB):
- ``partitions()`` splits every input file into byte-range partitions of
  ``partition_bytes`` (default 32 MB), so one large file fans out across
  the cluster instead of serializing through one task — the classic
  line-oriented InputFormat contract.
- Newline alignment: a partition that does not start at offset 0 skips
  its (partial) first line — the previous partition reads one line past
  its end boundary instead. Every line is read exactly once, no matter
  where the byte boundaries fall.
- PERMISSIVE parsing: a malformed JSON line or a missing key yields
  nulls for the affected columns (the from_json convention, P2), never a
  task failure.

Batch-only by design: streaming JSONL ingestion goes through the file
stream source on a directory (``spark.readStream.json``), which already
handles discovery/exactly-once.

Filesystem contract: listing, sizing, and reads go through
local ``os``/``open`` calls, so driver and executors must share a POSIX
view of ``path`` (local disk in tests, NFS/FUSE-mounted object storage on
a cluster). Native object-store URLs (s3://, hdfs://) are NOT resolved —
that needs a filesystem layer (fsspec/pyarrow.fs) swapped in for the
``os.path.getsize``/``open`` calls in ``partitions()``/``read()``; the
byte-range slicing itself is already storage-agnostic.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

__all__ = ["JsonlDataSource", "register_jsonl", "read_jsonl"]

_DEFAULT_PARTITION_BYTES = 32 * 1024 * 1024
_EXTS = (".jsonl", ".json", ".ndjson")


def _list_files(path: str) -> list[str]:
    """One definition of "which files belong to this source" — shared by
    schema inference and the slice planner so they can never diverge."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if f.endswith(_EXTS)
        )
        if not files:
            raise ValueError(f"no JSONL files under {path}")
        return files
    return [path]


class _Slice(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


def _infer_field(value) -> T.DataType:
    # bool before int: bool is an int subclass in Python
    if isinstance(value, bool):
        return T.BooleanType()
    if isinstance(value, int):
        return T.LongType()
    if isinstance(value, float):
        return T.DoubleType()
    return T.StringType()


def _merge_types(a: T.DataType | None, b: T.DataType | None) -> T.DataType | None:
    """Widening merge across probe lines (the spark.read.json sampling
    contract): equal types keep, long+double widens to double,
    any other conflict widens to string; None (only nulls seen so far)
    defers to whichever side has evidence."""
    if a is None:
        return b
    if b is None or a == b:
        return a
    if {type(a), type(b)} == {T.LongType, T.DoubleType}:
        return T.DoubleType()
    return T.StringType()


def _json_text(v) -> str:
    """Render a non-string JSON value cast into a string column as JSON
    text (compact separators, true/false booleans, raw UTF-8), never the
    Python repr (str({'a': 1}) would give "{'a': 1}").

    Documented divergence from spark.read.json, which returns the RAW
    input substring: values here are RE-RENDERED from the parsed object,
    so nested whitespace is normalized and numeric lexemes canonicalize
    ("0.10" -> "0.1", "1E5" -> "100000.0"). Parsed-value equality holds;
    byte-for-byte lexeme equality does not — preserving raw spans would
    require a position-tracking parser."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"), ensure_ascii=False)
    return str(v)


class JsonlReader(DataSourceReader):
    _SUPPORTED = (T.BooleanType, T.LongType, T.DoubleType, T.StringType)

    def __init__(self, schema: T.StructType, options: dict):
        for f in schema.fields:
            if not isinstance(f.dataType, self._SUPPORTED):
                raise ValueError(
                    f"jsonl field {f.name!r} has unsupported type "
                    f"{f.dataType.simpleString()}; supported: boolean, "
                    "bigint, double, string (parse richer types from a "
                    "string column downstream)"
                )
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl source requires a path")
        self.partition_bytes = int(
            options.get("partition_bytes", _DEFAULT_PARTITION_BYTES)
        )
        if self.partition_bytes <= 0:
            raise ValueError(
                f"partition_bytes must be positive, got {self.partition_bytes}"
            )

    def _files(self) -> list[str]:
        return _list_files(self.path)

    def partitions(self) -> list[_Slice]:
        slices = []
        for f in self._files():
            size = os.path.getsize(f)
            start = 0
            while start < size or (start == 0 and size == 0):
                end = min(start + self.partition_bytes, size)
                slices.append(_Slice(f, start, end))
                if end >= size:
                    break
                start = end
        return slices

    def read(self, partition: _Slice):
        names = [f.name for f in self.schema.fields]
        casts = {
            f.name: (bool if isinstance(f.dataType, T.BooleanType)
                     else int if isinstance(f.dataType, T.LongType)
                     else float if isinstance(f.dataType, T.DoubleType)
                     else _json_text)
            for f in self.schema.fields
        }
        with open(partition.path, "rb") as fh:
            fh.seek(partition.start)
            if partition.start > 0:
                fh.readline()  # partial line — owned by the previous slice
            while fh.tell() <= partition.end:
                line = fh.readline()
                if not line:
                    break
                line = line.strip()
                if not line:
                    continue
                try:
                    obj = json.loads(line)
                    if not isinstance(obj, dict):
                        raise ValueError("not an object")
                except (json.JSONDecodeError, ValueError):
                    yield tuple(None for _ in names)  # PERMISSIVE
                    continue
                row = []
                for n in names:
                    v = obj.get(n)
                    if v is None:
                        row.append(None)
                    else:
                        try:
                            row.append(casts[n](v))
                        except (TypeError, ValueError):
                            row.append(None)
                yield tuple(row)


class JsonlDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl"

    # Bounded multi-file probe: sample the head of up to
    # _PROBE_FILES files, not just the first — keys appearing only in
    # later files of a multi-file path would otherwise be silently
    # dropped, unlike spark.read.json's cross-file sampling. Still
    # bounded: keys first seen past file _PROBE_FILES or line
    # _PROBE_LINES stay invisible to inference; declare a schema
    # (the S4 path) for such layouts.
    _PROBE_FILES = 4
    _PROBE_LINES = 100

    def schema(self) -> T.StructType:
        """Infer by MERGING keys and types across the whole bounded probe
        window (first _PROBE_LINES lines of each of the first
        _PROBE_FILES files), the spark.read.json sampling contract in
        miniature (a first-line or first-file-only window would drop keys
        that only appear later): field order is first
        appearance, long+double widens to double, other conflicts widen
        to string, a field seen only as null types as string. Callers
        with a known layout use the S4 declared-schema path
        (``.schema(...)`` on the reader), which bypasses this."""
        path = self.options.get("path")
        if not path:
            raise ValueError("jsonl source requires a path")
        probes = _list_files(path)[: self._PROBE_FILES]
        merged: dict[str, T.DataType | None] = {}
        for probe in probes:
            with open(probe, "rb") as fh:
                for i, raw in enumerate(fh):
                    if i >= self._PROBE_LINES:  # bounded — never scan whole files
                        break
                    raw = raw.strip()
                    if not raw:
                        continue
                    try:
                        obj = json.loads(raw)
                    except json.JSONDecodeError:
                        continue  # PERMISSIVE: a malformed head line is data,
                        # not a planning failure — infer from the other lines
                    if not isinstance(obj, dict):
                        continue
                    for k, v in obj.items():
                        t = None if v is None else _infer_field(v)
                        merged[k] = _merge_types(merged.get(k), t)
        if merged:
            return T.StructType(
                [T.StructField(k, t if t is not None else T.StringType(), True)
                 for k, t in merged.items()]
            )
        raise ValueError(
            "cannot infer a schema from the first lines of "
            f"{', '.join(probes)}; declare one with .schema(...)"
        )

    def reader(self, schema: T.StructType) -> JsonlReader:
        return JsonlReader(schema, dict(self.options))


def register_jsonl(spark: SparkSession) -> None:
    """Idempotently register the format for this session."""
    spark.dataSource.register(JsonlDataSource)


def read_jsonl(spark: SparkSession, path: str, schema=None, **options):
    register_jsonl(spark)
    reader = spark.read.format("jsonl").options(path=path, **options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load()
