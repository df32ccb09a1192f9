"""CDM (Common Data Model) schema provider + CSV ingestion.

Parses the per-batch ``model.json`` a Synapse Link export ships (shape per
reference fixture ``src/test/scala/integration/SynapseMetadata.scala:24-829``)
into Spark schemas, and reads the headerless quoted CSV chunks against them
(reference operator A3/A4, SURVEY.md §2.A).

Type mapping (SURVEY.md §1.2):
    guid → string, string → string, int64 → long,
    decimal(+shaped trait precision/scale, default 38/6) → decimal,
    dateTime / dateTimeOffset → timestamp, boolean → boolean.

All casts use ``try_``-flavored expressions so behavior is identical whether
or not the hosting session runs in ANSI mode (Spark 4 default: ANSI on), and
so the sparse delete rows (key + IsDelete + sentinel timestamp, everything
else empty — ``SynapseMetadata.scala:21-22``) cast to nulls instead of
failing (SURVEY.md §7 watch-list items 1-2).

The typed projection and the line-parse columns are built once per
entity schema (``exprmemo.schema_memo``: keyed by the schema's attributes,
bounded, pickled empty — the readStream source pickles this module by
value), so a tick's read costs no Column construction after the first.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exprmemo import schema_memo


@dataclass(frozen=True)
class CdmAttribute:
    name: str
    data_type: str
    max_length: int = -1
    precision: int = 38
    scale: int = 6

    def spark_type(self) -> T.DataType:
        dt = self.data_type.lower()
        if dt in ("guid", "string"):
            return T.StringType()
        if dt == "int64":
            return T.LongType()
        if dt == "int32":
            return T.IntegerType()
        if dt == "decimal":
            return T.DecimalType(self.precision, self.scale)
        if dt in ("datetime", "datetimeoffset"):
            return T.TimestampType()
        if dt == "boolean":
            return T.BooleanType()
        if dt == "double":
            return T.DoubleType()
        return T.StringType()  # unknown CDM types degrade to string


@dataclass(frozen=True)
class CdmEntity:
    name: str
    attributes: tuple[CdmAttribute, ...] = field(default_factory=tuple)

    def raw_schema(self) -> T.StructType:
        """All-string schema for the headerless CSV read (cast afterwards)."""
        return T.StructType([T.StructField(a.name, T.StringType(), True) for a in self.attributes])


def parse_model(model_json: str) -> dict[str, CdmEntity]:
    """model.json → {entity_name: CdmEntity}. Driver-side, tiny."""
    doc = json.loads(model_json)
    entities: dict[str, CdmEntity] = {}
    for ent in doc.get("entities", []):
        attrs = []
        for a in ent.get("attributes", []):
            precision, scale = 38, 6
            for trait in a.get("cdm:traits", []) or []:
                if trait.get("traitReference") == "is.dataFormat.numeric.shaped":
                    for arg in trait.get("arguments", []):
                        if arg.get("name") == "precision":
                            precision = int(arg.get("value", 38))
                        elif arg.get("name") == "scale":
                            scale = int(arg.get("value", 6))
            attrs.append(
                CdmAttribute(
                    name=a["name"],
                    data_type=a.get("dataType", "string"),
                    max_length=int(a.get("maxLength", -1)),
                    precision=precision,
                    scale=scale,
                )
            )
        entities[ent["name"]] = CdmEntity(name=ent["name"], attributes=tuple(attrs))
    return entities


# Wire formats observed in the reference fixture (SynapseMetadata.scala:8-22):
#   ISO with 7-digit fraction + Z:      2020-01-01T00:15:00.0000000Z
#   ISO with offset:                    2020-01-01T00:15:00.0000000+00:00
#   ISO sentinel without zone:          0001-01-03T00:00:00.0000000
#   US 12h with AM/PM:                  1/1/2020 0:00:00 PM  (hour 0 + PM!)
_TS_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSS]XXX",
    "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSS]'Z'",
    "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSS]",
    "M/d/yyyy h:mm:ss a",
)


def parse_timestamp(col: Column) -> Column:
    """Forgiving multi-format timestamp parser (watch-list item 1).

    The nonstandard ``1/1/2020 0:00:00 PM`` (hour 0 in a 12-hour clock)
    cannot parse under any strict pattern; we normalize hour 0 → 12 before
    the 12-hour attempt, treating "0:00:00 PM" as noon. The value's shape
    picks the pattern: only the US form has a ``/``, so a US value never
    pays the three failing ISO attempts and an ISO value never pays the
    12-hour one. Entirely JVM-side (try_to_timestamp) — no Python in the
    hot path.
    """
    trimmed = F.trim(col)
    cleaned = F.when(trimmed == "", None).otherwise(trimmed)
    us12 = F.regexp_replace(cleaned, r"^(\d{1,2}/\d{1,2}/\d{4}) 0:", r"$1 12:")
    iso = F.coalesce(*[F.try_to_timestamp(cleaned, F.lit(f)) for f in _TS_FORMATS[:3]])
    us = F.try_to_timestamp(us12, F.lit(_TS_FORMATS[3]))
    return F.when(F.instr(cleaned, "/") > 0, us).otherwise(iso)


def cast_attribute(col: Column, attr: CdmAttribute) -> Column:
    dt = attr.data_type.lower()
    empty_null = F.when(F.trim(col) == "", None).otherwise(col)
    if dt in ("datetime", "datetimeoffset"):
        return parse_timestamp(col)
    if dt == "boolean":
        return F.lower(F.trim(col)).try_cast("boolean")
    if dt in ("guid", "string"):
        return col  # maxLength is metadata only — never truncate (SURVEY.md §1.2)
    return empty_null.try_cast(attr.spark_type().simpleString())


def apply_schema(df: DataFrame, entity: CdmEntity, *keep: str) -> DataFrame:
    """Cast an all-string CSV DataFrame to the CDM-declared types (B3),
    carrying the ``keep`` columns through untouched.  The one CDM value
    parser: the batch reads and the readStream path both type here."""
    return df.select(*_typed_columns(tuple(entity.attributes), keep))


@schema_memo
def _typed_columns(
    attributes: tuple[CdmAttribute, ...], keep: tuple[str, ...]
) -> tuple[Column, ...]:
    """``apply_schema``'s select list, memoized per attribute tuple."""
    return (
        *[cast_attribute(F.col(a.name), a).alias(a.name) for a in attributes],
        *[F.col(k) for k in keep],
    )


_CSV_OPTIONS = {"quote": '"', "escape": '"', "mode": "PERMISSIVE"}


def paths_are_line_splittable(spark: SparkSession, paths: list[str] | str) -> bool:
    """True iff every physical line in ``paths`` has even quote count.

    Records start outside quotes and quotes toggle in/out state, so even
    parity on every line means quote-state returns to "outside" at every
    newline — every newline is a record boundary and line-level splitting
    is safe. One odd line ⇒ some record spans lines. The scan is a cheap
    length/replace projection with an isEmpty short-circuit, and it is
    schema-independent — ONE job can answer for many batch folders at
    once (the stream runner pays one parity job per tick, not per folder).
    """
    plist = [paths] if isinstance(paths, str) else list(paths)
    # Small local batches: answer on the driver (~10 ms) instead of paying
    # ~250 ms of Spark job overhead per tick. This is metadata-scale I/O,
    # the same class as offset planning; object-store paths (abfss://, s3://)
    # or big ranges still use the fully-parallel distributed scan.
    _LOCAL_LIMIT = 64 * 1024 * 1024
    try:
        sizes = [os.path.getsize(p) for p in plist]
        local_ok = sum(sizes) <= _LOCAL_LIMIT
    except OSError:
        local_ok = False
    if local_ok:
        for p in plist:
            with open(p, "rb") as fh:
                for line in fh:
                    if line.count(b'"') % 2 != 0:
                        return False
        return True
    lines = spark.read.text(paths).where(F.col("value") != "")
    quote_cnt = F.length("value") - F.length(F.replace(F.col("value"), F.lit('"'), F.lit("")))
    return lines.where(quote_cnt % 2 != 0).isEmpty()


def _from_csv_lines(spark: SparkSession, paths: list[str] | str, entity: CdmEntity) -> DataFrame:
    """Byte-range-splittable CSV read: ``from_csv`` over ``spark.read.text``
    lines.  Only correct when no record spans lines."""
    non_empty, record, fields = _line_parse_columns(tuple(entity.attributes))
    parsed = spark.read.text(paths).where(non_empty).select(record).select(fields)
    return apply_schema(parsed, entity)


@schema_memo
def _line_parse_columns(attributes: tuple[CdmAttribute, ...]) -> tuple[Column, Column, Column]:
    """``_from_csv_lines``' line filter, its ``from_csv`` record and the
    record's field expansion, memoized per attribute tuple."""
    ddl = ", ".join(f"`{a.name}` STRING" for a in attributes)
    return (
        F.col("value") != "",
        F.from_csv("value", ddl, _CSV_OPTIONS).alias("r"),
        F.col("r.*"),
    )


def _read_line_splittable(
    spark: SparkSession, paths: list[str] | str, entity: CdmEntity
) -> DataFrame | None:
    """Byte-range-splittable CSV read, or None if records span lines.

    ``multiLine=true`` makes a CSV file unsplittable — parallelism collapses
    to the file count, which at 100 TB means a handful of huge blobs serialize
    the scan. But multiLine is only *needed* when a quoted field embeds a
    newline; ``paths_are_line_splittable`` is the exact detection.

    Trade: two fully-parallel passes (parity scan + from_csv parse of
    ``spark.read.text`` lines, both splittable by HDFS/ABFS byte ranges)
    instead of one scan parallelized only per-file.
    """
    if not paths_are_line_splittable(spark, paths):
        return None
    return _from_csv_lines(spark, paths, entity)


def read_entity_csv(
    spark: SparkSession,
    paths: list[str] | str,
    entity: CdmEntity,
    line_splittable: bool | None = None,
) -> DataFrame:
    """Read headerless quoted CSV chunks for one entity and type them (A3).

    Multiple files become one logical change feed (implicit UNION ALL,
    operator B21). Quoted embedded newlines are handled either by the
    unsplittable ``multiLine`` read or, when quote parity proves no record
    spans a line, by the byte-range-splittable text+``from_csv`` fast path
    (see ``_read_line_splittable``).

    ``line_splittable`` is the caller's ``paths_are_line_splittable``
    answer over (a superset of) these paths: True takes the fast path,
    False the multiLine read.  None probes here, and only when the file
    count under-fills the cluster (fewer files than
    ``defaultParallelism``) — with many files the multiLine read is
    already file-parallel and the parity pass is pure cost.
    """
    if line_splittable is None:
        n_files = 1 if isinstance(paths, str) else len(paths)
        line_splittable = n_files < spark.sparkContext.defaultParallelism and (
            paths_are_line_splittable(spark, paths)
        )
    if line_splittable:
        return _from_csv_lines(spark, paths, entity)
    raw = (
        spark.read.schema(entity.raw_schema())
        .options(header=False, multiLine=True, **_CSV_OPTIONS)
        .csv(paths)
    )
    return apply_schema(raw, entity)
