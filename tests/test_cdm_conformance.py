"""One CDM value semantics on every read path.

A table of raw CSV lines × CDM types with the typed row each must become.
Every line goes through the two ways the engine reads a Synapse Link CSV
(``cdm.read_entity_csv``, which both the batch runner and each readStream
micro-batch use), and both must give exactly the expected rows:

1. the unsplittable ``multiLine`` read (``read_entity_csv(...,
   line_splittable=False)``);
2. the byte-range-splittable text + ``from_csv`` read — for the file whose
   quote parity allows it; the file holding a record that spans lines is
   declined by the parity probe and read by the default path.
"""

from __future__ import annotations

import json
import math
from datetime import datetime
from decimal import Decimal

from arcane_stream_microsoft_synapse_link_spark.sources.cdm import (
    _read_line_splittable,
    parse_model,
    read_entity_csv,
)

ENTITY = "conformance"
COLUMNS = [
    ("Id", "string"),
    ("s", "string"),
    ("g", "guid"),
    ("i64", "int64"),
    ("i32", "int32"),
    ("dec", "decimal"),
    ("dbl", "double"),
    ("b", "boolean"),
    ("ts", "dateTime"),
    ("tso", "dateTimeOffset"),
]
NAMES = [c for c, _ in COLUMNS]

T0015 = datetime(2020, 1, 1, 0, 15)

# (id, column, raw field as written in the CSV, expected typed value)
CASES = [
    # empty and quoted-empty fields
    ("empty-s", "s", "", None),
    ("qempty-s", "s", '""', None),
    ("empty-g", "g", "", None),
    ("empty-i64", "i64", "", None),
    ("qempty-i64", "i64", '""', None),
    ("qempty-dec", "dec", '""', None),
    ("qempty-b", "b", '""', None),
    ("qempty-ts", "ts", '""', None),
    # whitespace: strings keep it, typed columns trim it
    ("ws-s", "s", " x ", " x "),
    ("ws-only-s", "s", "  ", "  "),
    ("qws-s", "s", '"  "', "  "),
    ("ws-i64", "i64", " 42 ", 42),
    ("ws-only-i64", "i64", "  ", None),
    ("ws-b", "b", " true ", True),
    ("ws-ts", "ts", " 2020-01-01T00:15:00.0000000Z ", T0015),
    # strings are never truncated or reinterpreted
    ("quote-s", "s", '"a,""b"" c"', 'a,"b" c'),
    ("unicode-s", "s", "ü汉", "ü汉"),
    ("guid", "g", "0000000a-aaaa-bbbb-cccc-ddddeeee0001", "0000000a-aaaa-bbbb-cccc-ddddeeee0001"),
    # boolean spellings
    ("b-true", "b", "true", True),
    ("b-True", "b", "True", True),
    ("b-1", "b", "1", True),
    ("b-0", "b", "0", False),
    ("b-t", "b", "t", True),
    ("b-yes", "b", "yes", True),
    ("b-n", "b", "n", False),
    ("b-FALSE", "b", "FALSE", False),
    ("b-garbage", "b", "maybe", None),
    # the four timestamp wire formats, on both timestamp CDM types
    ("ts-z", "ts", "2020-01-01T00:15:00.0000000Z", T0015),
    ("ts-offset", "ts", "2020-01-01T00:15:00.0000000+00:00", T0015),
    ("ts-sentinel", "ts", "0001-01-03T00:00:00.0000000", datetime(1, 1, 3)),
    ("ts-us12", "ts", "1/7/2021 3:04:05 PM", datetime(2021, 1, 7, 15, 4, 5)),
    ("ts-us12-hour0", "ts", "1/7/2021 0:04:05 PM", datetime(2021, 1, 7, 12, 4, 5)),
    ("ts-date-only", "ts", "2020-01-01", None),
    ("ts-garbage", "ts", "not a date", None),
    ("tso-z", "tso", "2020-01-01T00:15:00.0000000Z", T0015),
    ("tso-plus2", "tso", "2020-01-01T02:15:00.0000000+02:00", T0015),
    ("tso-us12", "tso", "1/7/2021 12:04:05 AM", datetime(2021, 1, 7, 0, 4, 5)),
    # integers: invalid spellings and overflow are null
    ("i64-neg", "i64", "-5", -5),
    ("i64-underscore", "i64", "1_000", None),
    ("i64-max", "i64", "9223372036854775807", 9223372036854775807),
    ("i64-overflow", "i64", "9223372036854775808", None),
    ("i64-garbage", "i64", "abc", None),
    ("i32-max", "i32", "2147483647", 2147483647),
    ("i32-overflow", "i32", "2147483648", None),
    # decimals (default precision 38, scale 6) and doubles
    ("dec-plain", "dec", "1.5", Decimal("1.500000")),
    ("dec-round", "dec", "1.1234567", Decimal("1.123457")),
    ("dec-nan", "dec", "NaN", None),
    ("dec-39-digits", "dec", "1" * 39, None),
    ("dec-garbage", "dec", "1.2.3", None),
    ("dbl-exp", "dbl", "1e3", 1000.0),
    ("dbl-nan", "dbl", "NaN", math.nan),
    ("dbl-garbage", "dbl", "abc", None),
]

# a record that spans lines: its file cannot take the from_csv path
NEWLINE_CASE = ("newline-s", "s", '"line1\nline2"', "line1\nline2")

# a sparse delete row cut short (fewer fields than columns): the missing
# trailing columns read null
RAGGED_LINE = "ragged,,,77"
RAGGED_ROW = ("ragged", None, None, 77, None, None, None, None, None, None)


def _line(case) -> str:
    rid, col, raw, _ = case
    fields = ["" for _ in NAMES]
    fields[0] = rid
    fields[NAMES.index(col)] = raw
    return ",".join(fields)


def _row(case) -> tuple:
    rid, col, _, value = case
    row = [None for _ in NAMES]
    row[0] = rid
    row[NAMES.index(col)] = value
    return tuple(row)


def _comparable(rows) -> list[tuple]:
    # NaN != NaN: compare it by name
    def norm(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    return sorted(tuple(norm(v) for v in r) for r in rows)


def _model() -> str:
    return json.dumps(
        {
            "name": "cdm",
            "entities": [
                {
                    "name": ENTITY,
                    "attributes": [{"name": n, "dataType": t} for n, t in COLUMNS],
                }
            ],
        }
    )


def test_every_read_path_types_cdm_values_alike(spark, tmp_path):
    clean = tmp_path / "clean.csv"
    clean.write_text("\n".join([*map(_line, CASES), RAGGED_LINE]) + "\n", encoding="utf-8")
    nl = tmp_path / "newline.csv"
    nl.write_text(_line(NEWLINE_CASE) + "\n", encoding="utf-8")

    expected = _comparable([*map(_row, CASES), RAGGED_ROW, _row(NEWLINE_CASE)])
    entity = parse_model(_model())[ENTITY]
    paths = [str(clean), str(nl)]

    # 1. multiLine
    multi = read_entity_csv(spark, paths, entity, line_splittable=False)
    assert _comparable(multi.collect()) == expected

    # 2. line-splittable from_csv where parity allows it
    fast = _read_line_splittable(spark, str(clean), entity)
    assert fast is not None
    assert _read_line_splittable(spark, str(nl), entity) is None
    split_rows = fast.collect() + read_entity_csv(spark, str(nl), entity).collect()
    assert _comparable(split_rows) == expected
