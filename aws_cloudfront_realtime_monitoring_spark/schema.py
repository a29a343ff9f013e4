"""CloudFront realtime-log schema: the reference's positional, config-driven
field->type mapping re-expressed as a Spark ``StructType``.

Reference parity:
- Field order and declared types mirror
  ``log-processor/config/cf_realtime_log_field_mappings.json:3-42`` (40 fields,
  ordered JSON; iteration order IS the positional schema,
  ``log-processor/lambda_function.py:84``) and the CloudFront ``Fields:`` list
  (``template.yaml:112-152``).
- Reference type system is ``str | int | float`` only; we map
  ``str -> StringType``, ``int -> LongType``, ``float -> DoubleType``.
- ``timestamp`` is float epoch-seconds on the wire; we parse to
  ``TimestampType`` keeping millisecond precision (design decision D3 --
  the reference truncates to whole seconds at ``lambda_function.py:115``).
- Column names: wire names use ``-``; stored names use ``_``
  (``lambda_function.py:105``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# (wire-field-name, declared-type) in exact wire order.
# cf_realtime_log_field_mappings.json:3-42 / template.yaml:112-152.
CF_FIELDS: list[tuple[str, str]] = [
    ("timestamp", "float"),
    ("c-ip", "str"),
    ("time-to-first-byte", "float"),
    ("sc-status", "int"),
    ("sc-bytes", "int"),
    ("cs-method", "str"),
    ("cs-protocol", "str"),
    ("cs-host", "str"),
    ("cs-uri-stem", "str"),
    ("cs-bytes", "int"),
    ("x-edge-location", "str"),
    ("x-edge-request-id", "str"),
    ("x-host-header", "str"),
    ("time-taken", "float"),
    ("cs-protocol-version", "str"),
    ("c-ip-version", "str"),
    ("cs-user-agent", "str"),
    ("cs-referer", "str"),
    ("cs-cookie", "str"),
    ("cs-uri-query", "str"),
    ("x-edge-response-result-type", "str"),
    ("x-forwarded-for", "str"),
    ("ssl-protocol", "str"),
    ("ssl-cipher", "str"),
    ("x-edge-result-type", "str"),
    ("fle-encrypted-fields", "str"),
    ("fle-status", "str"),
    ("sc-content-type", "str"),
    ("sc-content-len", "int"),
    ("sc-range-start", "int"),
    ("sc-range-end", "int"),
    ("c-port", "int"),
    ("x-edge-detailed-result-type", "str"),
    ("c-country", "str"),
    ("cs-accept-encoding", "str"),
    ("cs-accept", "str"),
    ("cache-behavior-path-pattern", "str"),
    ("cs-headers", "str"),
    ("cs-header-names", "str"),
    ("cs-headers-count", "int"),
]

_SPARK_TYPES = {
    "str": T.StringType(),
    "int": T.LongType(),
    "float": T.DoubleType(),
}


def storage_name(wire_name: str) -> str:
    """``-`` -> ``_`` rename (lambda_function.py:105, README.md:29-30)."""
    return wire_name.replace("-", "_")


def wide_schema(parsed_headers: bool = False) -> T.StructType:
    """Schema of the primary wide typed table (FIXTURES.md F2): storage
    names, ``timestamp`` as TimestampType, optional parsed header arrays
    (test.json:39-83 shape) instead of the raw encoded strings."""
    fields: list[T.StructField] = []
    for name, t in CF_FIELDS:
        col = storage_name(name)
        if name == "timestamp":
            fields.append(T.StructField(col, T.TimestampType(), True))
        elif parsed_headers and name == "cs-headers":
            fields.append(
                T.StructField(
                    col,
                    T.ArrayType(
                        T.StructType(
                            [
                                T.StructField("Name", T.StringType(), True),
                                T.StructField("Value", T.StringType(), True),
                            ]
                        )
                    ),
                    True,
                )
            )
        elif parsed_headers and name == "cs-header-names":
            fields.append(T.StructField(col, T.ArrayType(T.StringType()), True))
        else:
            fields.append(T.StructField(col, _SPARK_TYPES[t], True))
    return fields and T.StructType(fields)


#: Columns the reference drops before ingest to save cost
#: (lambda_function.py:96-101, README.md:31).
DROPPED_BY_DEFAULT = ("cs_headers", "cs_header_names")

#: The single measure of the narrow Timestream layout
#: (lambda_function.py:112-114).
MEASURE_COLUMN = "sc_bytes"
MEASURE_NAME = "sc_bytes"

#: Dimension columns of the narrow layout = every stored column except the
#: time column and the dropped header columns (sc_bytes itself is ALSO kept
#: as a string dimension -- lambda_function.py:103-108 iterates all fields).
def narrow_dimension_columns() -> list[str]:
    return [
        storage_name(n)
        for n, _ in CF_FIELDS
        if storage_name(n) not in ("timestamp",) + tuple(DROPPED_BY_DEFAULT)
    ]
