"""Hustle column-spec grammar -> Spark ``StructField``.

The reference declares table schemas as strings like ``'wide index
string token'`` or ``'index uint32 time'`` (public repo:
``hustle/core/marble.py`` column type registry; ``hustle/__init__.py``
``Table.create``). The grammar is::

    [wide] [index] <type> <name>

where ``<type>`` is one of the fixed-width ints ``uint8/16/32/64``,
``int8/16/32/64``, ``string``, ``trie`` (prefix-trie-compressed
string), ``lz4`` (LZ4-compressed string blob), ``binary``, ``boolean``.

Mapping decisions (SURVEY.md section 1):

- ``trie``/``lz4`` are *storage encodings*, not logical types — Parquet
  dictionary encoding + page compression covers both, so they map to
  ``StringType``. The original encoding is kept in field metadata.
- Spark integers are signed: each ``uintN`` maps to the next wider
  signed type so the full unsigned range fits. ``uint64`` maps to
  ``DecimalType(20, 0)`` when ``strict_uint64=True`` else ``LongType``
  (documented range caveat — testdata has no uint64 values).
- ``index`` / ``wide index`` become field-metadata hints that the write
  path turns into a sort within each file + the Parquet bloom-filter
  option, the Spark analogue of hustle's EWAH bitmap indexes (the
  catalog module docstring says when a filter is actually written).
- EXT types beyond the reference (``double``, ``timestamp``, ``date``,
  ``json``, ``array<float>``...) are accepted because the driver
  testdata uses them.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, replace, field

from pyspark.sql import types as T

_INT_TYPES: dict[str, T.DataType] = {
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    # unsigned: widen so the full range is representable
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
}

_SIMPLE_TYPES: dict[str, T.DataType] = {
    **_INT_TYPES,
    "string": T.StringType(),
    "trie": T.StringType(),
    "trie16": T.StringType(),
    "lz4": T.StringType(),
    "binary": T.BinaryType(),
    "boolean": T.BooleanType(),
    "bit": T.BooleanType(),
    # EXT logical types (absent in the reference, used by testdata)
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "json": T.StringType(),
}

_ARRAY_RE = re.compile(r"^array<(\w+)>$")


@dataclass
class ColumnSpec:
    """Parsed form of one hustle column declaration."""

    name: str
    type_name: str
    dtype: T.DataType
    index: bool = False
    wide: bool = False
    spec: str = ""

    def to_field(self) -> T.StructField:
        md = {
            "hustle_type": self.type_name,
            "index": self.index,
            "wide": self.wide,
        }
        return T.StructField(self.name, self.dtype, nullable=True, metadata=md)


def parse_column_spec(spec: str, strict_uint64: bool = False) -> ColumnSpec:
    """Parse ``'[wide] [index] <type> <name>'`` into a :class:`ColumnSpec`."""
    tokens = spec.strip().split()
    if len(tokens) < 2:
        raise ValueError(f"column spec needs at least '<type> <name>': {spec!r}")
    wide = False
    index = False
    while tokens and tokens[0] in ("wide", "index"):
        tok = tokens.pop(0)
        if tok == "wide":
            wide = True
        else:
            index = True
    if wide and not index:
        # reference grammar: 'wide' only appears as 'wide index'
        index = True
    if len(tokens) != 2:
        raise ValueError(f"malformed column spec {spec!r}; expected '<type> <name>'")
    type_name, name = tokens
    dtype = _resolve_type(type_name, strict_uint64)
    return ColumnSpec(name=name, type_name=type_name, dtype=dtype, index=index, wide=wide, spec=spec)


def _resolve_type(type_name: str, strict_uint64: bool) -> T.DataType:
    if type_name == "uint64":
        return T.DecimalType(20, 0) if strict_uint64 else T.LongType()
    if type_name in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[type_name]
    m = _ARRAY_RE.match(type_name)
    if m:
        return T.ArrayType(_resolve_type(m.group(1), strict_uint64))
    raise ValueError(f"unknown hustle column type: {type_name!r}")


@dataclass
class TableSchema:
    """A parsed hustle table schema: ordered column specs + partition column."""

    name: str
    columns: list[ColumnSpec] = field(default_factory=list)
    partition: str | None = None

    @classmethod
    def parse(cls, name: str, column_specs: list[str], partition: str | None = None) -> "TableSchema":
        cols = [parse_column_spec(s) for s in column_specs]
        names = [c.name for c in cols]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate column names in {name}: {names}")
        if partition is not None and partition not in names:
            raise ValueError(f"partition column {partition!r} not in columns of {name}")
        return cls(name=name, columns=cols, partition=partition)

    def to_struct(self) -> T.StructType:
        return T.StructType([c.to_field() for c in self.columns])

    @property
    def indexed_columns(self) -> list[str]:
        out = [c.name for c in self.columns if c.index]
        if self.partition and self.partition not in out:
            out.append(self.partition)  # partition columns are auto-indexed
        return out

    def to_json_dict(self) -> dict:
        return {
            "name": self.name,
            "partition": self.partition,
            "columns": [
                {
                    # reconstruct a FULL spec when none was stored: a
                    # bare 'type name' fallback silently dropped the
                    # index/wide modifiers of hand-built ColumnSpecs
                    "spec": c.spec or (
                        ("wide " if c.wide else "")
                        + ("index " if c.index else "")
                        + f"{c.type_name} {c.name}"
                    ),
                    "name": c.name,
                    "type": c.type_name, "index": c.index, "wide": c.wide,
                    # persist the RESOLVED Spark type so a strict_uint64
                    # Decimal(20,0) table does not silently reload as
                    # LongType against Decimal data on disk
                    "dtype": c.dtype.json(),
                }
                for c in self.columns
            ],
        }

    @classmethod
    def from_json_dict(cls, d: dict) -> "TableSchema":
        cols = []
        for c in d["columns"]:
            spec = parse_column_spec(c["spec"])
            stored = c.get("dtype")
            if stored is not None:
                dtype = T._parse_datatype_json_string(stored)
                if dtype != spec.dtype:
                    spec = replace(spec, dtype=dtype)
            cols.append(spec)
        return cls(name=d["name"], columns=cols, partition=d.get("partition"))
