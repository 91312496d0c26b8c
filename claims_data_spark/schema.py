"""Declared-schema registry: YAML-shaped dicts -> StructType.

The reference declares every table as ``vars: {COLUMN: SQLTYPE}`` in
YAML (e.g. ``load_stage.mcaid_elig.yaml:26-66``) and creates tables
from those dicts (``load_ccw.R:209``). We keep the same
declare-don't-infer discipline: a SQL-Server type string maps to a
Spark ``DataType``, and readers validate/coerce against the declared
StructType instead of trusting inference — at 100 TB a silently
inferred ``double`` where a ``decimal(19,3)`` was meant is a
correctness bug, not a convenience.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_DECIMAL_RE = re.compile(r"^(?:numeric|decimal)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$")
_VARCHAR_RE = re.compile(r"^(?:var)?char\s*\(\s*(\d+|max)\s*\)$")
_TIME_RE = re.compile(r"^time(\s*\(\s*\d+\s*\))?$")

_SIMPLE = {
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "smallint": T.ShortType(),
    "tinyint": T.ByteType(),
    "bit": T.BooleanType(),
    "date": T.DateType(),
    "datetime": T.TimestampType(),
    "datetime2": T.TimestampType(),
    "float": T.DoubleType(),
    "real": T.FloatType(),
    "text": T.StringType(),
    "varchar": T.StringType(),
    "char": T.StringType(),
    "uniqueidentifier": T.StringType(),
    "varbinary": T.BinaryType(),
    "binary": T.BinaryType(),
}


def sql_type_to_spark(sql_type: str) -> T.DataType:
    """Map a SQL-Server/Synapse type string to a Spark DataType.

    Covers the complete type surface observed in the reference's YAML
    configs (SURVEY.md §1.3): VARCHAR/CHAR(n), INT/BIGINT/SMALLINT/
    TINYINT, BIT, DATE, DATETIME, TIME(0), NUMERIC(p,s), FLOAT.
    TIME(0) (``admsn_time``, ``load_stage.mcaid_claim_header.yaml:30``)
    has no Spark analog; we carry it as a canonical 'HH:mm:ss' string.
    """
    s = sql_type.strip().lower()
    m = _DECIMAL_RE.match(s)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    if _VARCHAR_RE.match(s):
        return T.StringType()
    if _TIME_RE.match(s):
        return T.StringType()
    if s in _SIMPLE:
        return _SIMPLE[s]
    raise ValueError(f"unmapped SQL type: {sql_type!r}")


def struct_type(vars_dict: dict[str, str], nullable: bool = True) -> T.StructType:
    """Turn a YAML-shaped ``{column: sqltype}`` dict into a StructType."""
    return T.StructType(
        [T.StructField(col, sql_type_to_spark(t), nullable) for col, t in vars_dict.items()]
    )


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as a driver-local
    frame: a ``LocalRelation`` built from an Arrow table of the declared
    types. ``createDataFrame`` of a Python list is a Python RDD instead,
    and every scan of it runs Python worker tasks."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T.StructType.fromDDL(schema)
    return spark.createDataFrame(pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows],
        schema=to_arrow_schema(struct),
    ))


class SchemaRegistry:
    """Layered-namespace table registry: raw / stage / final / ref / meta.

    The reference's layered schemas (``load_raw`` -> ``stage`` ->
    ``final`` + ``ref`` + ``metadata``; SURVEY.md §1.1) become dotted
    namespaces. ``declare`` records the contract; ``apply`` coerces a
    DataFrame to it (order, names, types), which is what the
    reference's ``dbCreateTable(fields=config$vars)`` + INSERT
    achieves.
    """

    LAYERS = ("raw", "stage", "final", "ref", "meta")

    def __init__(self) -> None:
        self._tables: dict[str, T.StructType] = {}

    def declare(self, qualified_name: str, vars_dict: dict[str, str]) -> T.StructType:
        layer = qualified_name.split(".", 1)[0]
        if layer not in self.LAYERS:
            raise ValueError(f"unknown layer {layer!r}; expected one of {self.LAYERS}")
        st = struct_type(vars_dict)
        self._tables[qualified_name] = st
        return st

    def schema(self, qualified_name: str) -> T.StructType:
        return self._tables[qualified_name]

    def tables(self) -> list[str]:
        return sorted(self._tables)

    def apply(self, df, qualified_name: str, strict: bool = False):
        """Project/cast a DataFrame onto the declared schema (declared
        column order, declared types). Missing columns raise; extra
        columns are dropped — same contract as inserting into a
        pre-created SQL table.

        ``strict=True`` uses the ANSI cast, which FAILS the job on any
        un-parseable value (Spark 4 default semantics) — declare-don't-
        infer all the way down. ``strict=False`` uses ``try_cast``:
        un-coercible cells become NULL silently, which is only
        appropriate for exploratory loads."""
        from pyspark.sql import functions as F

        st = self.schema(qualified_name)
        missing = [f.name for f in st.fields if f.name not in df.columns]
        if missing:
            raise ValueError(f"{qualified_name}: missing columns {missing}")
        if strict:
            cols = [F.col(f.name).cast(f.dataType).alias(f.name) for f in st.fields]
        else:
            cols = [
                F.col(f.name).try_cast(f.dataType).alias(f.name) for f in st.fields
            ]
        return df.select(*cols)
