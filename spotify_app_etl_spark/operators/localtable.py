"""Tiny driver-side tables as DataFrames — the fast path.

Three ways to turn a small driver-resident list into a DataFrame, all
measured in this environment (128-row codebook table, warm session):

* ``spark.createDataFrame(list_of_tuples)``: ~0.3 s/call — the rows
  are pickled into an RDD and every ACTION re-deserializes them in a
  Python worker.
* JVM-literal rows (``range(1).select(explode(array(struct(lit(...``):
  the r11 pattern. No Python worker at action time, but construction
  pays one py4j round trip PER LITERAL — ~2.0 s for the 1k-literal
  codebook table, ~1.7 s for a 600-literal merge table. Fine for a
  handful of literals (``similarity._meta_row``), quadratic-feeling
  beyond ~100.
* ``spark.createDataFrame(pyarrow_table, struct)``: ONE py4j call
  shipping one Arrow batch; ~0.03 s for the same tables, and the batch
  is held JVM-side as a ``LocalRelation``, so actions never touch a
  Python worker either. Values move as binary doubles/ints — no literal
  formatting, no precision round trip. A ``pyarrow.Table`` takes this
  path whether ``spark.sql.execution.arrow.pyspark.enabled`` is on or
  off (a pandas frame would fall back to the pickled path when it is
  off).

This module standardizes the third path. Its user today is the ETL
ingest (``etl._json_df``: the raw page items of the four driver-side
endpoints). The per-site literal / list branches for PQ codebooks, BPE
merge lists, range-rank offsets and SemDeDup block counts are the
intended next users; single-row metas keep the literal pattern
(cheapest at that size).

Scale note: these tables are bounded by config or by one API page
chain, never by a distributed dataset's size. Anything data-sized must
go through a distributed plan instead.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_df(
    spark: SparkSession, schema: str, columns: Mapping[str, Sequence]
) -> DataFrame:
    """Build a small DataFrame from driver-side columns via ONE Arrow
    batch (see module docstring for why not literals / list-of-tuples).

    ``schema`` is a DDL string (``"a int, b array<double>"``);
    ``columns`` maps each schema field name to its values, all the
    same length. Columns bind to fields BY NAME, so the mapping's key
    order is irrelevant; a missing or extra key raises ``ValueError``.
    Values are shipped as binary Arrow data — exact for doubles, no
    SQL-literal quoting concerns for strings. Empty columns produce a
    valid zero-row frame with the declared schema.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema)
    names = struct.fieldNames()
    missing = [n for n in names if n not in columns]
    extra = [k for k in columns if k not in names]
    if missing or extra:
        raise ValueError(
            f"local_df: columns do not match schema {schema!r}: "
            f"missing {missing}, extra {extra}"
        )
    table = pa.Table.from_pydict(
        {name: columns[name] for name in names}, schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)
