"""Arrow-form driver-built literal DataFrames.

A ``spark.createDataFrame(rows, schema)`` local relation evaluates through
pickled-row Python workers EVERY time a downstream action touches it —
PERF_NOTES round-13 measured 25-50x per action vs the Arrow form on the
index-sidecar path.  This helper is the one place that builds literal
frames: rows go driver→JVM once through an Arrow table, so downstream
actions stay JVM-side.  Types Arrow can't carry fall back to the rows form
(same values either way — Arrow distinguishes NULL from NaN, so no value
drift on the fast path).

Used by the driver-built query-vector / id-set / mask / cursor-page
literal sites (round 14, VERDICT r13 task 3).  The persisted-index search
builds its query-side literals the same way without this helper: it
reads the caller's queries ONCE with ``DataFrame.toArrow()`` and hands
that Arrow table (and the probe lists computed from it) straight back to
``createDataFrame``, so no Python rows are ever materialized
(``index._read_query_side``).
"""

from __future__ import annotations

from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(spark: SparkSession, rows: Sequence[Iterable[Any]],
                schema: T.StructType | str) -> DataFrame:
    """Literal DataFrame from driver-side ``rows`` (tuples / Rows /
    lists, positionally matching ``schema`` — a StructType or a DDL
    string) via an Arrow table."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not isinstance(schema, T.StructType):
        raise TypeError(f"local_frame needs a StructType, got {schema!r}")
    if not rows:
        return spark.createDataFrame([], schema)
    names = [f.name for f in schema.fields]
    # Row objects may nest (struct payloads on a scroll page) —
    # asDict(recursive=True) gives Arrow the plain-dict form.  Plain
    # tuples/lists must match the schema arity EXACTLY before the
    # dict(zip(...)) — zip would silently drop extra values and
    # from_pylist would null-fill missing keys, turning an arity bug the
    # rows-form path rejects loudly into silent NULLs (ADVICE r14 #1).
    # The check runs OUTSIDE the Arrow try so a mismatch raises instead
    # of falling back.
    dicts = []
    for r in rows:
        if hasattr(r, "asDict"):
            dicts.append(r.asDict(recursive=True))
            continue
        vals = list(r)
        if len(vals) != len(names):
            raise ValueError(
                f"local_frame row has {len(vals)} values but the "
                f"schema has {len(names)} fields {names}: {r!r}")
        dicts.append(dict(zip(names, vals)))
    try:
        import pyarrow as pa  # noqa: PLC0415
        from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

        tbl = pa.Table.from_pylist(dicts, schema=to_arrow_schema(schema))
        return spark.createDataFrame(tbl, schema=schema)
    except Exception:  # noqa: BLE001 — unsupported type: rows-form path
        return spark.createDataFrame(rows, schema)
