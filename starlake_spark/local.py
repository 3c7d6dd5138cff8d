"""Driver-local rows → DataFrame without the per-action Python tax.

``spark.createDataFrame(list, schema)`` parallelizes the rows into a
Python RDD: every downstream action re-ships the pickled rows through a
Python worker round trip (measured ~0.3 s per action in local mode —
optimization guide §4, the JVM↔Python boundary). Building a pyarrow
Table on the driver and handing it to ``createDataFrame`` (Spark 4
native Arrow-table support) serializes the rows ONCE into JVM-held
batches, after which every action is pure JVM (~0.05 s per action,
~0.02 s on re-use of the same frame).

The engine builds many tiny driver-local frames on hot paths —
partition/file-stat pruning relations, rollup threat sets, DDL command
results, ANN probe tables, scenario churn commits — and each is
consumed by at least one action, so the conversion pays for itself
immediately.

Values are identical by construction: the arrays are built with
``from_pandas=False`` so None↔null and NaN↔NaN map one-to-one (a
pandas round trip would fold NaN into null — pinned by
tests/test_local_df.py), and every type the engine passes (longs,
strings, booleans, doubles, decimals, dates, timestamps, nested
arrays) converts exactly. Any row shape pyarrow cannot represent falls
back to the plain ``createDataFrame`` path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


# Row cap for mat_local's driver-local arm. It bounds driver memory,
# not correctness: both arms compute the identical frame.
MAT_LOCAL_ROW_CAP = 131072


def mat_local(spark: SparkSession,
              df: DataFrame) -> "tuple[DataFrame, list | None]":
    """Materialize a small intermediate driver-locally: one
    Arrow-serialized collect (``toArrow`` — no per-row py4j pickling),
    re-entering Spark as a JVM-held Arrow relation, so every downstream
    probe (counts, emptiness, threat splits) is answered from the
    returned row tuples with ZERO further Spark jobs and every
    downstream plan roots in a LocalRelation instead of a checkpointed
    RDD scan. Returns (frame, rows); above ``MAT_LOCAL_ROW_CAP`` rows
    the frame falls back to ``localCheckpoint`` and rows is None."""
    cap = MAT_LOCAL_ROW_CAP
    # CollectLimit's incremental execution (1 partition, then scale-up)
    # would schedule SEVERAL jobs over an aggregate child; these frames
    # are expected under the cap, so grab every partition in the first
    # attempt — exactly one job, still row-capped for the driver.
    key = "spark.sql.limit.initialNumPartitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "2147483647")
    try:
        tbl = df.limit(cap + 1).toArrow()
    except Exception:  # noqa: BLE001 — unconvertible type → cluster-side
        tbl = None
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    if tbl is not None and tbl.num_rows <= cap:
        frame = spark.createDataFrame(tbl, schema=df.schema)
        rows = list(zip(*(c.to_pylist() for c in tbl.columns)))
        return frame, rows
    return df.localCheckpoint(eager=True), None


def _has_naive_ts(dt) -> bool:
    """True iff the type carries a (possibly nested) TimestampType —
    the one type whose Arrow conversion is session-time-zone-sensitive
    (TimestampNTZType is not: both paths treat it as wall-clock)."""
    if isinstance(dt, T.TimestampType):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_naive_ts(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_naive_ts(dt.keyType) or _has_naive_ts(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_has_naive_ts(f.dataType) for f in dt.fields)
    return False


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """A JVM-resident DataFrame from driver-local rows.

    Drop-in for ``spark.createDataFrame(rows, schema)`` where ``rows``
    is a driver-local list (tuples / lists / Rows) and ``schema`` is a
    StructType or DDL string. Falls back to the plain path on any
    conversion surprise (never raises differently than createDataFrame
    would).
    """
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        st = (T._parse_datatype_string(schema)
              if isinstance(schema, str) else schema)
        if not st.fields:
            return spark.createDataFrame(rows, schema)
        rows = list(rows)
        if any(isinstance(r, dict) for r in rows):
            # dict rows map by KEY in createDataFrame; tuple(dict)
            # would silently take the keys as values — plain path
            return spark.createDataFrame(rows, schema)
        if any(_has_naive_ts(f.dataType) for f in st.fields) and \
                spark.conf.get("spark.sql.session.timeZone",
                               "UTC") not in ("UTC", "Etc/UTC", "GMT"):
            # the Arrow path pins naive datetimes to UTC while the
            # plain path reads them in the session time zone — only
            # identical when the session zone IS UTC (session.py pins
            # it; guard any non-UTC caller)
            return spark.createDataFrame(rows, schema)
        data = [tuple(r) for r in rows]
        arrow_schema = to_arrow_schema(st)
        cols = [
            pa.array([r[i] for r in data],
                     type=arrow_schema.field(i).type, from_pandas=False)
            for i in range(len(st.fields))
        ]
        tbl = pa.Table.from_arrays(cols, schema=arrow_schema)
        return spark.createDataFrame(tbl, schema=st)
    except Exception:  # noqa: BLE001 — perf path only; plain path is the contract
        return spark.createDataFrame(rows, schema)
