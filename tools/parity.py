"""Local stand-in for the driver's correctness gate: run each
``queries()`` entry in Spark and its ``oracle_sql()`` in DuckDB over
the same parquet dir, normalize, and compare row counts + sorted
values. Usage: python tools/parity.py [--strict] [sf_dir] [query ...]

``--strict`` replicates the driver's TYPE-SENSITIVE hash compare:
no Decimal->float coercion, no 9 dp float rounding, no int-valued-
float collapse — every cell is tagged with its type class, so an
int 35731471 vs a float 35731471.0 (the exact corpus_card r07 red)
or a Spark DECIMAL vs a DuckDB float64 fetch (corpus_diff r07) FAIL
locally before they can fail at the driver. Strict is the pre-flight
gate for every window query; the default (loose) mode remains for
quick triage of genuine value bugs.
"""

from __future__ import annotations

import math
import os
import sys
import traceback

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, (np.integer,)):
        v = int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return int(v)
        return round(v, 9)
    if isinstance(v, bool):
        return int(v)
    return v


def strict_cell(v):
    """Type-tagged cell: (type_class, canonical_value). Two cells are
    equal ONLY when both the type class and the exact value agree —
    the local mirror of the driver's dtype-carrying hash. No rounding,
    no numeric cross-type collapse."""
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return ("null", None)
    if isinstance(v, (bool, np.bool_)):
        return ("bool", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("int", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return ("null", None)
        return ("float", repr(f))
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        return ("datetime", v.strftime("%Y-%m-%d %H:%M:%S"))
    if isinstance(v, datetime.date):
        return ("date", v.strftime("%Y-%m-%d"))
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("list", tuple(strict_cell(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, strict_cell(x)) for k, x in v.items())))
    return (type(v).__name__, v)


def frame_to_rows(df, strict: bool = False) -> list[tuple]:
    cols = sorted(df.columns)
    cell = strict_cell if strict else norm_cell
    rows = [tuple(cell(r[c]) for c in cols) for _, r in df[cols].iterrows()]
    return sorted(rows, key=lambda t: tuple((x is None, str(x)) for x in t))


def main():
    argv = [a for a in sys.argv[1:]]
    strict = "--strict" in argv
    if strict:
        argv.remove("--strict")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    # import the engine from the checkout this script lives in
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    if os.environ.get("PARITY_VANILLA"):
        # dress rehearsal for the driver's own gate: a PLAIN session
        # (Spark 4 ANSI defaults, no tuned configs) — queries must not
        # depend on anything claims_data_spark.session.get_spark sets
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .appName("parity-vanilla")
            .getOrCreate()
        )
    else:
        from claims_data_spark.session import get_spark

        spark = get_spark("parity", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            results[name] = "SPARK-ERROR"
            traceback.print_exc()
            continue
        if name not in oracles:
            results[name] = f"ROWS-ONLY ({len(sdf)} rows)"
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception:
            results[name] = "ORACLE-ERROR"
            traceback.print_exc()
            continue
        s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
        if s_cols != o_cols:
            results[name] = f"SCHEMA-MISMATCH spark={s_cols} oracle={o_cols}"
            continue
        if len(sdf) != len(odf):
            results[name] = f"ROWCOUNT-MISMATCH spark={len(sdf)} oracle={len(odf)}"
            continue
        srows, orows = frame_to_rows(sdf, strict), frame_to_rows(odf, strict)
        if srows == orows:
            results[name] = f"OK ({len(sdf)} rows)"
        else:
            diffs = [
                (a, b) for a, b in zip(srows, orows) if a != b
            ][:3]
            results[name] = f"VALUE-MISMATCH e.g. {diffs}"

    width = max(len(k) for k in results)
    n_ok = sum(1 for v in results.values() if v.startswith(("OK", "ROWS-ONLY")))
    for k, v in results.items():
        print(f"{k:<{width}}  {v}")
    print(f"\n{n_ok}/{len(results)} passing" + (" [strict]" if strict else ""))
    spark.stop()


if __name__ == "__main__":
    main()
