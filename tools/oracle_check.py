"""Oracle check: every registered query against its DuckDB twin.

Runs every ``__spark_entry__.queries()`` entry at a given sf_dir and
compares against ``oracle_sql()`` via DuckDB: row count, schema width,
and an order-insensitive value hash (rows stringified, columns sorted
by name, rows sorted). ``tests/test_oracle_dtypes.py`` runs the same
``check_query`` for every query at sf0.001. Usage::

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def norm_cell(v) -> str:
    import datetime as dt
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


#: DuckDB types that pandas materializes as float64 even when every
#: value is integral — the r3/r7 driver-mismatch class (VERDICT r7 #1):
#: the driver fetches the oracle through pandas, so a HUGEINT 0 reaches
#: its hasher as "0.0" while Spark emits "0". These must never appear
#: in a twin's output schema; CAST(... AS BIGINT) at the SQL level.
_DRIFT_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")

_INTEGRAL_DUCK = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                  "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT")


def oracle_dtype_drift(native_types: list[tuple[str, str]],
                       odf) -> list[str]:
    """Columns where the driver's pandas materialization diverges from
    the declared integral type: HUGEINT/DECIMAL always, plus any
    integral column that came back float64 WITHOUT a NULL to explain it
    (a NULL-caused float64 is symmetric — Spark's toPandas does the
    same — and has always passed the driver, e.g. asof_join's
    horizon-miss payloads)."""
    drift = []
    for col, typ in native_types:
        if any(d in typ for d in _DRIFT_TYPES):
            drift.append(f"{col}:{typ}")
            continue
        if typ in _INTEGRAL_DUCK and str(odf[col].dtype) == "float64" \
                and not odf[col].isna().any():
            drift.append(f"{col}:{typ}->float64")
    return drift


def fetch_oracle_df(con, sql: str):
    """Driver-faithful oracle fetch: through pandas (``.df()``), not
    ``fetchall()`` — the driver's correctness gate materializes the
    oracle via pandas, so this replica must see the same dtypes
    (VERDICT r7 ask #1a). Returns (cols, rows-as-python-scalars,
    drift-column list)."""
    import datetime as dt
    import math

    import numpy as np
    import pandas as pd

    native = [(r[0], r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall()]
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    odf = res.df()
    drift = oracle_dtype_drift(native, odf)
    types = dict(native)

    def conv(v, col):
        if v is None or v is pd.NaT:
            return None
        if isinstance(v, np.generic):
            v = v.item()
        if isinstance(v, float) and math.isnan(v):
            return None  # pandas NULL materialization, not a value
        if isinstance(v, pd.Timestamp):
            v = v.to_pydatetime()
        if types.get(col) == "DATE" and isinstance(v, dt.datetime):
            return v.date()
        return v

    orows = [
        tuple(conv(v, c) for v, c in zip(t, ocols))
        for t in odf.itertuples(index=False, name=None)
    ]
    return ocols, orows, drift


def table_digest(cols: list[str], rows: list[tuple]) -> tuple[str, list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, lines


def oracle_connect(sf_dir: str):
    """DuckDB connection with one view per testdata table at sf_dir."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def check_query(spark, con, name: str, fn, sql: str | None,
                sf_dir: str) -> list[str]:
    """Run query ``fn`` at sf_dir and its twin ``sql`` on ``con``;
    return the failure reasons (empty when the two agree)."""
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001
        return [f"spark error: {e}"]
    if sql is None:
        return [f"no DuckDB twin for {name}"]
    try:
        ocols, orows, drift = fetch_oracle_df(con, sql)
    except Exception as e:  # noqa: BLE001
        return [f"duckdb error: {e}"]
    sh, slines = table_digest(scols, srows)
    oh, olines = table_digest(ocols, orows)
    reasons = []
    if drift:
        reasons.append(f"oracle dtype drift (pandas-visible): {drift}")
    if len(srows) != len(orows):
        reasons.append(f"rowcount {len(srows)} vs {len(orows)}")
    if sorted(scols) != sorted(ocols):
        reasons.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
    if sh != oh:
        sset, oset = set(slines), set(olines)
        diff = [f"spark-only: {x[:160]}" for x in list(sset - oset)[:3]]
        diff += [f"duck-only : {x[:160]}" for x in list(oset - sset)[:3]]
        reasons.append("\n      ".join(["value-hash mismatch", *diff]))
    return reasons


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # The lazy oracle builders (IVF/PQ training samples, sampling
    # thresholds) read SPARK_GRAFT_ORACLE_SF_DIR; if the caller forgot
    # to export it for a non-default sf_dir the twin would derive its
    # literals from sf0.01 while Spark runs at sf_dir — every
    # sample-dependent query then "fails" as a harness artifact
    # (happened twice: round-5 solo probes, round-6 background sweep).
    # Default it to the positional arg so the two sides always agree.
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)

    import __spark_entry__ as entrymod
    from pond_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = oracle_connect(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name must FAIL loudly — '0/0 pass' with exit 0 would
        # let a gate believe it checked something it never ran
        print(f"unknown query name(s): {sorted(unknown)}")
        return 1
    failures = []
    attempted = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        attempted += 1
        reasons = check_query(spark, con, name, fn, oracles.get(name), sf_dir)
        if reasons:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(reasons)}")
        else:
            print(f"PASS {name}")
    print(f"\n{attempted - len(failures)}/{attempted} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
