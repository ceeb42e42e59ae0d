"""Self-check harness: replicate the driver's DuckDB-oracle compare.

Runs every registered query on Spark and its oracle SQL on DuckDB over
the same parquet tables, then compares row count, column-name sets and
order-insensitive values (exact for ints/strings, 1e-9 relative for
floats). Strictly tighter than any reasonable hash compare, so passing
here ⇒ passing the driver's t2 gate.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import math
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from vsphere_event_streaming_spark.registry import load_all  # noqa: E402
from vsphere_event_streaming_spark.session import get_spark  # noqa: E402
from vsphere_event_streaming_spark.state import release_cached  # noqa: E402
from vsphere_event_streaming_spark.tables import TABLES  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def canon_spark_type(t: str) -> str:
    t = t.lower()
    if t in ("tinyint", "smallint", "int"):
        return "i32"
    if t == "bigint":
        return "i64"
    if t == "float":
        return "f32"
    if t == "double":
        return "f64"
    if t == "string":
        return "str"
    if t == "boolean":
        return "bool"
    if t.startswith("timestamp"):
        return "ts"
    if t == "date":
        return "date"
    if t.startswith("decimal"):
        return "dec"
    if t == "binary":
        return "bytes"
    if t.startswith("array"):
        return "list"
    return t


def canon_duck_type(t: str) -> str:
    t = str(t).upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER"):
        return "i32"
    if t in ("BIGINT", "HUGEINT", "UBIGINT", "UINTEGER"):
        return "i64"
    if t == "FLOAT":
        return "f32"
    if t == "DOUBLE":
        return "f64"
    if t == "VARCHAR":
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t == "DATE":
        return "date"
    if t.startswith("DECIMAL"):
        return "dec"
    if t == "BLOB":
        return "bytes"
    if t.endswith("[]") or t.startswith("STRUCT") or t.startswith("LIST"):
        return "list"
    return t


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def row_key(row):
    return tuple(
        round(v, 6) if isinstance(v, float) else v for v in row
    )


def _pair_key(row):
    """Sort key for row pairing: exact (non-float) fields first, then
    the floats as NUMBERS. Two rows differing only by float noise sort
    adjacently within their exact-field group, so 1-ULP-at-a-round-
    boundary noise cannot misalign the pairing the way sorting the
    rounded repr could (a flip of the 6th decimal used to reorder a
    row past a neighbor, pairing unrelated rows)."""
    nonf = [repr(v) for v in row if not isinstance(v, float)]
    floats = [v for v in row if isinstance(v, float)]
    return (nonf, floats)


def compare(spark_rows, duck_rows, cols, abs_tol: float = 1e-9):
    """abs_tol stays 1e-9 for the driver-corpus gate; the fuzz suites
    pass ~1e-6 so a value landing EXACTLY on a round-half boundary
    (where 1 ULP of summation-order noise legally flips the 6th
    decimal between engines) is not a failure."""
    if len(spark_rows) != len(duck_rows):
        return f"row count {len(spark_rows)} vs {len(duck_rows)}"
    a = sorted(
        [row_key([norm(v) for v in r]) for r in spark_rows], key=_pair_key
    )
    b = sorted(
        [row_key([norm(v) for v in r]) for r in duck_rows], key=_pair_key
    )
    for i, (x, y) in enumerate(zip(a, b)):
        if x == y:
            continue
        # float tolerance pass
        ok = len(x) == len(y)
        if ok:
            for xv, yv in zip(x, y):
                if xv == yv:
                    continue
                if isinstance(xv, float) and isinstance(yv, float):
                    if math.isclose(xv, yv, rel_tol=1e-9, abs_tol=abs_tol):
                        continue
                ok = False
                break
        if not ok:
            return f"value mismatch at sorted row {i}: {x} != {y} (cols {cols})"
    return None


#: pandas dtype ``kind`` groups the driver's value-hash treats as the
#: same representation. int64 vs float64 (the CORRECTNESS_r04
#: q_pack_sequences DECIMAL→float64 red) are DIFFERENT groups: the
#: driver hashes 960 and 960.0 differently even when values agree.
_KIND_GROUP = {
    "i": "int", "u": "int",
    "f": "float",
    "b": "bool",
    "M": "time", "m": "time",
    "O": "obj", "S": "obj", "U": "obj",
}


def _driver_canon(pdf: "pd.DataFrame"):
    """Replicate the driver's canonicalization: columns sorted by name,
    rows sorted by every column's values, then a value hash. Raises the
    same way the driver does on cells pandas cannot sort/hash (e.g.
    ndarray cells — CORRECTNESS_r04 q_vector_sq
    ``TypeError: unhashable type: 'numpy.ndarray'``)."""
    pdf = pdf[sorted(pdf.columns)].copy()
    if len(pdf.columns):
        pdf = pdf.sort_values(
            by=list(pdf.columns), ignore_index=True, kind="mergesort"
        )
    digest = pd.util.hash_pandas_object(pdf, index=False)
    return pdf, int(digest.sum())


def driver_guard(spark_pdf, duck_pdf) -> str | None:
    """Driver-canonicalizer compatibility guard (VERDICT_r4 #3).

    The exact value compare above is necessary but not sufficient: the
    driver additionally sorts both frames with pandas and hashes the
    values, which (a) crashes on unhashable cells and (b) hash-diverges
    when the two engines land the same values in different pandas
    dtypes (DuckDB DECIMAL → float64 vs Spark BIGINT → int64). Both
    classes shipped as red driver rows in r4; this guard makes a third
    structurally impossible. Returns an error string or None."""
    try:
        sp, _ = _driver_canon(spark_pdf)
    except Exception as e:  # noqa: BLE001 — mirror whatever pandas raises
        return f"driver-canon fails on Spark frame: {type(e).__name__}: {e}"
    if duck_pdf is None:
        return None
    try:
        du, _ = _driver_canon(duck_pdf)
    except Exception as e:  # noqa: BLE001
        return f"driver-canon fails on oracle frame: {type(e).__name__}: {e}"
    diverged = {}
    for c in sp.columns:
        gs = _KIND_GROUP.get(sp[c].dtype.kind, sp[c].dtype.kind)
        gd = _KIND_GROUP.get(du[c].dtype.kind, du[c].dtype.kind)
        if gs != gd:
            diverged[c] = (str(sp[c].dtype), str(du[c].dtype))
        elif gs == "time":
            # tz-aware vs naive (or differing tz) both have kind 'M':
            # same wall-clock values, different pandas dtype — the one
            # canonicalization class VERDICT_r5 #8 wanted seeded. The
            # driver's value hash keys on the underlying representation,
            # so a UTC-aware Spark column vs a naive DuckDB column is a
            # silent hash mismatch waiting for a DST-shaped input.
            tzs = getattr(sp[c].dtype, "tz", None)
            tzd = getattr(du[c].dtype, "tz", None)
            if str(tzs) != str(tzd):
                diverged[c] = (str(sp[c].dtype), str(du[c].dtype))
    if diverged:
        return f"driver-canon dtype divergence {diverged}"
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    queries = load_all()
    spark = get_spark("selfcheck")
    con = duck_con(sf_dir)
    failed = []
    for name, qd in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = qd.fn(spark, sf_dir).persist()
            spark_cols = sorted(df.columns)
            spark_rows = [
                [r[c] for c in spark_cols] for r in df.collect()
            ]
            spark_pdf = df.toPandas()
            df.unpersist()
            release_cached()
            if qd.oracle is None:
                guard = driver_guard(spark_pdf, None)
                if guard:
                    failed.append(name)
                    print(f"✗ {name}: {guard}")
                else:
                    print(f"  {name}: rows-only ({len(spark_rows)} rows) "
                          f"[{time.time()-t0:.1f}s]")
                continue
            res = con.sql(qd.oracle)
            duck_cols_raw = list(res.columns)
            duck_cols = sorted(duck_cols_raw)
            if duck_cols != spark_cols:
                failed.append(name)
                print(f"✗ {name}: columns {spark_cols} vs {duck_cols}")
                continue
            # dtype parity: the driver's hash may be type-sensitive
            sp_types = {c: canon_spark_type(t) for c, t in df.dtypes}
            du_types = {
                c: canon_duck_type(t)
                for c, t in zip(res.columns, res.types)
            }
            type_mismatch = {
                c: (sp_types[c], du_types[c])
                for c in spark_cols
                if sp_types[c] != du_types[c]
            }
            if type_mismatch:
                failed.append(name)
                print(f"✗ {name}: dtype mismatch {type_mismatch}")
                continue
            idx = [duck_cols_raw.index(c) for c in duck_cols]
            duck_rows = [[r[i] for i in idx] for r in res.fetchall()]
            err = compare(spark_rows, duck_rows, spark_cols)
            if err is None and not spark_rows:
                # A 0-row agreement proves only schema shape — any
                # implementation returning an empty frame passes.  No
                # oracled query may be vacuous (VERDICT_r3: q_word_pmi).
                err = "VACUOUS: oracled query returned 0 rows"
            if err is None:
                err = driver_guard(spark_pdf, res.df())
            if err:
                failed.append(name)
                print(f"✗ {name}: {err}")
            else:
                print(f"✓ {name}: {len(spark_rows)} rows "
                      f"[{time.time()-t0:.1f}s]")
        except Exception:
            failed.append(name)
            print(f"✗ {name}: EXCEPTION")
            traceback.print_exc()
    print(f"\n{len(failed)} failed" + (f": {failed}" if failed else ""))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
