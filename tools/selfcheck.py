#!/usr/bin/env python3
"""Local mimic of the driver's t2 correctness gate.

Runs graft.Verify at a given SF dir, then replays every oracle_sql.json
entry in DuckDB over the same parquet tables and compares with the
Spark-written parquet (columns sorted by name, rows sorted, exact values).

Verify runs in the checkout that holds this script, on
local[$SPARK_GRAFT_CPUS] (Verify's default: 32 cores); the summary line
names that core count.

Usage: python3 tools/selfcheck.py [sfdir] [outdir] [--skip-verify] [query...]
"""
import json, math, os, subprocess, sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def norm_type(t):
    """Normalize representation-only differences so the comparison is
    strict on semantics (int64 vs HUGEINT/decimal128 FAILS) but tolerant
    of encoding (large_string vs string, tz-annotated vs naive us
    timestamps, list field names/nullability)."""
    if pa.types.is_large_string(t):
        return pa.string()
    if pa.types.is_large_binary(t):
        return pa.binary()
    if pa.types.is_timestamp(t):
        return pa.timestamp("us")
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return pa.list_(norm_type(t.value_type))
    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, norm_type(f.type))
                          for f in t])
    return t

CHECKOUT = Path(__file__).resolve().parent.parent
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
flags = [a for a in sys.argv[3:] if a.startswith("--")]
only = [a for a in sys.argv[3:] if not a.startswith("--")]

if "--skip-verify" not in flags:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
        cwd=CHECKOUT, capture_output=True, text=True)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-15:])
    if r.returncode != 0:
        print("VERIFY FAILED:\n", tail); sys.exit(1)

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.loads(Path(f"{OUT}/oracle_sql.json").read_text())
if only:
    missing = [q for q in only if q not in oracle]
    if missing:
        print(f"ERROR: not in oracle_sql.json: {missing} "
              f"(rows-only queries have no oracle; check spelling)")
        sys.exit(1)
results = {}
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    pdir = Path(OUT) / name
    try:
        spark_tbl = con.sql(f"SELECT * FROM '{pdir}/*.parquet'").arrow()
    except Exception as e:
        results[name] = f"NO SPARK OUTPUT: {e}"; continue
    try:
        duck_tbl = con.sql(sql).arrow()
    except Exception as e:
        results[name] = f"ORACLE SQL ERROR: {e}"; continue

    spark_df, duck_df = spark_tbl.to_pandas(), duck_tbl.to_pandas()
    s = spark_df[sorted(spark_df.columns)]
    d = duck_df[sorted(duck_df.columns)]
    if list(s.columns) != list(d.columns):
        results[name] = f"SCHEMA MISMATCH spark={list(s.columns)} duck={list(d.columns)}"
        continue
    # Dtype gate: the driver hashes typed values, so an arrow-type drift
    # (e.g. DuckDB sum(BIGINT) -> HUGEINT/decimal128 vs Spark BIGINT)
    # is a real failure even when pandas value equality passes.
    stypes = {f.name: norm_type(f.type) for f in spark_tbl.schema}
    dtypes = {f.name: norm_type(f.type) for f in duck_tbl.schema}
    drift = [f"{c}: spark={stypes[c]} duck={dtypes[c]}"
             for c in s.columns if stypes[c] != dtypes[c]]
    if drift:
        results[name] = "DTYPE MISMATCH " + "; ".join(drift)
        continue
    if len(s) != len(d):
        results[name] = f"ROWCOUNT MISMATCH spark={len(s)} duck={len(d)}"
        continue
    # Mirror the driver harness: it pandas-sorts over ALL columns, and an
    # array (ndarray/list) cell makes that sort raise "unhashable type" —
    # flag it here so the failure shows locally, not only in the driver.
    arrayish = [c for c in s.columns
                if any(hasattr(v, "__len__") and not isinstance(v, str)
                       for v in s[c].head(3))]
    if arrayish:
        results[name] = ("ARRAY COLUMN (driver-harness unsortable): "
                         + ", ".join(arrayish)
                         + " — project scalar elements or array_to_string")
        continue
    s = s.sort_values(by=list(s.columns), ignore_index=True)
    d = d.sort_values(by=list(d.columns), ignore_index=True)
    bad = None
    for c in s.columns:
        for i, (a, b) in enumerate(zip(s[c], d[c])):
            fa = isinstance(a, float)
            if fa and isinstance(b, float) and math.isnan(a) and math.isnan(b):
                continue
            eq = (a == b) if not fa else (float(a) == float(b))
            try:
                if hasattr(a, "__len__") and not isinstance(a, str):
                    eq = list(a) == list(b)
            except Exception:
                pass
            if not eq:
                bad = f"VALUE MISMATCH col={c} row={i}: spark={a!r} duck={b!r}"
                break
        if bad:
            break
    results[name] = bad or "OK"

ok = sum(1 for v in results.values() if v == "OK")
for name, v in sorted(results.items()):
    print(("PASS " if v == "OK" else "FAIL ") + name + ("" if v == "OK" else f"  {v}"))
ran = ("Verify skipped; this shell's SPARK_GRAFT_CPUS gives" if "--skip-verify" in flags
       else "Verify ran at")
print(f"\n{ok}/{len(results)} queries match ({ran} local[{CPUS}], checkout {CHECKOUT})")
sys.exit(0 if ok == len(results) else 2)
