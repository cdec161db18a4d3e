#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir> [--subset]
       python3 tools/oracle_check.py <sfDir> <verifyOutDir> --against <old oracle_sql.json>

For each query dir under verifyOutDir: read the Spark parquet result,
run the matching oracle SQL in DuckDB (tables = parquet files in sfDir),
sort columns by name, sort rows, and compare values cell-by-cell.

--against compares oracles with oracles, no Spark result needed: for
every query whose SQL in verifyOutDir/oracle_sql.json differs from its
SQL in the old json (e.g. a parent commit's Verify dump), it runs both
strings in DuckDB and compares their rows the same way.

In both modes an oracle DuckDB cannot run is a `[FAIL-error]` line and
one failure; the queries after it still get their verdicts.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

args = sys.argv[1:]
against = None
if "--against" in args:
    i = args.index("--against")
    against = args[i + 1]
    del args[i:i + 2]
sf_dir, out_dir = args[0], args[1]
con = duckdb.connect()
for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    # ScaleUp replicas are Spark-written DIRECTORIES named table.parquet/
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")

with open(os.path.join(out_dir, "oracle_sql.json")) as f:
    oracles = json.load(f)

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize timestamp-ish columns to naive UTC strings
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def kind(dt):
    k = dt.kind  # 'i' int, 'u' uint, 'f' float, 'O' object, 'b', 'M'
    return "i" if k == "u" else k

def same(name, a, b, la="spark", lb="duck"):
    """Prints the verdict for normalized frames a (la) and b (lb); True on a match."""
    if list(a.columns) != list(b.columns):
        print(f"[FAIL-cols] {name}: {la}={list(a.columns)} {lb}={list(b.columns)}")
        return False
    if len(a) != len(b):
        print(f"[FAIL-rows] {name}: {la}={len(a)} {lb}={len(b)}")
        return False
    # Driver-strength dtype gate: the driver hashes VALUES, so an
    # integer column on one engine vs a float column on the other
    # ("5" vs "5.0") is a hash mismatch even when cell values agree.
    # This is exactly the DuckDB HUGEINT class (sum of integers widens
    # to HUGEINT -> pandas float64) that killed sketch_ams_f2 in r06
    # while passing the old check_dtype=False compare. int32 vs int64
    # is still fine (same printed values), so compare dtype KIND with
    # the int family collapsed.
    kind_bad = [
        c for c in a.columns
        if kind(a[c].dtype) != kind(b[c].dtype)
        and {kind(a[c].dtype), kind(b[c].dtype)} <= {"i", "f"}]
    if kind_bad:
        det = {c: f"{la}={a[c].dtype} {lb}={b[c].dtype}" for c in kind_bad}
        print(f"[FAIL-dtype] {name}: int-vs-float divergence {det}")
        return False
    soft = [
        c for c in a.columns if kind(a[c].dtype) != kind(b[c].dtype)]
    if soft:
        det = {c: f"{la}={a[c].dtype} {lb}={b[c].dtype}" for c in soft}
        print(f"[warn-dtype] {name}: kind mismatch (non-fatal) {det}")
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        print(f"[OK] {name}: {len(a)} rows")
        return True
    except AssertionError as e:
        print(f"[FAIL-vals] {name}: {str(e).splitlines()[-1] if str(e) else e}")
        return False

if against:
    with open(against) as f:
        old = json.load(f)
    fails = 0
    for name in sorted(set(old) - set(oracles)):
        print(f"[removed] {name}")
    for name in sorted(set(oracles) - set(old)):
        print(f"[added] {name}")
    changed = sorted(n for n in set(old) & set(oracles) if old[n] != oracles[n])
    for name in changed:
        try:
            a, b = norm(con.sql(old[name]).df()), norm(con.sql(oracles[name]).df())
        except duckdb.Error as e:
            print(f"[FAIL-error] {name}: {str(e).splitlines()[0]}")
            fails += 1
            continue
        if not same(name, a, b, "old", "new"):
            fails += 1
    print(f"{len(changed)} changed oracle strings, {fails} not matching")
    sys.exit(1 if fails else 0)

fails = 0
# A query that ERRORS inside Verify writes no result dir at all — that
# must be a loud failure here, not a silent skip (stream_dedup_incremental
# r7: the error line scrolled past while the compare stayed green).
present = {n for n in os.listdir(out_dir)
           if os.path.isdir(os.path.join(out_dir, n))}
# --subset: the Verify dump was run for an explicit query subset
# (local iteration), so absent dirs are expected — skip the check.
missing = [] if "--subset" in sys.argv[3:] else sorted(set(oracles) - present)
for name in missing:
    print(f"[FAIL-missing] {name}: oracle registered but no Verify result "
          f"(query errored during the dump?)")
    fails += 1
for name in sorted(os.listdir(out_dir)):
    d = os.path.join(out_dir, name)
    if not os.path.isdir(d):
        continue
    spark_df = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(os.path.join(d, "*.parquet"))],
        ignore_index=True) if glob.glob(os.path.join(d, "*.parquet")) else pd.DataFrame()
    if name not in oracles:
        print(f"[rows-only] {name}: {len(spark_df)} rows")
        continue
    try:
        duck_df = con.sql(oracles[name]).df()
    except duckdb.Error as e:
        print(f"[FAIL-error] {name}: {str(e).splitlines()[0]}")
        fails += 1
        continue
    if not same(name, norm(spark_df), norm(duck_df)):
        fails += 1
sys.exit(1 if fails else 0)
