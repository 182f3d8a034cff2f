#!/usr/bin/env python3
"""Dev-only harness mirroring the driver's correctness gate: run after
`graft.Verify <sfDir> <outDir>` to compare each Spark result parquet against
its DuckDB oracle SQL (columns sorted by name, rows sorted, exact values).

Usage: python3 tools/local_check.py [sfDir] [outDir] [only_prefixes_csv] [--json path]

sfDir tables may be single parquet FILES (the driver's testdata) or
DIRECTORIES of part files (ScaleUp replicas at sf1/sf3) — both load.
`--json path` additionally writes a machine-readable per-query artifact
(the CORRECTNESS_SF1.json shape: rows/schema/hash match per query).
"""
import duckdb, json, os, sys, glob

args = [a for a in sys.argv[1:] if not a.startswith("--")]
json_out = None
if "--json" in sys.argv:
    json_out = sys.argv[sys.argv.index("--json") + 1]
    if json_out in args:
        args.remove(json_out)

sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
out_dir = args[1] if len(args) > 1 else os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "target", "verify_out")
only = [p for p in (args[2].split(",") if len(args) > 2 else []) if p]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    path = f"{sf_dir}/{t}.parquet"
    src = f"{path}/*.parquet" if os.path.isdir(path) else path
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
ok, fail = [], []
report = {}


def record(name, rows, schema, hashm, err=None, n=None):
    report[name] = {"rows_match": rows, "schema_match": schema,
                    "hash_match": hashm}
    if n is not None:
        report[name]["rows"] = n
    if err:
        report[name]["err"] = err


for name in sorted(oracle):
    if only and not any(name.startswith(p) for p in only):
        continue
    sql = oracle[name]
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); fail.append(name)
        record(name, False, False, False, "no spark output"); continue
    try:
        sdf = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
    except Exception as e:
        print(f"FAIL {name}: read spark output: {e}"); fail.append(name)
        record(name, False, False, False, f"read: {e}"); continue
    try:
        odf = con.execute(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle sql error: {e}"); fail.append(name)
        record(name, False, False, False, f"oracle: {e}"); continue
    sdf = sdf.reindex(sorted(sdf.columns), axis=1)
    odf = odf.reindex(sorted(odf.columns), axis=1)
    if list(sdf.columns) != list(odf.columns):
        print(f"FAIL {name}: schema spark={list(sdf.columns)} oracle={list(odf.columns)}")
        fail.append(name); record(name, len(sdf) == len(odf), False, False); continue
    if len(sdf) != len(odf):
        print(f"FAIL {name}: rows spark={len(sdf)} oracle={len(odf)}")
        fail.append(name); record(name, False, True, False); continue

    def norm(df):
        d = df.copy()
        for c in d.columns:
            d[c] = d[c].map(lambda v: repr(v.tolist()) if hasattr(v, "tolist") else repr(v))
        return d.sort_values(list(d.columns), kind="mergesort").reset_index(drop=True)

    ns, no = norm(sdf), norm(odf)
    if ns.equals(no):
        print(f"ok   {name} ({len(sdf)} rows)"); ok.append(name)
        record(name, True, True, True, n=len(sdf))
    else:
        diff = (ns != no)
        bad = diff.any(axis=1)
        print(f"FAIL {name}: value mismatch in {int(bad.sum())}/{len(ns)} rows; first:")
        idx = ns.index[bad][:3]
        for i in idx:
            for c in ns.columns:
                if ns.at[i, c] != no.at[i, c]:
                    print(f"   row{i} {c}: spark={ns.at[i, c]} oracle={no.at[i, c]}")
        fail.append(name); record(name, True, True, False, n=len(sdf))

if json_out:
    with open(json_out, "w") as f:
        json.dump({"sf_dir": sf_dir, "n_ok": len(ok), "n_fail": len(fail),
                   "queries": report}, f, indent=1, sort_keys=True)
print(f"\n{len(ok)} ok, {len(fail)} FAIL" + (f": {fail}" if fail else ""))
sys.exit(1 if fail else 0)
