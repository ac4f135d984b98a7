#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate (NOT part of the
library build; dev tooling only).

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

For every key in oracle_sql.json, reads <verifyOutDir>/<name>/ parquet
(written by graft.Verify), runs the paired SQL in DuckDB over the same
parquet tables, and diff-compares; an oracle key with no output is a
FAIL. Compare rules: columns sorted by name, rows sorted,
values compared exactly (floats via repr) — the harshest plausible
interpretation of the driver's hash compare.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            if t == "events":
                # scaled copies (tools/make_sfx.py) store ts as int64
                # nanos; rebuild the timestamp view DuckDB oracles expect
                # (same µs truncation the Spark loader applies).
                ty = con.execute("DESCRIBE events").fetchall()
                if dict((r[0], r[1]) for r in ty).get("ts") == "BIGINT":
                    con.execute("DROP VIEW events")
                    con.execute(
                        "CREATE VIEW events AS SELECT event_id, "
                        "make_timestamp(ts // 1000) AS ts, user_id, "
                        f"event_type, value, props FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_noracle = 0
    # every oracle key is judged, written or not: a key whose query threw
    # in Verify has no output dir and must count as a FAIL, not vanish
    outputs = {d.rstrip("/").split("/")[-1] for d in glob.glob(f"{out_dir}/*/")}
    for name in sorted(outputs | set(oracles)):
        if name not in outputs:
            n_fail += 1
            print(f"  [FAIL] {name}: missing output")
            continue
        got = pd.concat([pd.read_parquet(f) for f in
                         sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))],
                        ignore_index=True)
        if name not in oracles:
            n_noracle += 1
            print(f"  [rows-only] {name}: {len(got)} rows")
            continue
        want = con.execute(oracles[name]).fetchdf()
        g, w = canon(got), canon(want)
        ok_schema = list(g.columns) == list(w.columns)
        ok_shape = g.shape == w.shape
        # Dtype-family strictness (r9 lesson): DuckDB SUM(BIGINT) widens
        # to HUGEINT, which fetchdf() float-serializes — the driver's
        # value-hash then sees 3.0 vs Spark's 3 and fails even though a
        # check_dtype=False compare passes. An int-family column on one
        # side and a float-family column on the other is therefore a
        # FAIL here, exactly as it is in the driver.
        ok_dtype = True
        if ok_schema:
            fam = lambda k: "i" if k in "iu" else ("f" if k == "f" else k)
            for c in g.columns:
                gf, wf = fam(g[c].dtype.kind), fam(w[c].dtype.kind)
                # all-NULL object columns from fetchdf are unjudgeable;
                # anything else must agree on int-vs-float family.
                if gf != wf and "O" not in (gf, wf):
                    ok_dtype = False
                    print(f"  DTYPE {name}.{c}: spark={g[c].dtype} "
                          f"duck={w[c].dtype} (int/float family mismatch)")
        ok_vals = False
        if ok_schema and ok_shape:
            try:
                pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                              check_exact=True)
                ok_vals = True
            except AssertionError as e:
                print(f"  DIFF {name}: {str(e)[:500]}")
        if ok_schema and ok_shape and ok_vals and ok_dtype:
            n_pass += 1
            print(f"  [PASS] {name} ({len(g)} rows)")
        else:
            n_fail += 1
            print(f"  [FAIL] {name}: schema_ok={ok_schema} "
                  f"spark={g.shape}/{list(g.columns)} "
                  f"duck={w.shape}/{list(w.columns)}")
            if not ok_schema:
                print(f"    spark dtypes: {dict(g.dtypes.astype(str))}")
                print(f"    duck  dtypes: {dict(w.dtypes.astype(str))}")
    print(f"PASS={n_pass} FAIL={n_fail} ROWS_ONLY={n_noracle}")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
