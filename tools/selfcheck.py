#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir>

Reads each <outDir>/<name> parquet (Spark result), runs <outDir>/oracle_sql.json
in DuckDB over the sfDir tables, sorts columns by name + rows by all columns,
and compares values exactly (with a small report of diffs).

SELFCHECK_SKIP=name1,name2 skips queries whose oracles are pinned to a
different scale's export paths (c01/j01/h01 pin sf0.01 — the driver's
correctness scale) when checking a derived stress set.

An oracle whose unresolved SQL (<outDir>/oracle_templates.json, written by
Verify) names an absolute path fails as ABS_PATH: export paths are spelled
__EXPORT__/__SF__ so each checkout reads its own fixtures. An oracle missing
from that file fails as NO_TEMPLATE."""
import sys, json, glob, os, re
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # canonicalize dtypes for compare
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # StressGen emits directory-style parquet tables; glob those.
        src = f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    skip = set(x for x in os.environ.get("SELFCHECK_SKIP", "").split(",") if x)
    oracle = {k: v for k, v in oracle.items() if k not in skip}
    if skip:
        print(f"(skipping {sorted(skip)}: oracle pinned to another scale)")
    results = {}
    # Scale-pin lint (retro-guard for the r11 __SF__ fix): an oracle whose
    # SQL hard-pins another rung's export directory silently compares this
    # rung's Spark output against STALE fixtures — flag any export path
    # that names a scale directory other than the one under test.
    sf_base = os.path.basename(os.path.normpath(sf_dir))
    for name, sql in sorted(oracle.items()):
        for m in re.findall(r"target/export/([^/'\s]+)/", sql):
            if m != sf_base:
                results[name] = (f"SCALE_PIN: oracle reads target/export/{m}/ "
                                 f"but this run is {sf_base} — use __SF__")
    # Checkout-path lint: an oracle that spells an absolute path reads the
    # fixtures of whichever checkout that path names, not the one Verify
    # ran in. Verify writes the unresolved oracles beside the resolved ones;
    # every path in them must start from a placeholder (__EXPORT__). An
    # oracle with no template (an outDir from an older Verify) fails too.
    templates_path = os.path.join(out_dir, "oracle_templates.json")
    templates = (json.load(open(templates_path))
                 if os.path.exists(templates_path) else {})
    for name in sorted(oracle):
        if name not in templates:
            results[name] = ("NO_TEMPLATE: oracle_templates.json has no entry "
                             "for it — rerun Verify")
            continue
        for p in re.findall(r"'(/[^'/\s]+/[^'\s]+)'", templates[name]):
            results[name] = (f"ABS_PATH: oracle names the absolute path {p} "
                             "— spell the export root __EXPORT__")
    for name, sql in sorted(oracle.items()):
        if name in results:
            continue
        spark_path = os.path.join(out_dir, name)
        if not os.path.isdir(spark_path):
            results[name] = "MISSING_SPARK_OUTPUT"; continue
        files = glob.glob(os.path.join(spark_path, "*.parquet"))
        try:
            sdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        except Exception as e:
            results[name] = f"SPARK_READ_FAIL: {e}"; continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE_FAIL: {str(e)[:200]}"; continue
        s, o = norm(sdf), norm(odf)
        if list(s.columns) != list(o.columns):
            results[name] = f"COLS: spark={list(s.columns)} oracle={list(o.columns)}"; continue
        if len(s) != len(o):
            results[name] = f"ROWS: spark={len(s)} oracle={len(o)}"; continue
        # Dtype-parity guard (the HUGEINT hazard): DuckDB sum(<integer>)
        # returns HUGEINT, which fetchdf surfaces as float64 while Spark
        # emits int64 — values compare equal here but the driver's hasher
        # rejects the representation. Flag any integer-vs-float kind
        # divergence BEFORE the value coercion below can launder it.
        dbad = []
        for c in s.columns:
            sk, ok = s[c].dtype.kind, o[c].dtype.kind
            if (sk in "iu" and ok == "f") or (sk == "f" and ok in "iu"):
                dbad.append(f"{c}: spark={s[c].dtype} oracle={o[c].dtype}"
                            " (HUGEINT oracle? wrap the aggregate in CAST)")
        if dbad:
            results[name] = "DTYPE: " + "; ".join(dbad[:3]); continue
        bad = []
        for c in s.columns:
            a, b = s[c].values, o[c].values
            if np.issubdtype(s[c].dtype, np.floating) or np.issubdtype(o[c].dtype, np.floating):
                af = pd.to_numeric(s[c], errors="coerce").values.astype(float)
                bf = pd.to_numeric(o[c], errors="coerce").values.astype(float)
                an, bn = np.isnan(af), np.isnan(bf)
                eq = (an & bn) | (af == bf)
                # SELFCHECK_ULP=N (default 0 = exact, the driver's gate):
                # opt-in tolerance for DuckDB's decimal->double conversion,
                # which is not correctly rounded once sums exceed double's
                # 16 significant digits (stress-scale q01: DuckDB 1 ulp off
                # the correctly-rounded value Spark produces).
                ulp = int(os.environ.get("SELFCHECK_ULP", "0"))
                if ulp:
                    tol = ulp * np.maximum(np.spacing(np.abs(af)), np.spacing(np.abs(bf)))
                    eq = eq | (np.abs(af - bf) <= tol)
                if not eq.all():
                    i = int(np.argmin(eq))
                    bad.append(f"{c}: {int((~eq).sum())} diffs, e.g. row{i} {af[i]!r}!={bf[i]!r}")
            else:
                sa = s[c].astype(str).values; sb = o[c].astype(str).values
                eq = sa == sb
                if not eq.all():
                    i = int(np.argmin(eq))
                    bad.append(f"{c}: {int((~eq).sum())} diffs, e.g. row{i} {sa[i]!r}!={sb[i]!r}")
        results[name] = "OK ({} rows)".format(len(s)) if not bad else "VALUES: " + "; ".join(bad[:3])
    npass = sum(1 for v in results.values() if v.startswith("OK"))
    for name, v in sorted(results.items()):
        print(("PASS " if v.startswith("OK") else "FAIL ") + name + ": " + v)
    print(f"\n{npass}/{len(results)} queries pass")
    sys.exit(0 if npass == len(results) else 1)

if __name__ == "__main__":
    main()
