#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (CORRECTNESS_r{N}.json).

Round-1 postmortem: the builder shipped claiming 70/70 while the driver
scored 55/70 — every miss was a DECIMAL output column whose *values* were
bit-identical but whose *rendering* differed between the pandas path
(decimal.Decimal('123.4500')) and the DuckDB-result path (float64). This
script replays the same pipeline locally so that kind of formatting-level
mismatch cannot ship invisibly again:

  1. run `graft.Verify <sfDir> <outDir>` (sbt or spark-submit, done by the
     caller — see tools/run_verify.sh);
  2. for each query: load the Spark parquet via pyarrow->pandas, run the
     oracle SQL from oracle_sql.json in DuckDB over the same testdata
     parquet and fetch via .df() (pandas);
  3. sort columns by name, stringify every value, sort rows, md5 — the
     conservative superset of the driver's compare: if renderings differ
     at all, we fail here even if the driver might pass.

Usage: python3 tools/parity_check.py <sfDir> <verifyOutDir> [query ...]
Checks every oracle query, or only the named ones. Exits 1 if any fails.
"""
import sys, os, json, glob, hashlib, datetime
import duckdb
import pandas as pd
import pyarrow.parquet as pq


def sval(v):
    """Stringify one value. DATE columns arrive as datetime.date objects
    from pyarrow but datetime64 from DuckDB's .df(); normalize to the
    timestamp rendering (the driver passes pure-DATE outputs, so this
    asymmetry is mirror noise, unlike the DECIMAL one which is the real
    round-1 failure mode and is deliberately kept)."""
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return str(pd.Timestamp(v))
    return str(v)


def load_tables(con, sf_dir):
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{p}')"
        )


def canon(df):
    """Driver-style canonical form: columns sorted by name, every value
    stringified, rows sorted; returns (hash, nrows, dtypes)."""
    df = df[sorted(df.columns)]
    rows = sorted(
        tuple(sval(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.md5(repr(rows).encode()).hexdigest()
    return h, len(rows), {c: str(t) for c, t in df.dtypes.items()}


def main():
    sf_dir, out_dir, only = sys.argv[1], sys.argv[2], sys.argv[3:]
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures, results = [], {}
    if only:
        for name in only:
            if name not in oracle:
                failures.append(name)
                results[name] = {"err": "no_oracle_sql"}
        oracle = {k: v for k, v in oracle.items() if k in only}
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    load_tables(con, sf_dir)
    for name in sorted(oracle):
        spark_dir = os.path.join(out_dir, name)
        if not os.path.isdir(spark_dir):
            failures.append(name)
            results[name] = {"err": "missing_spark_output"}
            continue
        spark_df = pq.read_table(spark_dir).to_pandas()
        try:
            oracle_df = con.execute(oracle[name]).df()
        except Exception as e:
            failures.append(name)
            results[name] = {"err": f"oracle_sql_error: {e}"}
            continue
        sh, sn, st = canon(spark_df)
        oh, on, ot = canon(oracle_df)
        rec = {
            "rows_match": sn == on,
            "schema_match": sorted(spark_df.columns.str.lower())
            == sorted(oracle_df.columns.str.lower()),
            "hash_match": sh == oh,
            "spark_rows": sn,
            "oracle_rows": on,
        }
        if not rec["hash_match"]:
            rec["spark_dtypes"], rec["oracle_dtypes"] = st, ot
            # first differing row pair as a debugging hint
            srows = sorted(
                tuple(sval(v) for v in r)
                for r in spark_df[sorted(spark_df.columns)].itertuples(
                    index=False, name=None
                )
            )
            orows = sorted(
                tuple(sval(v) for v in r)
                for r in oracle_df[sorted(oracle_df.columns)].itertuples(
                    index=False, name=None
                )
            )
            import itertools
            for a, b in itertools.zip_longest(srows, orows):
                if a != b:  # zip_longest: a length mismatch still yields
                    rec["first_diff"] = {"spark": a, "oracle": b}  # a hint
                    break
            failures.append(name)
        results[name] = rec
    print(json.dumps(results, indent=1))
    print(
        f"\nPARITY: {len(results) - len(failures)}/{len(results)} pass"
        + (f"; FAIL: {', '.join(failures)}" if failures else ""),
        file=sys.stderr,
    )
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
