"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row count, column names, and exact values (order-insensitive).

Usage: python scripts/check_correctness.py [sf_dir] [query_name ...]

Besides the text log, a FULL sweep (no query-name filter) writes
``CORRECTNESS_LOCAL_r{N}_sf{SF}.json`` to the repo root in the driver
gate's per-query schema ({rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}) so local-mirror evidence and driver
evidence unify (round-6 verdict task #3).  N defaults to (highest
committed ``CORRECTNESS_r{N}.json``) + 1 — the round currently being
built — and can be overridden with ``SPARK_GRAFT_ROUND``.  Filtered runs
skip the artifact (a partial sweep must never look like a full one).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count {len(spark_df)} != oracle {len(oracle_df)}")
    s_cols, o_cols = sorted(spark_df.columns), sorted(oracle_df.columns)
    if s_cols != o_cols:
        problems.append(f"columns {s_cols} != oracle {o_cols}")
        return problems
    if problems:
        return problems
    s, o = normalize(spark_df), normalize(oracle_df)
    for c in s.columns:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        if np.issubdtype(sv.dtype, np.floating) or np.issubdtype(ov.dtype, np.floating):
            sv = sv.astype(np.float64)
            ov = ov.astype(np.float64)
            both_nan = np.isnan(sv) & np.isnan(ov)
            exact = (sv == ov) | both_nan
            if not exact.all():
                diff = np.abs(sv - ov)
                bad = int((~exact).sum())
                problems.append(
                    f"col {c}: {bad} value mismatches, max abs diff "
                    f"{np.nanmax(diff[~exact]):.3e}"
                )
        else:
            if not (sv == ov).all():
                bad = int((sv != ov).sum())
                idx = np.nonzero(sv != ov)[0][:3]
                problems.append(
                    f"col {c}: {bad} mismatches, e.g. {[(sv[i], ov[i]) for i in idx]}"
                )
    # dtype drift report (warning-level)
    for c in s.columns:
        if s[c].dtype != o[c].dtype:
            problems.append(f"col {c}: dtype spark={s[c].dtype} oracle={o[c].dtype} (warn)")
    return problems


def _current_round(repo_root: str) -> int:
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))
        if (m := re.match(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(p)))
    ]
    return (max(rounds) + 1) if rounds else 1


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from qdrant_datafusion_spark.session import get_spark

    # no console progress bar: its carriage-return redraws would glue onto
    # the PASS/FAIL lines when stdout and stderr share one file
    spark = get_spark(
        cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb_con(sf_dir)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()

    failures = 0
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        records[name] = rec
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            rec["err"] = f"spark error: {e}"
            failures += 1
            continue
        t_spark = time.time() - t0
        rec["spark_rows"] = len(sdf)
        if name not in oracles:
            print(f"OK?   {name}: rows={len(sdf)} (no oracle, rows-only) [{t_spark:.1f}s]")
            rec["err"] = "rows-only (no oracle)"
            continue
        t0 = time.time()
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            rec["err"] = f"oracle error: {e}"
            failures += 1
            continue
        t_oracle = time.time() - t0
        rec["oracle_rows"] = len(odf)
        rec["rows_match"] = len(sdf) == len(odf)
        rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
        problems = compare(name, sdf, odf)
        hard = [p for p in problems if "(warn)" not in p]
        rec["hash_match"] = not hard
        if hard:
            print(f"FAIL  {name}: rows={len(sdf)} [{t_spark:.1f}s/{t_oracle:.1f}s]")
            for p in problems:
                print(f"      - {p}")
            failures += 1
        else:
            warn = "".join(f" | {p}" for p in problems)
            print(
                f"PASS  {name}: rows={len(sdf)} [{t_spark:.1f}s/{t_oracle:.1f}s]{warn}"
            )
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")

    if not only:  # full sweep only — a partial run must not pose as one
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sf_tag = os.path.basename(os.path.normpath(sf_dir))
        out = os.path.join(
            repo_root,
            f"CORRECTNESS_LOCAL_r{_current_round(repo_root):02d}_{sf_tag}.json",
        )
        with open(out, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "n_queries": len(records),
                 "n_failures": failures, "queries": records},
                f, indent=1,
            )
        print(f"# artifact -> {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
