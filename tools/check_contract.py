"""Local replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle on DuckDB over the same
parquet dir, compare row count / schema / order-insensitive values.
Only the oracles of the queries it runs are built (oracle(name)).

Usage: python tools/check_contract.py [--exact] [--json out.json]
       [sf_dir] [query ...]

--exact replicates the driver's verdict: floats compare bitwise
(NaN==NaN), not at rtol 1e-9 — the mode that catches
silent-precision defects like r4's %.10g GML truncation, which the
tolerance compare waved through.

If the Spark gateway is lost (the JVM died, e.g. killed for memory),
the run stops at the first connection-layer error: that query FAILs,
every later one is NOT RUN in the --json summary, and the exit code is
non-zero.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
from py4j.protocol import Py4JNetworkError

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            try:
                pdf[c] = pdf[c].astype("string")
            except Exception:
                pass
    return pdf.sort_values(list(pdf.columns), na_position="last").reset_index(drop=True)


EXACT = False


def compare(name: str, a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    errs = []
    if len(a) != len(b):
        errs.append(f"rowcount spark={len(a)} oracle={len(b)}")
        return errs
    if sorted(a.columns) != sorted(b.columns):
        errs.append(f"columns spark={sorted(a.columns)} oracle={sorted(b.columns)}")
        return errs
    a, b = normalize(a), normalize(b)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            af = av.astype("float64").to_numpy()
            bf = bv.astype("float64").to_numpy()
            both_nan = np.isnan(af) & np.isnan(bf)
            if EXACT:
                close = (af == bf) | both_nan
            else:
                close = np.isclose(af, bf, rtol=1e-9, atol=1e-12) | both_nan
            if not close.all():
                k = int(np.argmin(close))
                errs.append(f"col {c}: {(~close).sum()} diffs, e.g. row {k}: {af[k]} vs {bf[k]}")
        else:
            eq = (av.astype("string").fillna("<NULL>") == bv.astype("string").fillna("<NULL>"))
            if not eq.all():
                k = int(np.argmin(eq.to_numpy()))
                errs.append(f"col {c}: {(~eq).sum()} diffs, e.g. row {k}: {av.iloc[k]!r} vs {bv.iloc[k]!r}")
    return errs


def main():
    global EXACT
    argv = list(sys.argv[1:])
    if "--exact" in argv:
        EXACT = True
        argv.remove("--exact")
    json_out = None
    if "--json" in argv:
        k = argv.index("--json")
        json_out = argv[k + 1]
        del argv[k : k + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as E
    from gdal_spark.session import get_spark

    # no console progress bar: in a merged log it would leave verdicts
    # mid-line behind a `[Stage N:...]` bar
    spark = get_spark("contract_check", cpus=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    summary = run(spark, con, E.queries(), E.oracle, sf_dir, only)
    failures = sum(1 for v in summary.values() if v["status"] == "FAIL")
    lost = any(v["status"] == "NOT RUN" for v in summary.values())
    # entry smoke
    if not only and not lost:
        n = E.entry(spark).count()
        print(f"ENTRY rows={n}")
    if not lost:
        spark.stop()
    if json_out:
        import json

        ok = sum(1 for v in summary.values() if v["status"] == "OK")
        with open(json_out, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "total": len(summary), "ok": ok,
                 "failures": failures, "queries": summary},
                fh, indent=1, sort_keys=True,
            )
        print(f"wrote {json_out}: {ok}/{len(summary)} OK")
    sys.exit(1 if failures or lost else 0)


def _gateway_lost(ex: BaseException) -> bool:
    """True for a py4j connection-layer error anywhere in ex's chain:
    the JVM behind the session is gone, so every later query would
    fail the same way."""
    while ex is not None:
        if isinstance(ex, (Py4JNetworkError, ConnectionError, EOFError)):
            return True
        ex = ex.__cause__ or ex.__context__
    return False


def run(spark, con, queries: dict, oracle, sf_dir: str, only=()) -> dict:
    """Run each selected query and its oracle; returns {name: verdict}.
    Stops at the first sign of a lost gateway and marks the rest
    NOT RUN."""
    summary = {}
    names = [n for n in queries if not only or n in only]
    for i, name in enumerate(names):
        try:
            sdf = queries[name](spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            summary[name] = {"status": "FAIL", "error": f"spark: {ex}"}
            if _gateway_lost(ex):
                print(f"STOP gateway lost; {len(names) - i - 1} not run")
                for rest in names[i + 1:]:
                    summary[rest] = {"status": "NOT RUN",
                                     "error": f"gateway lost at {name}"}
                break
            continue
        try:
            sql = oracle(name)
        except Exception as ex:
            print(f"FAIL {name}: oracle build error: {ex}")
            summary[name] = {"status": "FAIL", "error": f"oracle build: {ex}"}
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            summary[name] = {"status": "FAIL", "error": f"oracle: {ex}"}
            continue
        errs = compare(name, sdf, odf)
        if errs:
            print(f"FAIL {name}: " + "; ".join(errs))
            summary[name] = {"status": "FAIL", "error": "; ".join(errs)}
        else:
            print(f"OK   {name}: {len(sdf)} rows")
            summary[name] = {"status": "OK", "rows": len(sdf)}
    return summary


if __name__ == "__main__":
    main()
