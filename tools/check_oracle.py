"""Local stand-in for the driver's t2 correctness gate: run every
queries() entry on Spark AND its oracle_sql() twin on DuckDB at a given
sf dir, compare row count, schema (column names), and order-insensitive
values (exact, plus near-miss diagnostics on mismatch).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"schema spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    # The driver's value-hash is dtype-sensitive (r1: vec_dim_validation had
    # exactly-equal values but hash_match=false on DuckDB HUGEINT vs Spark
    # BIGINT), so a pandas-dtype mismatch is a failure here even though the
    # coerced value compare below would pass.
    for c in sc:
        st, dt = spark_pdf[c].dtype, duck_pdf[c].dtype
        if st != dt:
            problems.append(f"col {c}: dtype spark={st} duck={dt}")
    s, d = _canon(spark_pdf), _canon(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            sv = pd.to_numeric(sv, errors="coerce").astype(float)
            dv = pd.to_numeric(dv, errors="coerce").astype(float)
            both_nan = sv.isna() & dv.isna()
            eq = (sv == dv) | both_nan
            if not eq.all():
                bad = (~eq).sum()
                diffs = (sv - dv).abs()
                problems.append(
                    f"col {c}: {bad} value mismatches, max|Δ|={diffs.max():.3e} "
                    f"(first: spark={sv[~eq].iloc[0]!r} duck={dv[~eq].iloc[0]!r})"
                )
        else:
            eq = (sv == dv) | (sv.isna() & dv.isna())
            if not eq.all():
                i = (~eq).idxmax()
                problems.append(
                    f"col {c}: {(~eq).sum()} mismatches (first @{i}: "
                    f"spark={sv[i]!r} duck={dv[i]!r})"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    # A plain session, deliberately not build_session: this tool stands
    # in locally for the oracle gate, which runs on a plain session, and
    # the compare above is str-based. With Arrow on, toPandas turns an
    # array value that prints as [1.0, 2.0] into an ndarray that prints
    # as [1. 2.], and a struct Row into a dict — both would read as
    # mismatches the gate never sees.
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("check_oracle")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    import bench

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            # composed pipelines persist and checkpoint intermediates;
            # this session is dedicated to the run, so the global sweep
            # is safe
            bench.release(spark)
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(spark_pdf)} rows)")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = compare(spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(spark_pdf)} rows)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
