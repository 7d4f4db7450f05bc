"""Differential check of the engine's outputs against the DuckDB mirrors
registered in `graft.SparkEntry.oracleSql`, on the same generated inputs.

The comparison is the strict one the repository's own checker uses:
column names, row count, dtype kind per column, and bit-equal values on
rows sorted by every column.
"""
import glob
import os
import re

import duckdb
import numpy as np


def connect(data_dir, scratch):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{scratch}'")
    for path in sorted(glob.glob(f"{data_dir}/*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    return con


def read_output(con, out_dir):
    """A Spark-written parquet directory; a partitioned sink reads its
    partition column back from the directory names."""
    if glob.glob(f"{out_dir}/*.parquet"):
        return con.execute(f"SELECT * FROM '{out_dir}/*.parquet'").fetchdf()
    return con.execute(
        f"SELECT * FROM read_parquet('{out_dir}/*/*.parquet', "
        f"hive_partitioning = true)").fetchdf()


def compare(got, want):
    """Problems found comparing frame `got` with oracle frame `want`;
    an empty list means they match."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return [f"columns {gc} vs {wc}"]
    if len(got) != len(want):
        return [f"rows {len(got)} vs {len(want)}"]
    for c in gc:
        for df in (got, want):
            if df[c].dtype == object and any(
                    isinstance(v, (list, np.ndarray)) for v in df[c].dropna()):
                return [f"array-typed column {c}"]
    a = got[gc].sort_values(by=gc, na_position="first").reset_index(drop=True)
    b = want[gc].sort_values(by=gc, na_position="first").reset_index(drop=True)
    problems = []
    for c in gc:
        av, bv = a[c], b[c]
        if av.dtype.kind != bv.dtype.kind:
            problems.append(f"{c}: dtype kind {av.dtype.kind} vs {bv.dtype.kind}")
        elif av.dtype.kind == "f":
            eq = np.isclose(av.astype(float), bv.astype(float), rtol=0, atol=0,
                            equal_nan=True)
            if not eq.all():
                i = int(np.argmax(~eq))
                problems.append(f"{c}: {int((~eq).sum())} values differ, "
                                f"row {i}: {av[i]!r} vs {bv[i]!r}")
        else:
            neq = (av != bv) & ~(av.isna() & bv.isna())
            if neq.any():
                i = neq.idxmax()
                problems.append(f"{c}: {int(neq.sum())} values differ, "
                                f"row {i}: {av[i]!r} vs {bv[i]!r}")
    return problems


def materialized(sql):
    """`sql` with every CTE that is referenced more than once marked
    MATERIALIZED. DuckDB 1.0 inlines a plain CTE at each reference, so a
    mirror whose iteration rounds reference the previous round twice
    re-evaluates the whole upstream chain 2^rounds times. Materializing
    changes the evaluation, not the result."""
    head = re.compile(r"((?:\bWITH|,)\s*)([A-Za-z_]\w*)(\s+AS\s+\()")

    def mark(m):
        refs = len(re.findall(rf"\b{m.group(2)}\b", sql[m.end():]))
        return m.group(0) if refs < 2 else \
            f"{m.group(1)}{m.group(2)} AS MATERIALIZED ("
    return head.sub(mark, sql)


def check(con, oracle_sql, outputs):
    """Compare every output with its mirror. `outputs` holds dicts with
    `oracle` (registered name), `dir`, and optionally `written` (the row
    count the op reported). Returns {dir: [problems]} for mismatches."""
    expected, failures = {}, {}
    for o in outputs:
        name = o["oracle"]
        try:
            if name not in expected:
                expected[name] = con.execute(
                    materialized(oracle_sql[name])).fetchdf()
            want = expected[name]
            got = read_output(con, o["dir"])
            problems = compare(got, want)
            if o.get("written", -1) not in (-1, len(want)):
                problems.append(f"op reported {o['written']} rows written, "
                                f"oracle has {len(want)}")
        except Exception as e:  # a failed check is a failure, not a skip
            problems = [f"{type(e).__name__}: {e}"]
        if problems:
            failures[o["dir"]] = problems
    return failures
