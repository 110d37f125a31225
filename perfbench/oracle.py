"""Expected query results from the DuckDB oracles, and the result check.

The comparison rules are those of the repository's ``tools/check.py`` (the
local emulation of the correctness gate), restated here as a function of
two frames so that every pass of every run can be checked against one
cached oracle result per data directory:

- columns are sorted by name and rows by all values;
- column names and row counts must match;
- an int column on one side against a float column on the other fails;
- floats must be equal bit for bit, with the sign of zero and NaN = NaN;
- everything else is compared as its string rendering.
"""
import glob
import hashlib
import os
import pickle

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(spark_df: pd.DataFrame, ora_df: pd.DataFrame):
    """Return None if the normalized frames agree, else the first difference."""
    if list(spark_df.columns) != list(ora_df.columns):
        return f"columns spark={list(spark_df.columns)} oracle={list(ora_df.columns)}"
    if len(spark_df) != len(ora_df):
        return f"rows spark={len(spark_df)} oracle={len(ora_df)}"
    for c in spark_df.columns:
        a, b = spark_df[c].values, ora_df[c].values
        a_float = np.issubdtype(spark_df[c].dtype, np.floating)
        b_float = np.issubdtype(ora_df[c].dtype, np.floating)
        a_int = np.issubdtype(spark_df[c].dtype, np.integer)
        b_int = np.issubdtype(ora_df[c].dtype, np.integer)
        if (a_float and b_int) or (a_int and b_float):
            return (f"col {c} dtype spark={spark_df[c].dtype} "
                    f"oracle={ora_df[c].dtype} (int-vs-float render mismatch)")
        if a_float or b_float:
            af = a.astype(float)
            bf = b.astype(float)
            bad = ~(((af == bf) & (np.signbit(af) == np.signbit(bf)))
                    | (np.isnan(af) & np.isnan(bf)))
        else:
            bad = pd.Series(a).astype(str).values != pd.Series(b).astype(str).values
        if bad.any():
            i = int(np.argmax(bad))
            return f"col {c} row {i}: spark={a[i]!r} oracle={b[i]!r} (n_bad={bad.sum()})"
    return None


def read_result(path: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no spark output under {path}")
    return norm(pd.concat([pd.read_parquet(f) for f in files]))


def expected(data_dir: str, sql: dict, cache_dir: str) -> dict:
    """Normalized oracle result per query, computed once per data directory.

    ``sql`` maps query name to oracle SQL. Results are pickled under
    ``cache_dir``, keyed by query and SQL text; an oracle that fails is
    cached as its error text.
    """
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name, text in sql.items():
        digest = hashlib.sha1(text.encode()).hexdigest()[:12]
        path = os.path.join(cache_dir, f"{name}-{digest}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
            try:
                value = norm(con.execute(text).df())
            except Exception as e:  # recorded, reported as a failed check
                value = f"oracle failed: {e}"
            with open(path + ".tmp", "wb") as f:
                pickle.dump(value, f)
            os.replace(path + ".tmp", path)
        with open(path, "rb") as f:
            out[name] = pickle.load(f)
    if con is not None:
        con.close()
    return out


def check(result_dir: str, oracle) -> str:
    """None if the Spark result under ``result_dir`` matches ``oracle``."""
    if isinstance(oracle, str):
        return oracle
    try:
        return compare(read_result(result_dir), oracle)
    except Exception as e:
        return f"{type(e).__name__}: {e}"
