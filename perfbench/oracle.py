"""Expected results and the comparison of outputs against them.

Batch queries: DuckDB runs the program's own oracle SQL
(`SparkEntry.oracleSql`, dumped by the harness as `oracle_sql.json`)
over the same parquet inputs. Answers are cached under
`.bench_build/oracle`, keyed by the content of the inputs and the SQL,
and compared the way `tools/check.py` does: columns sorted by name, rows
sorted, every value equal.

event_stream: the final incremental view must equal a batch per-user sum
over the landed slices, and the closed hourly windows the stream emitted
must equal a batch hourly count over the same slices, restricted to
windows that end at or before the stream's final watermark. Sums of
doubles are compared with a tolerance, because the stream adds them in
another order.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

from build import BUILD


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    # Rows sort by the exact columns first: a float that differs in its
    # last bits between the two sides (sums added in another order) must
    # not reorder rows that tie on it before the tolerant comparison.
    floats = [c for c in df.columns if pd.api.types.is_float_dtype(df[c])]
    keys = [c for c in df.columns if c not in floats] + floats
    return df.sort_values(by=keys, ignore_index=True)


def _same(want, got, tol=0.0):
    if list(want.columns) != list(got.columns) or len(want) != len(got):
        return False
    for c in want.columns:
        w, g = want[c], got[c]
        if tol and pd.api.types.is_float_dtype(w):
            same = (w.isna() & g.isna()) | ((w - g).abs() <= tol + 1e-9 * w.abs())
        else:
            same = (w.isna() & g.isna()) | (w == g)
        if not bool(same.fillna(False).all()):
            return False
    return True


def _read_dir(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _corrupt(df):
    """A deliberately wrong expected result: one value changed, or one
    row added when there is no value to change."""
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_numeric_dtype(df[c]) and len(df):
            df.loc[0, c] = df[c].iloc[0] + 1
            return df
    return pd.concat([df, df.head(1)], ignore_index=True) if len(df) else \
        pd.DataFrame({c: [None] for c in df.columns})


def _tables(data):
    return sorted(glob.glob(f"{data}/*.parquet"))


def _connect(data):
    con = duckdb.connect()
    for f in _tables(data):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    return con


def _input_key(data):
    h = hashlib.sha256()
    for f in _tables(data):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def check_batch(data, out, corrupt=False):
    """{query: output equals the oracle} for every query that has output
    or oracle SQL; a query without output counts as wrong."""
    with open(f"{out}/oracle_sql.json") as fh:
        sqls = json.load(fh)
    key = _input_key(data)
    con = None
    result = {}
    for i, (name, sql) in enumerate(sorted(sqls.items())):
        cache = os.path.join(BUILD, "oracle", key[:16],
                             hashlib.sha256(sql.encode()).hexdigest()[:16] + ".parquet")
        if os.path.exists(cache):
            want = pd.read_parquet(cache)
        else:
            con = con or _connect(data)
            want = con.execute(sql).fetchdf()
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            want.to_parquet(cache + ".tmp")
            os.replace(cache + ".tmp", cache)
        if corrupt and i == 0:
            want = _corrupt(want)
        got = _read_dir(f"{out}/outputs/{name}")
        result[name] = got is not None and _same(_norm(want), _norm(got))
    return result


def check_stream(slices, out, n_landed, watermark, corrupt=False):
    files = sorted(glob.glob(f"{slices}/slice_*.parquet"))[:n_landed]
    con = duckdb.connect()
    listing = ", ".join(f"'{f}'" for f in files)
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet([{listing}])")
    want_view = con.execute(
        "SELECT user_id, sum(value) AS total FROM ev GROUP BY user_id").fetchdf()
    wm = pd.Timestamp(watermark).tz_convert(None) if watermark else pd.Timestamp.min
    want_hourly = con.execute(
        "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour, event_type, "
        "count(*) AS n_events, round(sum(value), 2) AS sum_value "
        "FROM ev GROUP BY ALL").fetchdf()
    want_hourly = want_hourly[want_hourly["hour"] + pd.Timedelta(hours=1) <= wm]
    if corrupt:
        want_view = _corrupt(want_view)
    got_view = _read_dir(f"{out}/outputs/view")
    got_hourly = _read_dir(f"{out}/outputs/hourly")
    return {
        "view": got_view is not None and _same(_norm(want_view), _norm(got_view), 1e-6),
        "hourly": got_hourly is not None and
        _same(_norm(want_hourly.reset_index(drop=True)), _norm(got_hourly), 0.01),
    }
