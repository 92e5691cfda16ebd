"""Correctness check of every result a run wrote during its set-ups.

Each query's parquet output is compared with its reference:
 - the engine's DuckDB oracle SQL, under the rule of the repository's
   oracle comparison script: columns sorted by name, rows compared as sorted
   multisets, values exactly equal;
 - for the sensor covariance, the independent reference below, with a
   relative tolerance (its floating sums run in another order).
A query with neither is reported as unverified, which fails the run.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

BIN_MS = 120000
REL_TOL = 1e-9


def _canonical(df):
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object and df[c].map(
                lambda v: hasattr(v, "__len__") and not isinstance(v, (str, bytes))).any():
            df[c] = df[c].map(lambda v: tuple(v) if hasattr(v, "__iter__")
                              and not isinstance(v, (str, bytes)) else v)
    return df


def compare(expected, actual):
    """None when the frames hold the same rows, else what differs."""
    o, s = _canonical(expected), _canonical(actual)
    if list(o.columns) != list(s.columns):
        return f"columns: expected {list(o.columns)}, got {list(s.columns)}"
    if len(o) != len(s):
        return f"rows: expected {len(o)}, got {len(s)}"
    o = o.sort_values(by=list(o.columns), ignore_index=True)
    s = s.sort_values(by=list(s.columns), ignore_index=True)
    try:
        pd.testing.assert_frame_equal(o, s, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values: " + str(e).splitlines()[-1][:160]
    return None


def compare_approx(expected, actual, keys, value, rel=REL_TOL):
    """None when both frames hold the same keys with values equal within
    a relative tolerance, else what differs."""
    if sorted(expected.columns) != sorted(actual.columns):
        return f"columns: expected {sorted(expected.columns)}, got {sorted(actual.columns)}"
    if len(expected) != len(actual):
        return f"rows: expected {len(expected)}, got {len(actual)}"
    m = expected.merge(actual, on=keys, how="outer", suffixes=("_e", "_a"), indicator=True)
    if (m["_merge"] != "both").any():
        return f"keys differ: {len(m[m['_merge'] != 'both'])} rows"
    e, a = m[f"{value}_e"].to_numpy(float), m[f"{value}_a"].to_numpy(float)
    bad = ~np.isclose(a, e, rtol=rel, atol=rel)
    if bad.any():
        i = int(np.argmax(bad))
        return f"values: {m[keys].iloc[i].tolist()} expected {e[i]!r}, got {a[i]!r}"
    return None


def _parse_sensor(path):
    """The sensor line parser's drop rules, as triples (t ms, c, v)."""
    rows = []
    with open(path) as f:
        for line in f:
            p = line.rstrip("\n").split(";")
            if len(p) < 5 or (p[2] == "Chemsense ID" and p[3] == "mac_address"):
                continue
            try:
                t = pd.Timestamp(p[0])
                v = float(p[4])
            except ValueError:
                continue
            rows.append((t.value // 10**6, f"{p[2]};{p[3]}", v))
    return pd.DataFrame(rows, columns=["t", "c", "v"])


def _bin_avg(df):
    tm = df["t"] % BIN_MS
    df = df.assign(tp=df["t"] - tm + np.where(tm >= BIN_MS // 2, BIN_MS, 0))
    return df.groupby(["tp", "c"], as_index=False)["v"].mean()


def sensor_reference(data_dir):
    """Covariance of the A−B differences of the two sensor files:
    bin to 120 s, average per (bin, class), X = A − B on shared keys,
    U = X − per-class mean, C(c, c') = Σ U·U' / (N − 1) over shared bins,
    N = number of bins in X."""
    a = _bin_avg(_parse_sensor(os.path.join(data_dir, "sensorA.txt")))
    b = _bin_avg(_parse_sensor(os.path.join(data_dir, "sensorB.txt")))
    x = a.merge(b, on=["tp", "c"], suffixes=("_a", "_b"))
    x = x.assign(v=x["v_a"] - x["v_b"])[["tp", "c", "v"]]
    n = x["tp"].nunique()
    u = x.assign(v=x["v"] - x.groupby("c")["v"].transform("mean"))
    uu = u.merge(u.rename(columns={"c": "cp", "v": "vp"}), on="tp")
    cov = (uu.assign(v=uu["v"] * uu["vp"]).groupby(["c", "cp"], as_index=False)["v"].sum())
    cov["v"] = cov["v"] / (n - 1)
    return cov


def _read(out_dir):
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def verify(rec, data_dir, run_dir):
    """[(query, set-up, status, detail)] with status ok, mismatch,
    missing or unverified, for every query of every set-up."""
    con = duckdb.connect()
    for t in ("lineitem", "part", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    results = []
    for q in rec["queries"]:
        sql = rec["oracles"].get(q)
        if sql is not None:
            expected, check = con.execute(sql).df(), compare
        elif q == "sensor_covariance":
            expected = sensor_reference(data_dir)
            check = lambda e, a: compare_approx(e, a, ["c", "cp"], "v")  # noqa: E731
        else:
            results.append((q, None, "unverified", "no reference"))
            continue
        for k in range(len(rec["setup_s"])):
            actual = _read(os.path.join(run_dir, "out", f"setup{k}", q))
            if actual is None:
                results.append((q, k, "missing", "no output written"))
                continue
            diff = check(expected, actual)
            results.append((q, k, "ok" if diff is None else "mismatch", diff or ""))
    con.close()
    return results
