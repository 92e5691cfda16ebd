"""Seeded input generator for the benchmark.

Writes the four tables the workloads read (lineitem, part, events,
documents) as parquet, with the column names, types and value
distributions of the engine's sf testdata, plus the two sensor line files
of the flagship workload. The same seed always gives byte-identical
inputs; every value is drawn from one numpy generator seeded with it.
"""
import os

import numpy as np
import pandas as pd

# Rows per table. Small on purpose: the engine's per-job overhead, not the
# data, sets the cost of these queries, and a run must fit several passes
# into its measuring time.
SIZES = {"lineitem": 6000, "part": 1000, "events": 5000, "documents": 200}

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
PART_ADJ = "small red blue hot cold old new large".split()
PART_NOUN = "ring widget bolt gear gizmo plate anvil rod".split()
PART_TYPE = "ECONOMY SMALL MEDIUM STANDARD LARGE PROMO".split()
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
# Sensor classes (CLASS;FAMILY of the Array-of-Things line format).
SENSOR_CLASSES = "TSYS01 HTU21D BMP180 TMP112 SHT25 HIH6130 MLX75305 APDS9006".split()
SENSOR_FAMILIES = "temperature humidity pressure intensity".split()


def _lineitem(rng, n):
    norders = n // 4
    ship0 = np.datetime64("1995-01-02")
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, norders, n).astype("int64"),
        "l_partkey": rng.integers(0, SIZES["part"], n).astype("int64"),
        "l_suppkey": rng.integers(0, 100, n).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": (ship0 + rng.integers(0, 2498, n).astype("timedelta64[D]"))
        .astype("datetime64[us]"),
    })


def _part(rng, n):
    k = np.arange(n)
    return pd.DataFrame({
        "p_partkey": k.astype("int64"),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n), rng.choice(PART_NOUN, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPE, n),
        "p_size": rng.integers(1, 51, n).astype("int32"),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1),
    })


def _events(rng, n):
    # 30 days of events, ids ascending with time (the testdata shape)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.uniform(0.01, 490.02, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the testdata's " dup" rows)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def sensor_lines(events, seed):
    """Array-of-Things sensor lines `DATE;node;CLASS;FAMILY;VALUE;unit`
    synthesised from the events table. The seed picks which class/family
    each (event_type, user bucket) reports as and which node (A or B) an
    event lands on. Event time is compressed 30:1 so each 120 s bin holds
    several readings. A few malformed lines exercise the parser's drop rules.
    """
    rng = np.random.default_rng(seed + 7919)
    names = [f"{c};{f}" for c in SENSOR_CLASSES for f in SENSOR_FAMILIES]
    cls = {(t, b): names[int(rng.integers(0, len(names)))]
           for t in EVENT_TYPES for b in range(4)}
    node_b = rng.random(len(events)) < 0.5
    t0 = np.datetime64("2017-02-06T00:00:00", "us")
    base = events["ts"].values.astype("datetime64[us]")
    t = t0 + ((base - base.min()) // 30)
    stamps = pd.to_datetime(t).strftime("%Y-%m-%d %H:%M:%S.%f")
    a, b = [], []
    for i, (ts, et, uid, v) in enumerate(zip(stamps, events["event_type"],
                                             events["user_id"], events["value"])):
        line = f"{ts};coresense:3;{cls[(et, int(uid) % 4)]};{v:.2f};NO_UNIT"
        (b if node_b[i] else a).append(line)
    junk = ["", "2017-02-06 00:00:01.000000;coresense:3",
            "2017-02-06 00:00:02.000000;coresense:3;Chemsense ID;mac_address;5254;NO_UNIT",
            "2017-02-06 00:00:03.000000;coresense:3;TSYS01;temperature;n/a;C",
            "not-a-date;coresense:3;TSYS01;temperature;8.5;C"]
    return a + junk, b + junk


def generate(out_dir, seed):
    """Write every input for `seed` under `out_dir` (idempotent)."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "lineitem": _lineitem(rng, SIZES["lineitem"]),
        "part": _part(rng, SIZES["part"]),
        "events": _events(rng, SIZES["events"]),
        "documents": _documents(rng, SIZES["documents"]),
    }
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    a, b = sensor_lines(tables["events"], seed)
    for name, lines in (("sensorA", a), ("sensorB", b)):
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
    open(done, "w").close()
