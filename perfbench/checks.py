"""Output checks. Each one is computed here, apart from the engine, from the
files a run wrote, after the run's timed passes have ended. A check returns
a list of problems; an empty list means the outputs are correct."""
import glob
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as ds

# the engine's own oracle comparator, tools/check_oracle.py
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

# the detector settings of Pipelines.Config() that the recomputation mirrors
LABEL_WINDOW_ROWS = 3
TRAIN_FRAC = 0.5
GAP = 3
EPS = 1e-9
# the models nab_fleet runs, and those that must flag every injected
# Test-region anomaly at least this many noise sigmas tall (the generator
# injects 8 to 12)
MODELS = ("stl", "kalman")
FLAGS_EVERY_ANOMALY = ("stl",)
MIN_FLAGGED_MAGNITUDE = 8.0


def events(flags, gap=GAP):
    """evaluate.py's eventization: runs of 1s over the 1-based row ordinal,
    a run merged into the previous event iff start - prev_end <= gap + 1."""
    out = []
    for i, f in enumerate(flags, 1):
        if f != 1:
            continue
        if out and i - out[-1][1] <= gap + 1:
            out[-1][1] = i
        else:
            out.append([i, i])
    return out


def event_metrics(pred, truth):
    """Event-level confusion; events match on any overlap."""
    def hits(a, b):
        return sum(1 for s, e in a if any(s <= te and e >= ts for ts, te in b))
    tp, tp_true = hits(pred, truth), hits(truth, pred)
    p = tp / (len(pred) + EPS)
    r = tp_true / (len(truth) + EPS)
    return {"tp": tp, "fp": len(pred) - tp, "fn": len(truth) - tp_true,
            "precision": p, "recall": r, "f1": 2 * p * r / (p + r + EPS)}


def read_metrics(run_dir):
    rows = []
    for f in sorted(glob.glob(os.path.join(run_dir, "metrics", "*.json"))):
        rows += [json.loads(line) for line in open(f) if line.strip()]
    return rows


def fleet(results, truth, timed_results):
    """Checks each model's run the engine persisted under `results`."""
    problems = []
    for model in MODELS:
        problems += [f"{model}: {p}" for p in fleet_run(
            os.path.join(results, model, "fleet"), truth,
            flags_every_anomaly=model in FLAGS_EVERY_ANOMALY)]
    # a timed pass computes the same metrics as the checked warm-up pass
    if timed_results:
        key = lambda m: m["series_id"]  # noqa: E731
        for model in MODELS:
            again = read_metrics(os.path.join(timed_results, model, "fleet"))
            first = read_metrics(os.path.join(results, model, "fleet"))
            if sorted(again, key=key) != sorted(first, key=key):
                problems.append(f"{model}: a timed pass wrote other metrics than "
                                f"the warm-up pass")
    return problems


def fleet_run(run, truth, flags_every_anomaly):
    problems = []
    pred = ds.dataset(os.path.join(run, "predictions"), format="parquet",
                      partitioning="hive").to_table(
        columns=["series_id", "ts", "is_anomaly", "detected"]).to_pandas()
    pred["series_id"] = pred["series_id"].astype(str)
    metrics = {m["series_id"]: m for m in read_metrics(run)}
    if sorted(metrics) != sorted(truth):
        problems.append(f"metrics rows for {sorted(metrics)}, expected {sorted(truth)}")
    for sid, t in sorted(truth.items()):
        n = t["points"]
        test0 = int(np.floor(n * TRAIN_FRAC))
        rows = pred[pred["series_id"] == sid].sort_values("ts")
        # one prediction row per Test point, on the input's grid
        stamps = pd.date_range(t["timestamps"][0], t["timestamps"][1], periods=n)
        want_ts = stamps[test0:].to_numpy()
        got_ts = pd.to_datetime(rows["ts"]).dt.tz_localize(None).to_numpy()
        if len(rows) != n - test0 or not np.array_equal(
                got_ts.astype("datetime64[us]"), want_ts.astype("datetime64[us]")):
            problems.append(f"{sid}: {len(rows)} prediction rows, expected one per "
                            f"Test point ({n - test0})")
            continue
        # is_anomaly is the generator's label windows (+-LABEL_WINDOW_ROWS rows)
        window = np.zeros(n, dtype=int)
        for a in t["anomalies"]:
            c = a["label_index"]
            window[max(c - LABEL_WINDOW_ROWS, 0):c + LABEL_WINDOW_ROWS + 1] = 1
        lab = rows["is_anomaly"].to_numpy().astype(int)
        if not np.array_equal(lab, window[test0:]):
            problems.append(f"{sid}: is_anomaly differs from the label windows on "
                            f"{int((lab != window[test0:]).sum())} rows")
        det = rows["detected"].to_numpy().astype(int)
        # event metrics recomputed from the persisted flags
        want = event_metrics(events(det), events(lab))
        got = metrics.get(sid)
        if got is None:
            continue
        for k, v in want.items():
            if k in ("tp", "fp", "fn"):
                bad = int(got[k]) != v
            else:
                bad = abs(float(got[k]) - v) > 1e-9
            if bad:
                problems.append(f"{sid}: metric {k} = {got[k]}, recomputed {v}")
        if not flags_every_anomaly:
            continue
        for a in t["anomalies"]:
            if a["region"] != "Test" or a["magnitude"] < MIN_FLAGGED_MAGNITUDE:
                continue
            lo, hi = a["start"] - test0, a["end"] - test0
            if not det[lo:hi + 1].any():
                problems.append(f"{sid}: {a['kind']} of {a['magnitude']:.1f} sigma at "
                                f"row {a['start']} not flagged")
    return problems


def oracle_results(data_dir, oracle_sql, out_dir, tmp_dir):
    """Runs each oracle statement in DuckDB on the same parquet files and
    keeps its result as parquet."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{data_dir}/documents.parquet'")
    os.makedirs(out_dir, exist_ok=True)
    for name, sql in oracle_sql.items():
        con.execute(sql).df().to_parquet(os.path.join(out_dir, f"{name}.parquet"))


def queries(members, oracle_dir, out_dir):
    """Compares each query's output with its DuckDB oracle result with
    tools/check_oracle.py's `compare`."""
    from check_oracle import compare
    problems = []
    for q in members:
        exp = pd.read_parquet(os.path.join(oracle_dir, f"{q}.parquet"))
        files = glob.glob(os.path.join(out_dir, q, "*.parquet"))
        if not files:
            problems.append(f"{q}: no output")
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        r = compare(exp, got)
        if r != "OK":
            problems.append(f"{q}: {r}")
    return problems
