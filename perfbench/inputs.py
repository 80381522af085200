"""Seeded input generators. The engine sees only the files they write.

fleet: a fleet of series in NAB layout (`data/<name>.csv` with a
`timestamp,value` header, `labels/combined_labels.json`), plus
`truth.json`, which only the checks read.

corpus: `documents.parquet` in the schema of the engine's testdata table,
for the `iterative` workload.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# fleet shape
SERIES = 2
POINTS = 672               # 14 days on a 30-minute grid
STEP_MIN = 30
PERIOD = 48                # daily seasonality, Pipelines.Config().period
START = dt.datetime(2014, 1, 1)
ANOMALIES = 4              # per series: two in the Train half, two in Test
KINDS = ("spike", "dip", "shift", "burst")
WIDTH = {"spike": 3, "dip": 3, "shift": 8, "burst": 6}
MAGNITUDE = (8.0, 12.0)    # in units of the noise sigma
NOISE = 1.0


def fleet(out_dir, seed):
    """Writes the fleet for `seed` under `out_dir`; returns the truth."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out_dir, "data"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "labels"), exist_ok=True)
    stamps = [(START + dt.timedelta(minutes=STEP_MIN * i))
              .strftime("%Y-%m-%d %H:%M:%S") for i in range(POINTS)]
    t = np.arange(POINTS)
    labels, truth = {}, {}
    for s in range(SERIES):
        name = f"s{s:02d}.csv"
        level = rng.uniform(20.0, 80.0)
        amp = rng.uniform(5.0, 15.0)
        phase = rng.uniform(0.0, 2 * np.pi)
        weekly = rng.uniform(0.0, 3.0)
        v = (level + amp * np.sin(2 * np.pi * t / PERIOD + phase)
             + weekly * np.sin(2 * np.pi * t / (7 * PERIOD))
             + rng.normal(0.0, NOISE, POINTS))
        # placement rule: the series is cut into ANOMALIES equal slots;
        # each anomaly sits at a seeded position in the middle half of its
        # slot, so anomalies never touch a slot edge, each other, or the
        # Train/Test boundary (at POINTS // 2, a slot edge)
        slot = POINTS // ANOMALIES
        anomalies = []
        for a in range(ANOMALIES):
            kind = KINDS[(s + a) % len(KINDS)]
            w = WIDTH[kind]
            lo = a * slot + slot // 4
            start = int(rng.integers(lo, lo + slot // 2 - w))
            mag = float(rng.uniform(*MAGNITUDE)) * NOISE
            seg = slice(start, start + w)
            if kind == "spike":
                v[seg] += mag
            elif kind == "dip":
                v[seg] -= mag
            elif kind == "shift":
                v[seg] += mag
            else:  # burst: alternating-sign swings
                v[seg] += mag * np.where(np.arange(w) % 2 == 0, 1.0, -1.0)
            center = start + w // 2
            anomalies.append({"kind": kind, "start": start, "end": start + w - 1,
                              "label_index": center, "magnitude": mag,
                              "region": "Train" if center < POINTS // 2
                              else "Test"})
        with open(os.path.join(out_dir, "data", name), "w") as f:
            f.write("timestamp,value\n")
            f.writelines(f"{stamps[i]},{v[i]:.4f}\n" for i in range(POINTS))
        key = "fleet/" + name
        labels[key] = [stamps[a["label_index"]] for a in anomalies]
        truth[key] = {"points": POINTS, "anomalies": anomalies,
                      "timestamps": [stamps[0], stamps[-1]]}
    with open(os.path.join(out_dir, "labels", "combined_labels.json"), "w") as f:
        json.dump(labels, f, indent=1)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


# corpus shape: the testdata `documents` table, at a fifth of its sf0.1
# size (the queries' cost is nearly all per-job, not per-row)
DOCS = 1000
VOCAB = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data dup part column order scan a slow "
         "agg key window table merge vector join").split()
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")
SOURCES = 20
NEAR_DUPS = 0.02           # share of documents copied from an earlier one


def corpus(out_dir, seed=42):
    """Writes `documents.parquet`: doc_id, text (10-100 words of VOCAB),
    lang, source, n_chars."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts = []
    for i in range(DOCS):
        if i > 10 and rng.random() < NEAR_DUPS:
            # near-duplicate: an earlier document with one word replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            n = int(rng.integers(10, 101))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), n)]
        texts.append(" ".join(words))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), DOCS)],
                         pa.string()),
        "source": pa.array([f"src{i % SOURCES}" for i in range(DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
