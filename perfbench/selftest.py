#!/usr/bin/env python3
"""Shows that each output check fails on a deliberately corrupted output.

    python3 perfbench/run.py --workload nab_fleet --seed 1 --seconds 12 --keep
    python3 perfbench/run.py --workload iterative --seed 1 --seconds 12 --keep
    python3 perfbench/selftest.py perfbench/.work/run-nab_fleet-XXXX \\
                                  perfbench/.work/run-iterative-XXXX

Each case copies the kept run's outputs, corrupts one thing, and runs the
check that should catch it. Exits non-zero if a check passes a corrupted
output or fails the intact one.
"""
import glob
import json
import os
import shutil
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import run  # noqa: E402


def edit_parquet(path, fn):
    t = pq.read_table(path).to_pandas()
    pq.write_table(pa.Table.from_pandas(fn(t), preserve_index=False), path)


def edit_metrics(run_dir, fn, model="stl"):
    f = sorted(glob.glob(os.path.join(run_dir, model, "fleet", "metrics", "*.json")))[0]
    rows = [json.loads(line) for line in open(f) if line.strip()]
    fn(rows)
    with open(f, "w") as out:
        out.writelines(json.dumps(r) + "\n" for r in rows)


def fleet_cases(kept):
    out = os.path.join(kept, "out")
    truth = json.load(open(os.path.join(kept, "fleet", "truth.json")))
    sid = sorted(truth)[0]
    test0 = truth[sid]["points"] // 2
    anomaly = next(a for a in truth[sid]["anomalies"] if a["region"] == "Test")
    part = glob.glob(os.path.join(out, "checked", "results-1", "stl", "fleet",
                                  "predictions", "series_id=*" + sid.split("/")[-1],
                                  "*.parquet"))[0]

    def flip_label(t):
        t = t.sort_values("ts").reset_index(drop=True)
        t.loc[0, "is_anomaly"] = 1 - t.loc[0, "is_anomaly"]
        return t

    def unflag(t):
        t = t.sort_values("ts").reset_index(drop=True)
        t.loc[anomaly["start"] - test0:anomaly["end"] - test0, "detected"] = 0
        return t

    def bump(field):
        def f(rows):
            r = next(r for r in rows if r["series_id"] == sid)
            r[field] = r[field] + 1
        return f

    def in_copy(d):
        return part.replace(os.path.join(out, "checked", "results-1"), d)

    # (case, outputs it corrupts, corruption, text the expected problem holds)
    return [
        ("nab_fleet, intact outputs", None, None, None),
        ("tp of one series off by one", "checked",
         lambda d: edit_metrics(d, bump("tp")), "metric tp"),
        ("f1 of one series changed", "checked",
         lambda d: edit_metrics(d, bump("f1")), "metric f1"),
        ("kalman: fn of one series off by one", "checked",
         lambda d: edit_metrics(d, bump("fn"), "kalman"), "kalman: fleet/s00.csv: metric fn"),
        ("one is_anomaly flag flipped", "checked",
         lambda d: edit_parquet(in_copy(d), flip_label), "label windows"),
        ("one prediction row dropped", "checked",
         lambda d: edit_parquet(in_copy(d), lambda t: t.iloc[1:]), "one per Test point"),
        ("a Test anomaly left unflagged", "checked",
         lambda d: edit_parquet(in_copy(d), unflag), "not flagged"),
        ("a timed pass's metrics changed", "timed",
         lambda d: edit_metrics(d, bump("fp")), "timed pass"),
    ], truth


misses = []


def report(case, problems, expect):
    """A corrupted case must raise the expected problem; an intact one none."""
    hit = [p for p in problems if expect and expect in p]
    ok = bool(hit) if expect else not problems
    if not ok:
        misses.append(case)
    print(f"{'ok  ' if ok else 'MISS'} {case}: "
          f"{(hit or problems or ['passes'])[0]}")


def main():
    fleet_kept, query_kept = sys.argv[1], sys.argv[2]
    with tempfile.TemporaryDirectory(dir=run.WORK) as tmp:
        cases, truth = fleet_cases(fleet_kept)
        for name, which, corrupt, expect in cases:
            checked = os.path.join(tmp, "checked")
            timed = os.path.join(tmp, "timed")
            for d in (checked, timed):
                shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(os.path.join(fleet_kept, "out", "checked", "results-1"), checked)
            last = sorted(glob.glob(os.path.join(fleet_kept, "out", "timed", "results-*")))[-1]
            shutil.copytree(last, timed)
            if corrupt:
                corrupt(checked if which == "checked" else timed)
            problems = checks.fleet(checked, truth, timed)
            report(name, problems, expect)
        members = [q for q, _ in run.QUERIES]
        oracle = os.path.join(run.WORK, "corpus", "oracle")
        # BM25 scores are floats, compared within 1e-12
        for name, q, fn, expect in [
                ("iterative, intact outputs", None, None, None),
                ("one row dropped", members[0], lambda t: t.iloc[1:], "ROWS"),
                ("one community label changed", "q_communities",
                 lambda t: t.assign(community=t["community"] + (t.index == 0)),
                 "q_communities: VALUES"),
                ("one BM25 score off by 1e-9", "q_bm25",
                 lambda t: t.assign(bm25=t["bm25"] + 1e-9 * (t.index == 0)), "q_bm25: VALUES"),
                ("one RM3 rank changed", "q_rm3",
                 lambda t: t.assign(rank=t["rank"] + (t.index == 0)), "q_rm3: VALUES")]:
            d = os.path.join(tmp, "queries")
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(os.path.join(query_kept, "out", "checked"), d)
            if fn:
                edit_parquet(max(glob.glob(os.path.join(d, q, "*.parquet")),
                                 key=os.path.getsize), fn)
            report(name, checks.queries(members, oracle, d), expect)
    sys.exit(1 if misses else 0)


if __name__ == "__main__":
    main()
