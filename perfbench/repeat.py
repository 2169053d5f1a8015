"""Runs a workload once per seed and appends each result line to a file.

    python3 perfbench/repeat.py iterative 1 2 3 4 5 --seconds 15 --out runs.jsonl

Each line of the output file is run.py's last stdout line with the
workload and seed added. It then prints, per end-to-end metric, the
median and the spread (interquartile range over median) of the runs,
which `agree.py` compares between two sets.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from agree import spread_table  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("seeds", nargs="+", type=int)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    rows = []
    for seed in a.seeds:
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if not lines:
            print(f"{a.workload} seed {seed}: no result (exit {r.returncode})")
            continue
        row = json.loads(lines[-1])
        row.update(workload=a.workload, seed=seed, exit=r.returncode)
        rows.append(row)
        with open(a.out, "a") as fh:
            fh.write(json.dumps(row) + "\n")
        print(f"{a.workload} seed {seed}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in row["metrics"].items()), flush=True)
    print(spread_table(rows))


if __name__ == "__main__":
    main()
