"""Negative self-test: a wrong expected result must make a run fail.

    python3 perfbench/selftest.py            # comparator only, no JVM
    python3 perfbench/selftest.py --run      # plus one full run per kind

The comparator part checks that an output equals its own expected
result and that the deliberately corrupted expected result used by
`run.py --corrupt-expected` does not. With `--run` it runs the
iterative and event_stream workloads with `--corrupt-expected` and
requires `correct: false`, at least one failed operation and exit
code 1.
"""
import json
import os
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import oracle  # noqa: E402


def comparator():
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None], "s": ["a", "b", "c"]})
    assert oracle._same(oracle._norm(df), oracle._norm(df.iloc[::-1]))
    assert not oracle._same(oracle._norm(oracle._corrupt(df)), oracle._norm(df))
    text = pd.DataFrame({"s": ["a"]})
    assert not oracle._same(oracle._norm(oracle._corrupt(text)), oracle._norm(text))
    print("selftest: comparator rejects a corrupted expected result")


def full_run(workload):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                        workload, "--seed", "1", "--seconds", "1", "--trace", "0",
                        "--corrupt-expected"], stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert r.returncode == 1, r.returncode
    assert res["correct"] is False and res["failed"] > 0, res
    print(f"selftest: {workload} with a corrupted expected result reports "
          f"correct=false, {res['failed']}/{res['attempted']} failed, exit 1")


if __name__ == "__main__":
    comparator()
    if "--run" in sys.argv:
        full_run("iterative")
        full_run("event_stream")
