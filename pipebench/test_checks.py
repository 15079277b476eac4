#!/usr/bin/env python3
"""The benchmark's own test: its output checks must be able to fail.

    python3 pipebench/test_checks.py

Runs `ingest_small` once for one second of timing (about a minute with the
warm-up), then re-checks that run's outputs against the generator's
expectations with one expected value deliberately wrong at a time. Every
wrong value must drive `success_frac` below 1 and `correct` to false; the
true expectations must give exactly 1.
"""
import copy
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def success_frac(result, exp, work):
    gold_dir = f"{work}/lake/gold/county_analysis/ingest_date={gen.INGEST_DATE}"
    ops, captures_ok = checks.evaluate(result, exp, gold_dir)
    frac = run.end_to_end(result, ops, exp, 0.0)["success_frac"][0]
    return frac, captures_ok and all(o["ok"] for o in ops)


def main():
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                          "ingest_small", "--seed", "7", "--seconds", "1", "--trace", "0"],
                         cwd=run.ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    printed = json.loads(out.stdout.strip().splitlines()[-1])
    work = os.path.join(run.BUILD, "work", "ingest_small")
    result = json.load(open(os.path.join(work, "result.json")))
    exp = json.load(open(os.path.join(work, "expected.json")))

    frac, correct = success_frac(result, exp, work)
    assert frac == 1.0 and correct and printed["correct"], (frac, correct, printed)

    def wrong(path, delta=1):
        bad = copy.deepcopy(exp)
        node = bad
        for key in path[:-1]:
            node = node[key]
        node[path[-1]] += delta
        return bad

    cases = {
        "gold row count": wrong(["gold_rows"]),
        "silver school row count": wrong(["silver_rows", "school"]),
        "gold school_count sum": wrong(["gold_school_count_sum"]),
    }
    for name, bad in cases.items():
        frac, correct = success_frac(result, bad, work)
        assert frac < 1.0 and not correct, f"{name}: a wrong expectation passed ({frac})"
        print(f"ok: wrong {name} -> success_frac {frac:.3f}")

    # a Viewer answer that is not the true minimum must fail its queries
    tampered = copy.deepcopy(result)
    row = tampered["captures"][-1]["viewer"]["most_affordable"]["rows"][0]
    row[2] = row[2] + 1.0
    frac, correct = success_frac(tampered, exp, work)
    assert frac < 1.0 and not correct, f"a wrong Viewer answer passed ({frac})"
    print(f"ok: wrong most_affordable answer -> success_frac {frac:.3f}")
    print("PASS")


if __name__ == "__main__":
    main()
