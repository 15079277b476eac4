#!/usr/bin/env python3
"""Benchmark of the medallion pipeline, end to end and layer by layer.

    python3 pipebench/run.py --workload ingest_small --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program and the benchmark
(once per source state; see `build`), generates the seeded bronze lake,
runs the workload in a fresh JVM, checks every op's output, and prints one
JSON line last: `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` they are
the per-layer ones. A context line (host, Spark and JVM settings, job floor,
GC totals) is printed just before it. See README.md in this directory.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# class-data archive of the classes a run loads (JVM start and the first
# round spent ~10 of ~40 s loading classes from ~290 jars without it)
ARCHIVE = os.path.join(BUILD, "classes.jsa")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

# Timed rounds per run: --seconds over a warm round's time on a 4-CPU host
# (about 5 s at ingest_small, 8 s at ingest_large). The count is fixed per
# run, not "until the time is up", so that every run's medians cover the
# same rounds: a round-count that flips with host speed biased the medians
# of otherwise equal runs.
ROUND_S = {"ingest_small": 5.0, "ingest_large": 8.0}
HEAP = "3g"
RUN_LIMIT_S = 170


def die(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for pattern in ["build.sbt", "project/*.sbt", "project/*.properties", "project/*.scala",
                    "src/main/**/*", "pipebench/build.sbt", "pipebench/project/*.properties",
                    "pipebench/src/**/*"]:
        for f in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            if os.path.isfile(f):
                h.update(f.encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile and package the program (through its own build.sbt, as a
    source dependency of pipebench/build.sbt) and the benchmark, then record
    the classes one short run loads in a class-data archive that every run
    maps at start. Return the java classpath. Skipped when the sources are
    unchanged since the last build here."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no program sources (build.sbt, src/main/scala/graft) at the checkout root")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if (os.path.exists(cp_file) and os.path.exists(stamp_file) and os.path.exists(ARCHIVE)
            and open(stamp_file).read() == stamp):
        classpath = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in classpath.split(os.pathsep)):
            return classpath
    for f in (stamp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # jars, not class directories: a class-data archive takes only jars
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             f"-J-Djava.io.tmpdir={tmp}", "compile",
                             "export Runtime/fullClasspathAsJars"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=500).returncode
    lines = open(log).read().splitlines()
    # `export` prints the classpath as a bare line of absolute paths
    printed = [line for line in lines if line.startswith(os.sep)]
    if rc != 0 or not printed:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (exit {rc}); log in {log}")
    classpath = printed[-1].strip()

    # one round on a small lake, its loaded classes dumped at exit
    work = os.path.join(BUILD, "work", "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "expected.json"), "w") as f:
        json.dump(gen.generate("ingest_small", 0, os.path.join(work, "lake")), f)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        rc = subprocess.run(java_cmd(classpath, work, 0, 0,
                                     f"-XX:ArchiveClassesAtExit={ARCHIVE}"),
                            cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=200).returncode
    if rc != 0 or not os.path.exists(ARCHIVE):
        die(f"class-data archive run failed (exit {rc}); log in {work}/jvm.log")
    shutil.rmtree(work, ignore_errors=True)

    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def java_cmd(classpath, work, rounds, trace, archive_flag=f"-XX:SharedArchiveFile={ARCHIVE}"):
    mods = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", archive_flag,
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
            + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in mods]
            + ["-cp", classpath, "pipebench.Main", work, str(rounds), str(trace)])


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(result, ops, exp, t0):
    ok = [o for o in ops if o["ok"]]
    failed_rounds = {o["round"] for o in ops if not o["ok"]}
    ok_rounds = [r for r in result["rounds"] if r["round"] not in failed_rounds]

    def p50(name):
        return median([o["ms"] for o in ok if o["name"] == name])

    # a round's five Viewer queries together, as the viewer runs them: one
    # ~250 ms query alone spread 22% over ten runs, the five together 7%
    passes = {}
    for o in ops:
        if o["name"].startswith("viewer."):
            passes.setdefault(o["round"], []).append(o)
    return {
        "setup_s": (result["first_op_epoch_ms"] / 1000.0 - t0, "s"),
        "round_s": (median([r["ms"] for r in ok_rounds]) / 1000.0, "s"),
        "ep1_ms_p50": (p50("ep1"), "ms"),
        "ep2_ms_p50": (p50("ep2"), "ms"),
        "viewer_pass_ms_p50": (median([sum(o["ms"] for o in p) for p in passes.values()
                                       if all(o["ok"] for o in p)]), "ms"),
        # output bytes of the jobs EP1 and EP2 ran, per round and bronze byte
        "write_amp": (median([r["bytes_written"] for r in ok_rounds]) / exp["bronze_bytes"],
                      "B/B"),
        "heap_live_mb": (result["heap_live_mb"], "MB"),
        "success_frac": (len(ok) / len(ops), "frac"),
    }


def layer_unit(name):
    parts = set(re.split(r"[._]", name))
    for token, unit in [("ms", "ms"), ("bytes", "B"), ("written", "B"), ("mb", "MB"),
                        ("frac", "frac"), ("ratio", "x"), ("overhead", "x")]:
        if token in parts:
            return unit
    return "count"


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=list(gen.SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    classpath = build()
    rounds = max(1, math.ceil(args.seconds / ROUND_S[args.workload]))
    t0 = time.time()  # set-up starts here: the build is not part of it
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    exp = gen.generate(args.workload, args.seed, os.path.join(work, "lake"))
    with open(os.path.join(work, "expected.json"), "w") as f:
        json.dump(exp, f)

    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            rc = subprocess.run(java_cmd(classpath, work, rounds, args.trace),
                                cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=RUN_LIMIT_S - (time.time() - t0)).returncode
        except subprocess.TimeoutExpired:
            die(f"run exceeded {RUN_LIMIT_S} s; log in {work}/jvm.log")
    if rc != 0:
        sys.stderr.write("".join(open(os.path.join(work, "jvm.log")).readlines()[-30:]))
        die(f"benchmark JVM failed (exit {rc})")
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)

    gold_dir = f"{work}/lake/gold/county_analysis/ingest_date={gen.INGEST_DATE}"
    ops, captures_ok = checks.evaluate(result, exp, gold_dir)
    failed = sum(not o["ok"] for o in ops)
    if args.trace:
        metrics = {k: (v, layer_unit(k)) for k, v in sorted(result["layers"].items())}
    else:
        metrics = end_to_end(result, ops, exp, t0)
    context = dict(result["context"], workload=args.workload, seed=args.seed,
                   rounds=len(result["rounds"]), warmup_ms=result["warmup_ms"],
                   bronze_bytes=exp["bronze_bytes"], expected=exp)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0 and captures_ok,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
