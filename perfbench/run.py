#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

    python3 perfbench/run.py --workload etl_dag --seed 1 --seconds 14 --trace 0

Builds the engine together with the harness (perfbench/build.sbt) on first
use, runs the harness in one JVM, and prints two lines: a summary with every
measured end-to-end metric and the output-check verdict, then, as the last
line, the JSON result whose metrics are the ones BENCHMARK.json names for
the trace mode (end_to_end for --trace 0, per_layer for --trace 1).

A traced run also writes perfbench/out/<workload>-seed<n>.spans.jsonl (one
span a line: workload pass, phase, task, call and action spans, or stream
query and micro-batch spans) and <workload>-seed<n>.layers.json.

Other modes:
    --self-check            run the harness's checks of its own logic
    --write-goldens         rewrite goldens/<workload>.tsv from this run
    --profile               profile every task of the whole DAG of a DAG
                            workload into profiles/<workload>.tsv
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
TARGET = BENCH / "target"
# The first run of a checkout builds, then runs: both within 900 s.
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
PROFILE_TIMEOUT_S = 900
WORKLOADS = ("etl_dag", "curation_dag", "cdc_stream")
# Units of the summary-line metrics that BENCHMARK.json does not list.
SUMMARY_UNITS = {"failed_share": "ratio", "catchup_eps": "events/s"}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_OPTIONS = ["-Xmx4g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once per source state; return the
    runtime classpath."""
    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}", 2)
    stamp = source_stamp()
    cp_file, stamp_file = TARGET / "classpath.txt", TARGET / "source.sha256"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    TARGET.mkdir(exist_ok=True)
    log = TARGET / "build.log"
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    lines = log.read_text().strip().splitlines()
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed, see {log}", 3)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def cpu_ticks():
    """(steal, total) CPU ticks of the host since boot, from /proc/stat, or
    None where the kernel does not report steal time."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def harness_args(workload, args, work, out):
    return ["--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--bench", str(BENCH), "--work", str(work), "--out", str(out),
            "--write-goldens", "1" if args.write_goldens else "0"]


# A DAG slice covers the SLICE_PHASES phases with the most warm time in the
# whole DAG, one task each, within SLICE_BUDGET_S profile seconds of warm
# time: a run (set-up, a cold pass, two warm passes) must stay near 35 s
# for a contract round of 70 runs to fit in 3420 s.
SLICE_PHASES = 4
SLICE_BUDGET_S = 3.5
# What a slice must match of its whole DAG: each figure per warm second.
INTENSITIES = ("call_s", "jobs", "task_s", "shuffle_write_bytes", "scan_bytes")


def intensities(rows):
    wall = sum(float(r["warm_s"]) for r in rows)
    return {k: sum(float(r[k]) for r in rows) / wall for k in INTENSITIES}


def choose_slice(dag_rows, alone_rows):
    """One task from each of the SLICE_PHASES phases with the most warm time
    in the whole DAG: the combination whose intensities (time inside the
    SparkEntry.queries call, where memo populates land, Spark jobs, busy
    task time, shuffle and scan bytes, each per warm second) are closest,
    in squared log ratio, to the whole DAG's, within SLICE_BUDGET_S of warm
    time (each second over it costs ten times a factor e in one
    intensity). The DAG's figures are its tasks run in order (context
    dag), a candidate task's are the task run with memos cleared (context
    alone), as it runs when it is the first in a slice to read a memo.
    Local search from each phase's median-time task, changing the task of
    one phase or of two phases at a time; deterministic."""
    import itertools
    import math
    phase_s = {}
    for r in dag_rows:
        phase_s[r["phase"]] = phase_s.get(r["phase"], 0.0) + float(r["warm_s"])
    top = sorted(phase_s, key=phase_s.get, reverse=True)[:SLICE_PHASES]
    phases = {}
    for r in alone_rows:
        if r["phase"] in top:
            phases.setdefault(r["phase"], []).append(r)
    target = intensities(dag_rows)

    def loss(pick):
        over = sum(float(r["warm_s"]) for r in pick.values()) - SLICE_BUDGET_S
        got = intensities(list(pick.values()))
        return 10 * max(0.0, over) + sum(math.log((got[k] + 1e-9) / (target[k] + 1e-9)) ** 2
                                         for k in INTENSITIES)

    pick = {p: sorted(rs, key=lambda r: float(r["warm_s"]))[(len(rs) - 1) // 2]
            for p, rs in phases.items()}
    moves = [(p,) for p in phases] + list(itertools.combinations(phases, 2))
    best, improved = loss(pick), True
    while improved:
        improved = False
        for move in moves:
            for tasks in itertools.product(*(phases[p] for p in move)):
                trial = dict(pick, **dict(zip(move, tasks)))
                if loss(trial) < best - 1e-12:
                    pick, best, improved = trial, loss(trial), True
    return pick, best, target, intensities(list(pick.values()))


def report_profile(workload):
    """Read profiles/<workload>.tsv and print the slice choose_slice picks,
    with its intensities beside the whole DAG's."""
    lines = (BENCH / "profiles" / f"{workload}.tsv").read_text().splitlines()
    head = lines[0].split("\t")
    rows = [dict(zip(head, l.split("\t"))) for l in lines[1:] if not l.startswith("#")]
    dag = [r for r in rows if r["context"] == "dag" and r["phase"] != "layout_maintenance"]
    pick, loss, target, got = choose_slice(dag, [r for r in rows if r["context"] == "alone"])
    print(json.dumps({
        "slice": {p: r["task"] for p, r in pick.items()},
        "loss": round(loss, 4),
        "warm_s": {"slice": round(sum(float(r["warm_s"]) for r in pick.values()), 3),
                   "whole_dag": round(sum(float(r["warm_s"]) for r in dag), 3)},
        "per_warm_s": {k: {"slice": round(got[k], 4), "whole_dag": round(target[k], 4)}
                       for k in INTENSITIES}}))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-check", action="store_true")
    p.add_argument("--write-goldens", action="store_true")
    p.add_argument("--profile", action="store_true")
    args = p.parse_args()

    contract_file = ROOT / "BENCHMARK.json"
    if not contract_file.exists():
        fail(f"{contract_file} not found", 2)
    contract = json.loads(contract_file.read_text())
    if not args.self_check and args.workload not in WORKLOADS:
        fail(f"--workload must be one of {', '.join(WORKLOADS)}", 2)
    if args.profile and args.workload == "cdc_stream":
        fail("--profile profiles a DAG workload", 2)
    workload = ("self_check" if args.self_check else
                "profile_" + args.workload if args.profile else args.workload)
    if args.seconds is None:
        args.seconds = contract["run_seconds"]

    classpath = build()
    work = BENCH / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    opens = [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
    cmd = (["java"] + opens + JVM_OPTIONS +
           [f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath, "perfbench.Main"] +
           harness_args(workload, args, work, result_file))
    timeout = PROFILE_TIMEOUT_S if args.profile else RUN_TIMEOUT_S
    log = work / "jvm.log"
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    ticks0 = cpu_ticks()
    try:
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"harness exceeded {timeout} s", 4)
        if rc != 0 or not result_file.exists():
            sys.stderr.write("".join(log.read_text().splitlines(True)[-40:]))
            fail(f"harness exited with code {rc}", 4)
        r = json.loads(result_file.read_text())
        spans = work / "spans.jsonl"
        if args.trace and spans.exists():
            out_dir = BENCH / "out"
            out_dir.mkdir(exist_ok=True)
            stem = f"{workload}-seed{args.seed}"
            shutil.copy(spans, out_dir / f"{stem}.spans.jsonl")
            (out_dir / f"{stem}.layers.json").write_text(
                json.dumps({"metrics": r["metrics"], "notes": r["notes"]}, indent=1) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ticks1 = cpu_ticks()

    units = dict(SUMMARY_UNITS)
    units.update({m["name"]: m["unit"] for m in contract["end_to_end"] + contract["per_layer"]})
    summary = {
        "workload": workload, "seed": args.seed,
        "output_check": "pass" if r["correct"] else "FAIL",
        "failed_operations": r["failed_names"], "invalid": r["invalid"],
        # The share of the host's CPU time its hypervisor gave to other
        # guests during the run: a run with a high share measured a
        # contended host, not the program.
        "host_steal_share": (round((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), 3)
                             if ticks0 and ticks1 else None),
        "metrics": {k: {"value": v, "unit": units.get(k, "")}
                    for k, v in r["metrics"].items() if not args.trace or k in units},
        "notes": r["notes"]}
    print(json.dumps(summary))
    wanted = contract["per_layer"] if args.trace else contract["end_to_end"]
    if workload == "self_check" or args.profile:
        wanted = []
    metrics = {m["name"]: {"value": r["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    if args.profile:
        report_profile(args.workload)
    if (workload == "self_check" or args.profile) and not r["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
