#!/usr/bin/env python3
"""Surveys a workload's modules and picks the subset a benchmark pass runs.

    python3 perfbench/survey.py --workload corpus_curation [--pick 7]

Runs every registry query of the workload's modules once cold and once warm
(perfbench.Survey, one session on the bundled corpus), then prints, for each
module, for all modules together and for the subset in
perfbench/src/perfbench/Workloads.scala, the profile an operation has:
warm time, the share of it spent in frame(), frame and exec jobs, tasks per
stage, shuffle bytes, checkpoint bytes and the extra time of the cold call
(codegen, and shared-model training for the first query of a module that
needs the model: the cold calls run in registry order, so a subset's own
set-up cost is what the benchmark's frame.setup_s reports). With --pick N
it also prints a subset of N queries chosen by rule: each module gets a
share of N proportional to its size, and within a module the queries at
the midpoints of equal strata of warm time. The full survey and the profiles go to
.bench_build/perfbench/survey-<workload>.json.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

SURVEY_TIMEOUT_S = 1800


def profile(calls):
    """The profile of a group of queries from their warm and cold calls."""
    warm = [c for c in calls if c["call"] == "warm"]
    cold = {c["query"]: c for c in calls if c["call"] == "cold"}
    ops = [c["op_s"] for c in warm]
    stages = sum(c["exec_stages"] for c in warm)

    def mean(k):
        return statistics.fmean(c[k] for c in warm)
    return {
        "queries": len(warm),
        "failed": sum(c["failed"] for c in calls),
        "warm_op_s_median": statistics.median(ops),
        "warm_op_s_mean": statistics.fmean(ops),
        "warm_op_s_max": max(ops),
        "frame_share": sum(c["frame_s"] for c in warm) / sum(ops),
        "eager_query_share": sum(c["frame_jobs"] > 0 for c in warm) / len(warm),
        "frame_jobs_per_op": mean("frame_jobs"),
        "exec_jobs_per_op": mean("exec_jobs"),
        "tasks_per_stage": sum(c["exec_tasks"] for c in warm) / stages if stages else 0.0,
        "shuffle_mb_per_op": mean("shuffle_mb"),
        "checkpoint_mb_per_op": mean("checkpoint_mb"),
        "cold_extra_s_per_op": statistics.fmean(cold[c["query"]]["op_s"] - c["op_s"] for c in warm),
        "cold_extra_s_max": max(cold[c["query"]]["op_s"] - c["op_s"] for c in warm),
    }


def pick(calls, n):
    """N queries: shares proportional to module size (largest remainder),
    then the midpoints of equal strata of warm time inside each module."""
    warm = [c for c in calls if c["call"] == "warm" and not c["failed"]]
    modules = {}
    for c in warm:
        modules.setdefault(c["module"], []).append(c)
    total = len(warm)
    quota = {m: n * len(qs) / total for m, qs in modules.items()}
    shares = {m: int(q) for m, q in quota.items()}
    for m in sorted(quota, key=lambda m: quota[m] - shares[m], reverse=True)[:n - sum(shares.values())]:
        shares[m] += 1
    chosen = {}
    for m, qs in modules.items():
        qs = sorted(qs, key=lambda c: (c["op_s"], c["query"]))
        k = shares[m]
        chosen[m] = [qs[int((j + 0.5) * len(qs) / k)]["query"] for j in range(k)]
    return chosen


def current_subset(workload):
    """The subset named in Workloads.scala for the workload."""
    src = open(os.path.join(HERE, "src", "perfbench", "Workloads.scala")).read()
    body = src[src.index("val Subsets"):]
    body = body[body.index(f'"{workload}" -> Map('):]
    body = body[:body.index("))") + 2]
    subset = {}
    for m, names in re.findall(r'"([\w.]+)" ->\s*Seq\(([^)]*)\)', body):
        subset[m] = re.findall(r'"(\w+)"', names)
    return subset


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=["corpus_curation", "portfolio_reports"])
    ap.add_argument("--corpus", default=os.path.join(HERE, "corpus", "sf0.01"))
    ap.add_argument("--pick", type=int, help="also print a rule-picked subset of this size")
    ap.add_argument("--reuse", action="store_true", help="summarize the last survey without rerunning it")
    a = ap.parse_args()

    out_dir = os.path.join(run.ROOT, ".bench_build", "perfbench")
    calls_path = os.path.join(out_dir, f"survey-{a.workload}.jsonl")
    if not a.reuse:
        shutil.rmtree(run.RUN_DIR, ignore_errors=True)
        try:
            rc = run.run_jvm(run.java_command("perfbench.Survey", [
                "--workload", a.workload, "--corpus", os.path.abspath(a.corpus),
                "--work", run.RUN_DIR, "--out", calls_path]), SURVEY_TIMEOUT_S)
        finally:
            shutil.rmtree(run.RUN_DIR, ignore_errors=True)
        if rc != 0:
            sys.exit(f"survey of {a.workload} failed")
    calls = [json.loads(line) for line in open(calls_path)]

    groups = {}
    for c in calls:
        groups.setdefault(c["module"], []).append(c)
    profiles = {m: profile(cs) for m, cs in groups.items()}
    profiles["all modules"] = profile(calls)
    subsets = {"subset in Workloads.scala": current_subset(a.workload)}
    if a.pick:
        subsets[f"rule-picked {a.pick}"] = pick(calls, a.pick)
    for label, subset in subsets.items():
        names = {q for qs in subset.values() for q in qs}
        profiles[label] = profile([c for c in calls if c["query"] in names])

    keys = list(profiles["all modules"])
    print(f"{'':34s}" + "".join(f"{k[:14]:>15s}" for k in keys))
    for label, p in profiles.items():
        print(f"{label[:34]:34s}" + "".join(f"{p[k]:15.4g}" for k in keys))
    for label, subset in subsets.items():
        print(f"{label}: {json.dumps(subset)}")
    with open(os.path.join(out_dir, f"survey-{a.workload}.json"), "w") as f:
        json.dump({"corpus": os.path.basename(os.path.abspath(a.corpus)), "profiles": profiles,
                   "subsets": subsets}, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
