#!/usr/bin/env python3
"""Paired A/B of the pipeline benchmark between two source trees.

    python3 tools/perfbench_ab.py <parent-tree> <change-tree> \\
        --workload hourly_ingest --seeds 11..20 --out records/x.json

Runs `python3 perfbench/run.py --workload W --seed N --seconds S
--trace T` in each tree, one run at a time. For the i-th seed the
parent runs first when i is even and second when it is odd, so the two
sides alternate. Each run's JSON result line is kept. Untraced runs
also get a summary per end-to-end metric of BENCHMARK.json: each side's
quartiles and median, the pairs the change won (ties count for
neither), the median gap, the parent's quartile spread (also as a share
of its median), and `over_bound`: whether the change's median is worse
than the parent's by more than the metric's BENCHMARK.json bound. The
printed summary marks such a metric OVER BOUND. A traced run keeps its
per-layer metrics under `layers`.

The section lands under `--key` (default: the workload) in `--out`;
other sections already in that file are kept, so one record can hold
several workloads, seeds and traced runs.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys


def seeds_of(spec):
    """'11..20' (inclusive) or '7,9001'."""
    if ".." in spec:
        a, b = spec.split("..")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def run(tree, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.rstrip("\n").split("\n")
    if p.returncode != 0 or not lines[-1].startswith("{"):
        return {"exit": p.returncode, "error": (p.stderr or p.stdout)[-2000:]}
    res = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    out = {k: res[k] for k in ("correct", "attempted", "failed")}
    if trace:
        out["layers"] = metrics
    else:
        out.update(metrics)
    return out


def quartiles(xs):
    if len(xs) == 1:
        return [xs[0]] * 3
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return [q1, med, q3]


def summary(pairs, end_to_end):
    ok = [p for p in pairs
          if all("exit" not in p[s] for s in ("parent", "change"))]
    out = {}
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"][name] for p in ok if p["parent"].get(name) is not None]
        chg = [p["change"][name] for p in ok if p["change"].get(name) is not None]
        if not par or len(par) != len(chg):
            continue
        wins = sum(1 for a, b in zip(par, chg) if (b < a if lower else b > a))
        qp, qc = quartiles(par), quartiles(chg)
        ratio = qc[1] / qp[1] if qp[1] else None
        worse = ratio is not None and (ratio > 1 + m["bound"] if lower
                                       else ratio < 1 - m["bound"])
        out[name] = {
            "parent_q1_median_q3": qp,
            "change_q1_median_q3": qc,
            "change_wins": f"{wins}/{len(par)}",
            "median_gap": qc[1] - qp[1],
            "parent_iqr": qp[2] - qp[0],
            "parent_spread": (qp[2] - qp[0]) / qp[1] if qp[1] else None,
            "change_over_parent": ratio,
            "bound": m["bound"],
            "over_bound": worse,
        }
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_tree")
    ap.add_argument("change_tree")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="'a..b' inclusive, or 'a,b,c'")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True, help="record JSON to add the section to")
    ap.add_argument("--key", help="section name (default: the workload)")
    ap.add_argument("--note", help="free text stored with the section")
    ap.add_argument("--what", help="what the record compares (stored at its top)")
    a = ap.parse_args()

    trees = {"parent": os.path.abspath(a.parent_tree),
             "change": os.path.abspath(a.change_tree)}
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]

    pairs = []
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "order": order}
        for side in order:
            pair[side] = run(trees[side], a.workload, seed, a.seconds, a.trace)
            r = pair[side]
            shown = r.get("op_ms_p50", r.get("error", "traced"))
            print(f"seed {seed} {side}: {shown}", file=sys.stderr, flush=True)
        pairs.append(pair)

    section = {"pairs": pairs}
    if a.note:
        section["note"] = a.note
    if not a.trace:
        section["summary"] = summary(pairs, end_to_end)

    record = {}
    if os.path.exists(a.out):
        with open(a.out) as f:
            record = json.load(f)
    with open("/proc/meminfo") as f:
        mem_gib = int(f.readline().split()[1]) / 1048576
    if a.what:
        record["what"] = a.what
    record.setdefault("command", "python3 perfbench/run.py --workload <w> --seed N "
                      f"--seconds {a.seconds} --trace 0|1 in each tree, via "
                      "tools/perfbench_ab.py; pairs alternate which side runs first")
    record.setdefault("hardware", f"{os.cpu_count()}-vCPU {platform.machine()} box, "
                      f"{mem_gib:.0f} GiB RAM, Spark local[4], one run at a time")
    record[a.key or a.workload] = section
    with open(a.out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    for name, s in section.get("summary", {}).items():
        spread = s["parent_spread"]
        print(f"{name}: parent {s['parent_q1_median_q3'][1]:.3f} -> change "
              f"{s['change_q1_median_q3'][1]:.3f}, wins {s['change_wins']}, "
              f"gap {s['median_gap']:.3f}, parent IQR {s['parent_iqr']:.3f}"
              + (f" ({spread:.0%} of its median)" if spread is not None else "")
              + (f"  OVER BOUND ({s['change_over_parent']:.3f}x, bound "
                 f"{s['bound']})" if s["over_bound"] else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
