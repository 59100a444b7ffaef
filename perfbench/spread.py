"""Run the benchmark over several seeds and report, for each end-to-end
metric, the spread of its per-run values: (q3 - q1) / median, quartiles as
``statistics.quantiles(values, n=4)`` gives them. A gated metric is steady
when its spread is below a third of its bound in BENCHMARK.json. The
ungated end-to-end values the runs print (rows_per_s, cold_job_s,
peak_rss_mb) are reported the same way, without a bound.

    python3 perfbench/spread.py --workloads ingest_dirty semdedup_f64 \\
        --seeds 1 2 3 4 5 6 7 8 9 10 --out .perfbench_traces/spread.json

Run from the repository root; one benchmark process at a time.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import subprocess
import sys
import time


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["info"] = {}
    for ln in lines[:-1]:
        m = re.fullmatch(r"# (\w+) = (\S+)", ln)
        if m:
            res["info"][m.group(1)] = float(m.group(2))
    # the set-up and warm-job breakdowns, kept as evidence
    res["notes"] = [ln for ln in lines[:-1]
                    if ln.startswith(("# setup", "# per warm"))]
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in args.workloads:
        runs = []
        for s in args.seeds:
            runs.append(run_once(spec, w, s))
            print(f"{w} seed {s}: {runs[-1]['wall_s']:.1f} s "
                  f"correct={runs[-1]['correct']}", flush=True)
        rep = {"seeds": args.seeds,
               "run_wall_s": [round(r["wall_s"], 1) for r in runs],
               "all_correct": all(r["correct"] for r in runs),
               "notes": [r["notes"] for r in runs],
               "metrics": {}}
        # the gated metrics from the JSON line, and the ungated end-to-end
        # values every run prints as "# name = value"
        shown = [(n, b, [r["metrics"][n]["value"] for r in runs])
                 for n, b in bounds.items()]
        shown += [(n, None, [r["info"][n] for r in runs])
                  for n in runs[0]["info"] if n not in bounds]
        for name, bound, vals in shown:
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            rep["metrics"][name] = {
                "median": med, "q1": q1, "q3": q3, "spread": spread,
                "bound": bound, "values": vals}
            if bound is not None:
                rep["metrics"][name]["steady"] = spread < bound / 3
            print(f"  {name:22s} median {med:12.4f} spread {spread:.3f} "
                  f"(bound {bound})", flush=True)
        report[w] = rep
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
