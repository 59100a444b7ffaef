"""Seeded end-to-end benchmark of the trafaret_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_dirty --seed 1 --seconds 10 --trace 0

One process at local[nproc]. Set-up starts the session and writes the
workload's inputs, generated from ``--seed``, to parquet; each step runs
three times (every session start in a fresh JVM) and its median counts.
The first job in the fresh process is timed on its own (``cold_job_s``);
warm jobs then repeat for ``--seconds``. Every job starts
from fresh output directories and its output is checked: the job's audit
invariants, failed Spark tasks, and a digest of every output table, which
must agree across the run's jobs and, for a seed listed in
``expected.json``, with the committed value.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace
1`` also runs each layer under its own span and job group and prints the
per-layer metrics, writing the spans to ``.perfbench_traces/``. The last
stdout line is one JSON object; the lines above it are for people. The
exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
# one JVM start swings with the host's load by more than setup_s's bound,
# so set-up starts the session this many times, each in a fresh JVM, and
# then writes the inputs this many times; setup_s is the sum of the medians
SETUP_REPS = 3
MIN_WARM = 1  # warm jobs per run, however long they take
# the layers whose spans get Spark job/task counts (span name prefixes)
LAYERS = ("io", "validate", "asof", "features", "checkpoint",
          "conversations", "curation", "similarity", "dedup")


def start_session(cores: int):
    """The engine's own session (main() points its local dirs at the run's
    work directory through SPARK_LOCAL_DIRS)."""
    from trafaret_spark.session import get_spark
    spark = get_spark("perfbench", cores=cores,
                      **{"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all(spark) -> None:
    """Stop Spark, the JVM and every process below this one, and wait until
    each has ended."""
    from pyspark import SparkContext

    from probes import alive, descendants
    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(alive(p) for p in started):
        if time.monotonic() > deadline:
            for p in filter(alive, started):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


class Bench:
    def __init__(self, args, spec: dict, root: str, work: str):
        from workloads import WORKLOADS
        self.args, self.spec, self.root, self.work = args, spec, root, work
        self.wl = WORKLOADS[args.workload](args.seed)
        with open(os.path.join(HERE, "expected.json")) as fh:
            self.expected = json.load(fh).get(args.workload, {}).get(
                str(args.seed))
        self.cores = os.cpu_count() or 1
        self.spark = None

    # ------------------------------------------------------------ jobs

    def attempt(self, i: int) -> dict:
        """One job from fresh output directories, timed, then checked."""
        sc = self.spark.sparkContext
        d_out = os.path.join(self.work, f"out{i}")
        rec = {"group": f"job/{i}", "problems": [], "digests": {},
               "bytes": 0}
        sc.setJobGroup(rec["group"], f"{self.wl.name} job {i}")
        t = time.perf_counter()
        try:
            summary = self.wl.run_job(self.spark, self.d_in, d_out)
        except Exception:
            summary = None
            traceback.print_exc()
            rec["problems"].append("job raised: "
                                   + traceback.format_exc().splitlines()[-1])
        rec["wall"] = time.perf_counter() - t
        sc.setLocalProperty("spark.jobGroup.id", None)
        if summary is not None:
            try:
                rec["digests"], probs, rec["bytes"] = self.wl.check(
                    self.n_input, d_out, summary)
            except Exception:
                traceback.print_exc()
                probs = ["output check raised: "
                         + traceback.format_exc().splitlines()[-1]]
            rec["problems"] += probs
        shutil.rmtree(d_out, ignore_errors=True)
        return rec

    def judge(self, runs: list) -> dict:
        """Add failed-task and digest problems to each run's record; return
        the reference digests."""
        from probes import group_counts
        sc = self.spark.sparkContext
        ref = self.expected or next(
            (r["digests"] for r in runs if r["digests"]), None)
        for r in runs:
            r["jobs"], r["tasks"], r["tasks_failed"] = \
                group_counts(sc, r["group"])
            if r["tasks_failed"]:
                r["problems"].append(f"{r['tasks_failed']} Spark tasks or "
                                     f"jobs failed")
            if r["digests"] and r["digests"] != ref:
                what = "committed" if self.expected else "first run's"
                r["problems"].append(f"output digest {r['digests']} != "
                                     f"{what} {ref}")
        return ref

    # ------------------------------------------------------------ run

    def run(self) -> int:
        from probes import RssSampler
        rss = RssSampler(os.getpid()).start()
        try:
            return self._run(rss)
        finally:
            rss.stop()
            stop_all(self.spark)

    def _run(self, rss) -> int:
        starts = []
        for _ in range(SETUP_REPS):
            stop_all(self.spark)
            t = time.perf_counter()
            self.spark = start_session(self.cores)
            starts.append(time.perf_counter() - t)
        self.session_s = statistics.median(starts)
        mats = []
        for i in range(SETUP_REPS):
            d = os.path.join(self.work, f"in{i}")
            t = time.perf_counter()
            self.n_input = self.wl.make_inputs(self.spark, d)
            mats.append(time.perf_counter() - t)
            if i:
                shutil.rmtree(self.d_in)
            self.d_in = d
        setup_s = self.session_s + statistics.median(mats)

        rss.reset()
        cold = self.attempt(0)
        warm, t_end = [], time.perf_counter() + self.args.seconds
        while len(warm) < MIN_WARM or time.perf_counter() < t_end:
            warm.append(self.attempt(len(warm) + 1))
        peak_rss = rss.peak
        runs = [cold] + warm

        ref = self.judge(runs)
        layer = None
        if self.args.trace:
            layer, traced = self.trace(warm, ref)
            runs.append(traced)
        failed = sum(bool(r["problems"]) for r in runs)
        for i, r in enumerate(runs):
            for p in r["problems"]:
                print(f"FAILED job {i}: {p}", file=sys.stderr)

        walls = [r["wall"] for r in warm]
        q1, q2, q3 = (statistics.quantiles(walls, n=4, method="inclusive")
                      if len(walls) > 1 else walls * 3)
        values = {
            # warm throughput: rows over all warm jobs per second of their
            # summed wall time
            "rows_per_s": self.n_input * len(walls) / sum(walls),
            "cold_job_s": cold["wall"],
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss / 2 ** 20,
            "output_bytes_per_row":
                statistics.median([r["bytes"] for r in [cold] + warm])
                / self.n_input,
        }
        print(f"# {self.wl.name} seed={self.args.seed} local[{self.cores}] "
              f"input_rows={self.n_input}")
        print(f"# per warm job rows/s median={self.n_input / q2:.1f} "
              f"q1={self.n_input / q3:.1f} q3={self.n_input / q1:.1f} "
              f"n={len(walls)} (warm job s: {[round(w, 3) for w in walls]})")
        print(f"# setup: session median of {[round(t, 3) for t in starts]} s "
              f"+ inputs median of {[round(m, 3) for m in mats]} s")
        print(f"# failed_frac={failed}/{len(runs)}")
        print(f"# digests {json.dumps(runs[0]['digests'], sort_keys=True)}")
        for name, v in values.items():
            print(f"# {name} = {v:.6g}")
        values.update(layer or {})
        kind = "per_layer" if self.args.trace else "end_to_end"
        print(json.dumps({
            "correct": failed == 0, "attempted": len(runs), "failed": failed,
            "metrics": {m["name"]: {"value": values.get(m["name"], 0),
                                    "unit": m["unit"]}
                        for m in self.spec[kind]}}))
        return 0 if failed == 0 else 1

    # ------------------------------------------------------------ trace

    def trace(self, warm: list, ref: dict) -> tuple[dict, dict]:
        """Per-layer metrics, and the traced pass as one more checked run:
        its output must match the untraced jobs' digests."""
        from probes import Tracer, read_table, table_digest, table_size
        sc = self.spark.sparkContext
        run_id = f"{self.wl.name}-seed{self.args.seed}-{os.getpid()}"
        tr = Tracer(sc, run_id)
        d_t = os.path.join(self.work, "traced")
        # a layer the workload bypasses has no span; its metrics read 0
        with tr.span("run"):
            m = self.wl.trace(self.spark, tr, self.d_in, d_t)
        tr.finish()
        off = [r for r in tr.spans if r["name"] == "curation.audit_off"]
        untraced = statistics.median([r["wall"] for r in warm])
        m["session.start_s"] = self.session_s
        m["io.scan_s"] = tr.self_s("io.scan")
        m["io.write_s"] = sum(tr.self_s(r["name"]) for r in tr.spans
                              if r["name"].startswith("io.write"))
        digests = {t: table_digest(read_table(os.path.join(d_t, t)))
                   for t in self.wl.tables}
        traced = {"problems": [] if digests == ref else [
            f"traced output digest {digests} != {ref}"]}
        sizes = [table_size(os.path.join(d_t, t)) for t in self.wl.tables]
        m["io.bytes_written"] = sum(b for b, _ in sizes)
        m["io.files_written"] = sum(f for _, f in sizes)
        for layer in LAYERS:
            (m[f"{layer}.spark_jobs"], m[f"{layer}.spark_tasks"],
             m[f"{layer}.tasks_failed"]) = tr.layer_counts(layer)
        layer_sum = sum(tr.self_s(r["name"]) for r in tr.spans
                        if r["name"] not in ("run", "curation.audit_off"))
        if off:
            # the audit's cost is the exact-audit job minus the same job
            # with the count jobs off
            m["curation.audit_s"] = untraced - statistics.median(
                [r["end"] - r["start"] for r in off])
            for k in ("jobs", "tasks"):
                m[f"curation.spark_{k}"] = (
                    statistics.median([r[k] for r in warm])
                    - statistics.median([r[k] for r in off]))
            layer_sum += m["curation.audit_s"]
        codes = {k: v for k, v in m.items()
                 if k.startswith("validate.errors.")}
        if codes:
            print(f"# error codes {json.dumps(codes, sort_keys=True)}")
        known = {x["name"] for x in self.spec["per_layer"]}
        other = [k for k in m if k.startswith("validate.errors.")
                 and k not in known]
        m["validate.errors.other"] = sum(m.pop(k) for k in other)
        m["trace.layer_sum_s"] = layer_sum
        m["trace.untraced_s"] = untraced
        m["trace.gap_s"] = untraced - layer_sum
        m["trace.overhead_s"] = tr.dur("run") - untraced
        if self.wl.measures_scaling:
            m["ingest.scaling_eff_1to4"] = self.scaling(untraced)
        print(f"# traced: layers sum {layer_sum:.3f} s vs untraced median "
              f"{untraced:.3f} s; gap {untraced - layer_sum:.3f} s is "
              f"{self.wl.gap}")
        out_dir = os.path.join(self.root, ".perfbench_traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{run_id}.json")
        tr.dump(path, {"metrics": m, "gap_sources": self.wl.gap})
        print(f"# spans: {os.path.relpath(path, self.root)}")
        return m, traced

    def scaling(self, t_n: float) -> float:
        """Efficiency of local[nproc] against one local[1] job in the same,
        already warm JVM: t_1 / (nproc * t_nproc). Reported, never gated."""
        self.spark.stop()
        self.spark = start_session(1)
        t = time.perf_counter()
        self.wl.run_job(self.spark, self.d_in, os.path.join(self.work, "one"))
        t_1 = time.perf_counter() - t
        print(f"# local[1] job {t_1:.3f} s vs local[{self.cores}] {t_n:.3f} s")
        return t_1 / (self.cores * t_n)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "trafaret_spark", "__init__.py")):
        print("perfbench: trafaret_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[:0] = [HERE, root]
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # everything the run writes, the JVMs' and Python's temp files
    # included, stays under the checkout and is removed at exit
    parent = os.path.join(root, ".perfbench_work")
    work = os.path.join(parent, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    try:
        return Bench(args, spec, root, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
