"""Consume-job benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload consume_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program and the harness from
source (`perfbench/build.py`), generates the workload's inputs from the seed
(`perfbench/gen.py`), computes the reference checksums in DuckDB
(`perfbench/gate.py`), then drives the program's public entry points in
fresh JVMs (`perfbench/scala`), one job invocation at a time (a closed loop
with one client), `local[4]` with 4 shuffle partitions. Every run's output is
checked against the reference; a run that throws or fails the check counts as
failed.

With `--trace 0` it prints the end-to-end metrics, with `--trace 1` a traced
run's per-layer metrics, per-span self times and tracing overhead. The last
line of standard output is one JSON object: correct, attempted, failed,
metrics. Spans are written to `.bench_build/traces/`.
"""

import argparse
import json
import os
import shutil
from statistics import median
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gate  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("consume_daily", "consume_refresh_skewed", "corpus_neardup")
CORES = 4            # local[4] with 4 shuffle partitions
JVM_TIMEOUT = 150    # seconds, one JVM
WARMUPS = 1          # untimed runs before a warm measurement
# Timed runs of a warm measurement: a fixed count, so every run takes the
# median at the same point of the JIT warm-up curve.
TIMED_RUNS = 2


class Harness:
    """Launches the JVM side for one workload input and gates its runs."""

    def __init__(self, workload, work, ref, classpath):
        self.workload, self.work, self.ref, self.cp = workload, work, ref, classpath
        self.data = os.path.join(work, "data")
        self.tmp = os.path.join(work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.con = gate.connect(self.tmp)
        self.n = 0
        self.runs = []      # every gated run: dict with ok, kind, wall_s, counters ...
        self.setups = []

    def jvm(self, label=None, **opts):
        """One fresh JVM; returns its result dict (its runs already gated).
        `label` renames the kind of its runs.
        """
        wd = os.path.join(self.work, f"jvm{self.n}")
        self.n += 1
        os.makedirs(wd)
        if self.workload == "consume_daily":
            gate.preseed(self.con, os.path.join(wd, "out", "run0", "table"), self.ref)
        res_file = os.path.join(wd, "result.json")
        opts.setdefault("cores", CORES)
        cmd = [build.java(), *build.jvm_flags(self.tmp), "-cp", self.cp, "perfbench.Main",
               self.workload, self.data, wd, res_file] + [f"{k}={v}" for k, v in opts.items()]
        # Spark prefers this variable over spark.local.dir: keep its scratch
        # files inside the checkout
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(wd, "spark-local"))
        t0 = time.monotonic()
        with open(os.path.join(wd, "jvm.log"), "w") as log:
            try:
                code = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                      timeout=JVM_TIMEOUT).returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        print(f"jvm{self.n - 1} {' '.join(f'{k}={v}' for k, v in opts.items())}: "
              f"{time.monotonic() - t0:.1f} s")
        if code != 0 or not os.path.exists(res_file):
            with open(os.path.join(wd, "jvm.log")) as log:
                tail = [ln for ln in log.read().splitlines() if " INFO " not in ln][-15:]
            print(f"perfbench: JVM exit {code}:\n" + "\n".join(tail), file=sys.stderr)
            expected = int(opts.get("runs", 1)) + int(opts.get("traced", 0)) + \
                int(opts.get("local1", 0))
            for _ in range(max(expected, 1)):
                self.runs.append({"ok": False, "kind": "crashed", "problems": [f"JVM exit {code}"]})
            return None
        with open(res_file) as f:
            res = json.load(f)
        self.setups.append(res["setup_s"])
        print("  set-up: " + ", ".join(f"{k} {v:.3f} s" for k, v in res["setup_parts"].items()))
        for r in res["runs"]:
            r["kind"] = label or r["kind"]
            r["problems"] = self._check(r)
            r["ok"] = not r["problems"]
            self.runs.append(r)
        return res

    def _check(self, r):
        if r.get("error"):
            return [r["error"]]
        if self.workload == "consume_daily":
            return gate.check_daily(self.con, r["out"], self.ref)
        return gate.check_result(r["checksum"], self.ref)

    def ok_runs(self, kind):
        return [r for r in self.runs if r["ok"] and r["kind"] == kind]


def timed(h, workload, seconds, input_rows):
    """End-to-end metrics over at least `seconds` seconds of job runs."""
    start = time.monotonic()
    if workload == "consume_daily":
        # each run is a fresh JVM: the scheduled job pays cold start daily
        while True:
            h.jvm(runs=1)
            if time.monotonic() - start >= seconds:
                break
    else:
        h.jvm(warmups=WARMUPS, runs=TIMED_RUNS, seconds=seconds)
    runs = h.ok_runs("timed")
    if not runs:
        return None, 0
    wall = median([r["wall_s"] for r in runs])
    return {
        "setup_s": (median(h.setups), "s"),
        "job_wall_s": (wall, "s"),
        "rows_per_s": (input_rows / wall, "1/s"),
        "task_cpu_s": (median([r["counters"]["task_cpu_s"] for r in runs]), "s"),
        "peak_heap_mb": (median([r["counters"]["heap_peak_mb"] for r in runs]), "MB"),
    }, len(runs)


LAYER_SPANS = {
    "pipeline.repair_cdc_s": "pipeline.repair_cdc",
    "pipeline.side_inputs_s": "pipeline.side_inputs",
    "pipeline.base_first_s": "pipeline.base_first",
    "pipeline.enrich_s": "pipeline.enrich.",
    "pipeline.base_final_s": "pipeline.base_final.",
    "pipeline.modify_s": "pipeline.modify.",
    "sinks.gzip_json_s": "sinks.gzip_json.",
    "sinks.gzip_csv_s": "sinks.gzip_csv.",
    "sinks.overwrite_partitions_s": "sinks.overwrite_partitions",
    "dedup.signatures_s": "dedup.signatures",
    "dedup.candidate_pairs_s": "dedup.candidate_pairs",
    "dedup.near_duplicates_s": "dedup.near_duplicates",
    "dedup.components_s": "dedup.components",
}
SPAN_COUNTS = {
    "tables.rows_read": ("tables.load", "rows_read"),
    "pipeline.repair_cdc.rows_out": ("pipeline.repair_cdc", "rows_out"),
    "pipeline.base_first.rows_out": ("pipeline.base_first", "rows_out"),
    "pipeline.base_final.invalid_users": ("pipeline.base_final.", "invalid_users"),
    "dedup.candidate_pairs": ("dedup.candidate_pairs", "candidate_pairs"),
    "dedup.verified_pairs": ("dedup.near_duplicates", "verified_pairs"),
    "dedup.docs_dropped": ("dedup.drop_near_duplicates", "docs_dropped"),
}


def traced(h, workload):
    """Per-layer metrics: one traced run, untraced runs beside it for the
    engine counters and the tracing overhead, and one `local[1]` run.
    """
    if workload == "consume_daily":
        res = h.jvm(traced=1, runs=0)
        h.jvm(runs=1)
        h.jvm(label="local1", runs=1, cores=1)
    else:
        res = h.jvm(warmups=WARMUPS, traced=1, runs=2, local1=1)
    tr = [r for r in h.runs if r["kind"] == "traced"]
    untraced = h.ok_runs("timed")
    local1 = h.ok_runs("local1")
    if res is None or not tr or not tr[0]["ok"] or not untraced or not local1:
        return None, []
    spans = res["spans"]
    self_by_layer = res["self_by_layer"]
    wall = median([r["wall_s"] for r in untraced])

    def c(key):
        return median([r["counters"][key] for r in untraced])

    def spans_like(prefix):
        return [s for s in spans if s["name"] == prefix or
                (prefix.endswith(".") and s["name"].startswith(prefix))]

    m = {name: (sum(s["self_s"] for s in spans_like(p)), "s") for name, p in LAYER_SPANS.items()}
    for name, (p, key) in SPAN_COUNTS.items():
        m[name] = (sum(s["extra"].get(key, 0) for s in spans_like(p)), "count")
    m["tables.scan_s"] = (self_by_layer.get("tables", 0.0), "s")
    for layer in ("pipeline", "sinks", "dedup"):
        m[f"{layer}.self_s"] = (self_by_layer.get(layer, 0.0), "s")
    cand, ver = m["dedup.candidate_pairs"][0], m["dedup.verified_pairs"][0]
    m["dedup.verify_yield"] = (ver / cand if cand else 0.0, "ratio")
    m["sinks.files_written"] = (tr[0]["files_written"], "count")
    m["sinks.bytes_written"] = (tr[0]["bytes_written"], "bytes")
    m.update({
        "spark.jobs": (c("jobs"), "count"),
        "spark.stages": (c("stages"), "count"),
        "spark.tasks": (c("tasks"), "count"),
        "spark.busy_share": (c("busy_share"), "ratio"),
        "spark.shuffle_write_mb": (c("shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (c("shuffle_read_mb"), "MB"),
        "spark.spill_mb": (c("spill_mb"), "MB"),
        "spark.task_skew": (c("task_skew"), "ratio"),
        "spark.gc_s": (c("gc_s"), "s"),
        "spark.local4_speedup": (local1[0]["wall_s"] / wall, "ratio"),
        "cache.peak_mb": (c("cache_peak_mb"), "MB"),
        "cache.leftover_blocks": (max(r["leftover_blocks"] for r in h.runs if r["ok"]), "count"),
        "trace.job_wall_s": (tr[0]["wall_s"], "s"),
        "trace.overhead_s": (tr[0]["wall_s"] - wall, "s"),
    })
    return m, spans


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    a = p.parse_args(argv)

    classpath = build.build()
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.monotonic()
        shape = gen.generate(a.workload, a.seed, os.path.join(work, "data"), a.scale)
        h = Harness(a.workload, work, None, classpath)
        h.ref = gate.reference(h.con, a.workload, h.data, build.ORACLES)
        print(f"input {a.workload} seed={a.seed}: " + json.dumps(shape))
        print(f"inputs + reference: {time.monotonic() - t0:.2f} s")
        input_rows = shape.get("events", shape.get("documents"))
        if a.trace:
            metrics, spans = traced(h, a.workload)
            if spans:
                out = os.path.join(build.BUILD, "traces")
                os.makedirs(out, exist_ok=True)
                with open(os.path.join(out, f"{a.workload}-{a.seed}.json"), "w") as f:
                    json.dump(spans, f, indent=1)
                for s in spans:
                    print(f"span {s['name']:<34} layer={s['layer']:<8} self={s['self_s']:.4f} s"
                          f" total={s['end_s'] - s['start_s']:.4f} s")
        else:
            metrics, n_ok = timed(h, a.workload, a.seconds, input_rows)
            print(f"runs: {n_ok} timed, set-ups: {len(h.setups)}, input rows: {input_rows}")
        attempted = len(h.runs)
        failed = sum(not r["ok"] for r in h.runs)
        for r in h.runs:
            if not r["ok"]:
                print(f"FAILED {r['kind']} run: {'; '.join(r['problems'])[:500]}")
        print(f"failed_run_ratio: {failed / max(attempted, 1):.4f} ({failed}/{attempted})")
        if metrics is None:
            print("perfbench: no successful run to measure", file=sys.stderr)
            return 1
        for k, (v, unit) in metrics.items():
            print(f"metric {k} = {v} {unit}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
