#!/usr/bin/env python3
"""Benchmark entry point.

    python3 opsbench/run.py --workload daily_sync|weekly_resync|invoice_month \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the harness from source
(opsbench/build.py), runs one JVM that seeds a store from the synthetic
upstream, warms up, and measures closed-loop ops for S seconds, checking
every op's output. Prints each metric by name with its unit, then, as the
last line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The full record of the run (every op,
the checks, the warm-up trend) is written under <build-root>/opsbench/runs/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# Ops before the measured ones, and the fewest measured ops of an untraced
# run, per workload; a traced run measures at least TRACED_PAIRS pairs of
# ops. See "Run structure and time budget" in README.md.
WARMUP = {"daily_sync": 2, "weekly_resync": 2, "invoice_month": 1}
MIN_OPS = {"daily_sync": 1, "weekly_resync": 1, "invoice_month": 2}
TRACED_PAIRS = 2
# Units of the metrics every run prints besides those of BENCHMARK.json.
UNITS = {"cpu_s_per_op": "s", "fail_ratio": "ratio", "api_calls_per_order": "calls/order"}


def steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over all CPUs, from
    /proc/stat (0 where there is none); a diagnostic of machine load."""
    try:
        fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["daily_sync", "weekly_resync", "invoice_month"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = json.loads(Path("BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classes = build.build()
    snapshot = build.seeded_store(classes)
    out = build.build_root()
    runs = out / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    work = out / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    result = runs / f"{a.workload}-s{a.seed}-t{a.trace}.json"
    result.unlink(missing_ok=True)
    log = runs / f"{a.workload}-s{a.seed}-t{a.trace}.log"

    props = (["spark.sql.queryExecutionListeners=opsbench.Trace$QueryListener",
              "spark.extraListeners=opsbench.Trace$Listener"] if a.trace else [])
    cmd, env = build.java(classes, work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--snapshot", str(snapshot), "--result", str(result),
        "--warmup", str(WARMUP[a.workload]),
        "--min-ops", str(TRACED_PAIRS if a.trace else MIN_OPS[a.workload])], props)
    steal0 = steal_s()
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
            try:
                code = proc.wait(timeout=170)
            except subprocess.TimeoutExpired:
                print(f"opsbench: run timed out; log in {log}", file=sys.stderr)
                return 3
            finally:  # also on SIGTERM (see below): never leave the JVM running
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not result.is_file():
        sys.stderr.write(log.read_text()[-4000:])
        print(f"opsbench: run failed ({code}); log in {log}", file=sys.stderr)
        return 4

    r = json.loads(result.read_text())
    r["detail"]["steal_s"] = steal_s() - steal0
    result.write_text(json.dumps(r))
    got = r["per_layer"] if a.trace else r["end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            print(f"opsbench: metric {m['name']} missing from the run", file=sys.stderr)
            return 5
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    d = r["detail"]
    units = dict(UNITS, **{m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]})
    print(f"# opsbench {a.workload} seed={a.seed} trace={a.trace} "
          f"ops={r['attempted']} failed={r['failed']} record={result}")
    for k, v in sorted(r["end_to_end"].items()):
        print(f"e2e   {k:32s} {v} {units[k]}")
    for k, v in sorted(r["per_layer"].items()):
        print(f"layer {k:32s} {v} {units[k]}")
    for k, v in sorted(d["warmup_trend"].items()):
        if v is not None:  # needs two or more measured ops
            print(f"trend {k:32s} {v} s")
    print(f"diag  {'steal_s':32s} {d['steal_s']} s")
    for p in d["problems"]:
        print(f"problem {p}")
    print(json.dumps({"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except Exception as e:  # no result line on any failure
        print(f"opsbench: {e!r}", file=sys.stderr)
        sys.exit(1)
