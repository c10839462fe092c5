#!/usr/bin/env python3
"""Steadiness check: run every workload of BENCHMARK.json once per seed and
report, per end-to-end metric, the median and the quartile spread
(Q3 - Q1) / median of the values, as statistics.quantiles(values, n=4)
gives them, against the metric's bound.

    python3 opsbench/spread.py --seeds 1-10 --out opsbench/results/set-a.json
    python3 opsbench/spread.py --compare opsbench/results/set-a.json opsbench/results/set-b.json
    python3 opsbench/spread.py --curve 10 --seeds 1 --out opsbench/results/warmup-curve.json
    python3 opsbench/spread.py --history 32,96 --seeds 1-3 --out opsbench/results/history-sizes.json
    python3 opsbench/spread.py --traced daily_sync,invoice_month,weekly_resync --seeds 5 --repeat 2 \
        --out opsbench/results/traced.json

Run from the repository root. --compare prints, per metric, how far the
second set's median moved from the first's, against the bound. --curve N
runs each workload of BENCHMARK.json for N ops after its cold first op and
records every op's wall time, CPU and JIT time: the warm-up curve that the
runs' WARMUP and MIN_OPS settings sample. --history D1,D2 seeds a store of
each number of history days and runs daily_sync on it as run.py does,
recording every op's wall time: how the op grows with the stored history.
The next run.py run seeds the store of the usual size again. --traced runs
the named workloads with --trace 1, --repeat times per seed, and keeps each
run's per-layer metrics and record.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_set(args):
    bench = json.loads(Path("BENCHMARK.json").read_text())
    rows = {}
    for w in [x["name"] for x in bench["workloads"]]:
        for s in seeds(args.seeds):
            p = subprocess.run([sys.executable, "-B", "opsbench/run.py", "--workload", w, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               capture_output=True, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.returncode == 0 else "{}"
            r = json.loads(line)
            record = json.loads(Path(f".bench_build/opsbench/runs/{w}-s{s}-t0.json").read_text())
            rows.setdefault(w, []).append({
                "seed": s, "correct": r.get("correct"), "attempted": r.get("attempted"),
                "failed": r.get("failed"),
                "metrics": {k: v["value"] for k, v in r.get("metrics", {}).items()},
                "ops_wall_s": [o["wall_s"] for o in record["detail"]["ops"]],
                "cpu_probe_ms": record["detail"]["cpu_probe_ms"],
                "setup_parts_s": record["detail"]["setup_parts_s"],
                "steal_s": record["detail"]["steal_s"],
                "run_s": record["detail"]["run_s"]})
            print(w, s, r.get("correct"), {k: round(v["value"], 3) for k, v in r.get("metrics", {}).items()},
                  flush=True)
    out = {"runs": rows, "summary": summarize(bench, rows)}
    Path(args.out).write_text(json.dumps(out, indent=1) + "\n")
    report(out["summary"])


def summarize(bench, rows):
    summary = {}
    for w, rs in rows.items():
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]] for r in rs if m["name"] in r["metrics"]]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary[f"{w}/{m['name']}"] = {"median": statistics.median(vals), "spread": (q3 - q1) / med,
                                          "bound": m["bound"], "n": len(vals)}
        summary[f"{w}/run_s"] = {"median": statistics.median(r["run_s"] for r in rs),
                                 "max": max(r["run_s"] for r in rs)}
        summary[f"{w}/correct"] = all(r["correct"] for r in rs)
    return summary


def report(summary):
    for k, v in summary.items():
        if isinstance(v, dict) and "spread" in v:
            flag = "ok" if v["spread"] <= v["bound"] / 3 else ("WIDE" if v["spread"] <= v["bound"] else "FAIL")
            print(f"{k:36s} median {v['median']:10.4f}  spread {v['spread']:.4f}  bound {v['bound']}  {flag}")
        else:
            print(f"{k:36s} {v}")


def curve(args):
    sys.path.insert(0, "opsbench")
    import build
    import shutil
    bench = json.loads(Path("BENCHMARK.json").read_text())
    classes = build.build()
    snapshot = build.seeded_store(classes)
    out = {}
    for w in [x["name"] for x in bench["workloads"]]:
        for s in seeds(args.seeds):
            work = build.build_root() / "work-curve"
            result = build.build_root() / "runs" / f"{w}-s{s}-curve.json"
            cmd, env = build.java(classes, work, [
                "--workload", w, "--seed", str(s), "--seconds", "0", "--trace", "0",
                "--snapshot", str(snapshot), "--result", str(result),
                "--warmup", "1", "--min-ops", str(args.curve)])
            subprocess.run(cmd, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True)
            shutil.rmtree(work, ignore_errors=True)
            d = json.loads(result.read_text())["detail"]
            ops = [{k: o[k] for k in ("wall_s", "cpu_s", "jit_s", "codegen_compiles")} for o in d["ops"]]
            out[f"{w}/seed{s}"] = {"ops": ops, "cpu_probe_ms": d["cpu_probe_ms"]}
            print(w, s, [round(o["wall_s"], 2) for o in ops], flush=True)
    Path(args.out).write_text(json.dumps(out, indent=1) + "\n")


def history(args):
    sys.path.insert(0, "opsbench")
    import build
    import run
    import shutil
    classes = build.build()
    out = {}
    for days in [int(d) for d in args.history.split(",")]:
        build.SIZES["days"] = days
        snapshot = build.seeded_store(classes)
        for s in seeds(args.seeds):
            work = build.build_root() / "work-history"
            result = build.build_root() / "runs" / f"daily_sync-s{s}-h{days}.json"
            cmd, env = build.java(classes, work, [
                "--workload", "daily_sync", "--seed", str(s), "--seconds", "0", "--trace", "0",
                "--snapshot", str(snapshot), "--result", str(result),
                "--warmup", str(run.WARMUP["daily_sync"]), "--min-ops", str(run.MIN_OPS["daily_sync"])])
            subprocess.run(cmd, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True)
            shutil.rmtree(work, ignore_errors=True)
            r = json.loads(result.read_text())
            d = r["detail"]
            out[f"days{days}/seed{s}"] = {
                "correct": r["correct"], "orders_in_store": d["sizes"]["orders_in_store"],
                "op_p50_s": r["end_to_end"]["op_p50_s"], "ops_wall_s": [o["wall_s"] for o in d["ops"]],
                "store_kb_per_order": r["end_to_end"]["store_kb_per_order"]}
            print(days, s, r["correct"], [round(o["wall_s"], 2) for o in d["ops"]], flush=True)
    Path(args.out).write_text(json.dumps(out, indent=1) + "\n")


def traced(args):
    bench = json.loads(Path("BENCHMARK.json").read_text())
    out = {}
    for w in args.traced.split(","):
        for s in seeds(args.seeds):
            for i in range(1, args.repeat + 1):
                p = subprocess.run([sys.executable, "-B", "opsbench/run.py", "--workload", w, "--seed", str(s),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "1"],
                                   capture_output=True, text=True)
                r = json.loads(Path(f".bench_build/opsbench/runs/{w}-s{s}-t1.json").read_text())
                d = r["detail"]
                out[f"{w}/seed{s}/run{i}"] = dict(
                    {k: r[k] for k in ("correct", "attempted", "failed", "per_layer", "end_to_end")},
                    **{k: d[k] for k in ("problems", "csv", "sizes", "ops", "warmup_trend")})
                print(w, s, i, p.returncode, r["correct"], flush=True)
    Path(args.out).write_text(json.dumps(out, indent=1) + "\n")


def compare(a, b):
    sa, sb = (json.loads(Path(p).read_text())["summary"] for p in (a, b))
    for k, v in sa.items():
        if isinstance(v, dict) and "spread" in v and k in sb:
            drift = (sb[k]["median"] - v["median"]) / v["median"]
            flag = "ok" if drift <= v["bound"] else "FAIL"
            print(f"{k:36s} {v['median']:10.4f} -> {sb[k]['median']:10.4f}  drift {drift:+.4f}  "
                  f"bound {v['bound']}  {flag}")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    ap.add_argument("--curve", type=int)
    ap.add_argument("--history")
    ap.add_argument("--traced")
    ap.add_argument("--repeat", type=int, default=1)
    a = ap.parse_args()
    if a.compare:
        compare(*a.compare)
    elif a.curve:
        curve(a)
    elif a.history:
        history(a)
    elif a.traced:
        traced(a)
    else:
        run_set(a)
