#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Builds the program and the benchmark's JVM runner from source (perfbench/build.py),
generates the seeded corpus (perfbench/gen.py), times the set-up in a
set-up-only JVM, runs the workload in a second (perfbench/src/graftbench),
checks every output against its reference, prints every metric by name
with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1 runs
with the span recorder on and reports the per-layer metrics, writes the span
file and the per-layer self-time report under .bench_build/results/, and
prints traced minus untraced for each end-to-end metric when an untraced
result of the same workload and seed is there. Workloads, metrics and what
each per-layer metric should move are described in perfbench/README.md.

Exit code 0 when every output was correct, 1 when a check failed, 2 when
the benchmark could not run (no program sources, build failure).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
RESULTS = os.path.join(build.BUILD, "results")

# Corpus scale per batch workload (1.0 = the sf0.1 corpus's row counts).
SCALE = {"llm_build": 0.1, "relational_exec": 0.1}
WORKLOADS = ("llm_build", "relational_exec", "stream_window")
# Cold set-ups per run, each in a fresh JVM (the measured JVM's own is the
# last); setup_s and core.session_start_s report their median. Each costs
# about 10 s, and a third no longer fits the measuring round's time.
SETUPS = 2
# All of a run's JVMs must end within this many seconds of the build.
JVM_BUDGET_S = 165


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def corpus_for(workload, seed):
    if workload not in SCALE:
        d = os.path.join(build.BUILD, "corpus", "none")
        os.makedirs(d, exist_ok=True)
        return d
    import gen
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(build.BUILD, "corpus", f"{SCALE[workload]}-{seed}-{version}")
    done = os.path.join(d, ".done")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed, SCALE[workload])
        open(done, "w").close()
    return d


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t)


def run_jvm(cp, args, work, deadline):
    """Run the benchmark JVM with `args`; the JVM's set-up time counts
    from just before it is launched."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        cmd = build.java_command(
            cp, work, args + ["--launched-ns", str(time.monotonic_ns())])
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None, log
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    return p.returncode, log


def layer_report(spans_path, out_path):
    """Per layer: span count, total time and self time (its spans' time
    minus the part their child spans cover)."""
    spans = [json.loads(l) for l in open(spans_path) if l.strip()]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    rows = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        if b < a:
            continue
        iv = sorted((max(a, c["start_ns"]), min(b, c["end_ns"]))
                    for c in kids.get(s["id"], []) if c["end_ns"] >= c["start_ns"])
        covered, end = 0, a
        for lo, hi in iv:
            lo = max(lo, end)
            if hi > lo:
                covered += hi - lo
                end = hi
        r = rows.setdefault(s["layer"], [0, 0.0, 0.0])
        r[0] += 1
        r[1] += (b - a) / 1e9
        r[2] += (b - a - covered) / 1e9
    with open(out_path, "w") as f:
        f.write(f"{'layer':<14}{'spans':>8}{'total_s':>12}{'self_s':>12}\n")
        for layer, (n, tot, self_s) in sorted(rows.items()):
            f.write(f"{layer:<14}{n:>8}{tot:>12.3f}{self_s:>12.3f}\n")
    return open(out_path).read()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    deadline = time.monotonic() + JVM_BUDGET_S

    corpus = corpus_for(a.workload, a.seed)
    tag = f"{a.workload}-{a.seed}-trace{a.trace}"
    work = os.path.join(build.BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(RESULTS, exist_ok=True)
    result = os.path.join(work, "result.json")
    try:
        ticks = cpu_ticks()
        args = ["--workload", a.workload, "--corpus", corpus, "--work", work,
                "--seconds", str(a.seconds), "--seed", str(a.seed),
                "--trace", str(a.trace), "--out", result]
        runs, walls = [], []
        for k in range(SETUPS):
            t0 = time.monotonic()
            code, log = run_jvm(cp, args + ["--measure", str(int(k == SETUPS - 1))],
                                work, deadline)
            if code != 0 or not os.path.exists(result):
                sys.stderr.write(open(log).read()[-6000:])
                fail("the benchmark JVM " + ("timed out" if code is None
                                            else f"exited with {code}"))
            res = json.load(open(result))
            os.remove(result)
            runs.append(res)
            walls.append(round(time.monotonic() - t0, 2))
        errors = [e for r in runs for e in r["errors"]]
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        metrics = res["metrics"]
        res["info"]["jvm_s"] = walls
        res["info"]["setups_s"] = [r["metrics"].get("setup_s", {}).get("value")
                                   for r in runs]
        for m in ("setup_s", "core.session_start_s"):
            vals = [r["metrics"][m]["value"] for r in runs
                    if r["metrics"].get(m, {}).get("value") is not None]
            if len(vals) == SETUPS:
                metrics[m]["value"] = statistics.median(vals)

        queries = res.get("info", {}).get("queries", [])
        if queries:
            import oracle
            t0 = time.monotonic()
            for q in queries:
                attempted += 1
                why = oracle.compare(corpus, os.path.join(work, "out"),
                                     q["name"], q["oracle"])
                if why:
                    failed += 1
                    errors.append(f"{q['name']}: result differs from its "
                                  f"DuckDB oracle: {why}")
            res["info"]["oracle_s"] = round(time.monotonic() - t0, 2)

        steal = [b - a for a, b in zip(ticks, cpu_ticks())]
        print(f"{'cpu_steal_share':<34}{steal[0] / max(1, steal[1]):>16.4f} "
              "ratio (hypervisor steal while the JVM ran)")
        for k, v in res.get("info", {}).items():
            if k != "queries":
                print(f"{k:<34}{json.dumps(v):>16}")
        for e in errors:
            print(f"ERROR {e}")
        print(f"{'error_rate':<34}{failed / max(1, attempted):>16.6f} ratio "
              f"({failed} of {attempted})")
        for k, v in metrics.items():
            val = "n/a" if v["value"] is None else f"{v['value']:.6g}"
            print(f"{k:<34}{val:>16} {v['unit']}")

        with open(os.path.join(RESULTS, f"{tag}.json"), "w") as f:
            json.dump(metrics, f)
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(RESULTS, f"{tag}-spans.jsonl"))
            print(layer_report(os.path.join(work, "spans.jsonl"),
                               os.path.join(RESULTS, f"{tag}-layers.txt")),
                  end="")
            base = os.path.join(RESULTS, f"{a.workload}-{a.seed}-trace0.json")
            if os.path.exists(base):
                untraced = json.load(open(base))
                for m in spec["end_to_end"]:
                    n = m["name"]
                    if metrics.get(n, {}).get("value") is not None and \
                            untraced.get(n, {}).get("value") is not None:
                        d = metrics[n]["value"] - untraced[n]["value"]
                        print(f"{'overhead.' + n:<34}{d:>16.6g} {m['unit']}")

        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        out = {}
        for m in wanted:
            v = metrics.get(m["name"], {}).get("value")
            if v is None and a.trace:
                v = 0.0  # the workload does not exercise this layer
            if v is not None:
                out[m["name"]] = {"value": v, "unit": m["unit"]}
        correct = failed == 0 and len(out) == len(wanted)
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": out}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
