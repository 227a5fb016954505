#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload per run.

Usage:
  python3 graftbench/run.py --workload {dag_depth,query_mix}
      --seed N --seconds S --trace {0,1} [--tables DIR]

Builds the engine and the harness from source (graftbench/build.py), runs
graftbench.Main in one JVM (local[nproc]), checks every op's output, and
prints as its last stdout line one JSON object: {"correct", "attempted",
"failed", "metrics"}. --trace 0 reports the end-to-end metrics, --trace 1
the per-layer metrics of a separate traced run. The raw measurements,
the spans of a traced run and the derived metrics are kept in
.bench_build/graftbench/out/. See graftbench/README.md.

--tables DIR (query_mix only) reads existing tables instead of generating
them, with no time limit on the JVM. It exists to compare the generated
tables' traffic with a full scale factor's; such a run reads outside the
checkout and is no benchmark run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--tables", help="read the query_mix tables from DIR")
    a = p.parse_args(argv)
    if a.seconds < 1:
        p.error("--seconds must be at least 1")
    if a.tables is not None:
        if a.workload != "query_mix":
            p.error("--tables applies to query_mix only")
        a.tables = os.path.abspath(a.tables)
    return a


def cpu_jiffies():
    """(steal, total) CPU time from /proc/stat, or None where there is none.
    Steal is time the host gave this machine's CPUs to other guests; it
    slows every op of a run alike."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return v[7], sum(v)


def run_jvm(classpath, args, work, raw_path):
    """Runs graftbench.Main; returns its exit code. The JVM's own output
    goes to stderr, so stdout carries only this script's lines."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", classpath, "graftbench.Main", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), work, raw_path, args.tables or "-"]
           + (list(metrics.MEMBERS) if args.workload == "query_mix" else []))
    timeout = JVM_TIMEOUT_S if args.tables is None else None
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"[graftbench] JVM exceeded {timeout}s; killed", file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main(argv):
    # a SIGTERM unwinds through run_jvm's finally, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    args = parse_args(argv)
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        return 2
    out_dir = os.path.join(build.OUT, "out")
    os.makedirs(out_dir, exist_ok=True)
    work = os.path.join(build.OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw_path = os.path.join(work, "raw.json")
        cpu0 = cpu_jiffies()
        code = run_jvm(classpath, args, work, raw_path)
        cpu1 = cpu_jiffies()
        if code != 0 or not os.path.exists(raw_path):
            print(f"[graftbench] JVM failed (exit {code})", file=sys.stderr)
            return 1
        with open(raw_path) as f:
            raw = json.load(f)
        oracle_wrong = {}
        if args.workload == "query_mix":
            import oracle
            assert sorted({o["id"] for o in raw["ops"]}) == sorted(metrics.MEMBERS)
            oracle_wrong = oracle.check(args.tables or os.path.join(work, "data"),
                                        os.path.join(work, "out"), raw["oracle"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = metrics.failures(raw, oracle_wrong)
    for o in raw["ops"]:
        if o.get("error") or o.get("wrong"):
            print(f"FAILED {o['id']} pass {o['pass']}: {o.get('error') or o.get('wrong')}")
    for name, why in sorted(oracle_wrong.items()):
        print(f"WRONG {name}: {why}")
    e2e, detail = metrics.end_to_end(raw)
    steal = ((cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1)) if cpu0 and cpu1 else float("nan")
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "tables": args.tables, "host_steal_frac": steal,
               "cores": raw["cores"], "failed_frac": failed / attempted, **detail}
    print(f"{args.workload} seed={args.seed} cores={raw['cores']} "
          f"pass_s={e2e['pass_s']:.3f} whole passes: median {detail['pass_sum_median_s']:.3f} "
          f"[q1 {detail['pass_sum_q1_s']:.3f}, q3 {detail['pass_sum_q3_s']:.3f}, "
          f"n={detail['warm_passes']}] cold_pass_s={e2e['cold_pass_s']:.3f} "
          f"heap_peak_mb={raw['heap_peak_mb']:.0f} failed_frac={failed / attempted:.4f} "
          f"host_steal_frac={steal:.3f}")
    if args.trace:
        values, units = metrics.per_layer(raw), dict(metrics.PER_LAYER)
        summary["ladder"] = metrics.ladder_table(raw)
        for row in summary["ladder"]:
            print("ladder k={k}: plan_nodes={plan_nodes:.0f} plan_joins={plan_joins:.0f} "
                  "result_s={result_s:.3f} action_s={action_s:.3f} "
                  "optimization_s={optimization_s:.3f}".format(**row))
        if abs(values["trace.reconciled_frac"] - 1) > 0.10:
            print("WARNING build + result + action is not within 10% of the op walls")
    else:
        values, units = e2e, dict(metrics.END_TO_END)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-tables' if args.tables else ''}"
    with open(os.path.join(out_dir, name + ".json"), "w") as f:
        json.dump({"summary": summary, "metrics": values, "oracle_wrong": oracle_wrong,
                   "raw": raw}, f)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k, _ in
                    (metrics.PER_LAYER if args.trace else metrics.END_TO_END)},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
