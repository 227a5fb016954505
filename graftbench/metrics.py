"""Metric definitions and their derivation from a run's raw measurements.

The JVM side (graftbench.Main) records one row per op execution; this
module turns those rows into the end-to-end metrics (untraced run) and the
per-layer metrics (traced run). Every timing summary is a median; pass 1
is the cold pass, the workload's warm-up passes follow unmeasured, and
every later pass is a measured warm pass.
"""
import math
import statistics

WORKLOADS = ("dag_depth", "query_mix")

# query_mix members; run.py hands them to graftbench.Main
MEMBERS = (
    "cb_reduce_all", "cb_groupby_chained",
    "q21_suppliers_kept_waiting",
    "q_text_embed_neardup", "q_text_widthfold",
    "q_dedup_minhash",
    "q_avro_nested",
    "q_stream_curation",
    "q_approx_distinct",
)

END_TO_END = (
    ("setup_s", "s"),
    ("cold_pass_s", "s"),
    ("pass_s", "s"),
    ("op_geomean_s", "s"),
)

_EXEC = (
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.failed_tasks", "count"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.gc_s", "s"), ("exec.busy_frac", "ratio"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.peak_exec_mem_bytes", "bytes"),
)

PER_LAYER = (
    ("core.build_s", "s"), ("core.result_s", "s"), ("core.build_jobs", "count"),
    ("core.plan_nodes", "count"), ("core.plan_joins", "count"),
    ("query.build_s", "s"), ("query.build_jobs", "count"), ("query.action_s", "s"),
) + tuple(
    (f"q.{m}.{k}", u) for m in MEMBERS
    for k, u in (("build_s", "s"), ("action_s", "s"), ("build_jobs", "count"))
) + (
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("codegen.compile_s", "s"), ("codegen.compiles", "count"),
) + _EXEC + (
    ("trace.pass_s", "s"), ("trace.reconciled_frac", "ratio"),
)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """(q1, q3) as statistics.quantiles(n=4) gives them; a single sample is
    its own quartiles."""
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def passes(ops):
    """{pass number: [op rows]}"""
    out = {}
    for o in ops:
        out.setdefault(o["pass"], []).append(o)
    return out


def warm_passes(raw):
    """Op rows of each measured warm pass: every pass after the first
    `unmeasured_passes` (the cold pass and the workload's warm-up)."""
    return [rows for p, rows in sorted(passes(raw["ops"]).items())
            if p > raw["unmeasured_passes"]]


def failures(raw, oracle_wrong):
    """(attempted, failed): an op execution fails when it threw, or when
    its output was wrong on the checked (cold) pass or in the oracle
    replay. A wrong output fails every execution of that op."""
    wrong = {o["id"] for o in raw["ops"] if o.get("wrong")} | set(oracle_wrong)
    failed = sum(1 for o in raw["ops"] if o.get("error") or o["id"] in wrong)
    return len(raw["ops"]), failed


def end_to_end(raw):
    """{name: value} of every END_TO_END metric, plus a detail dict.

    pass_s is the median warm pass taken op by op: the sum over ops of each
    op's median warm wall, so that a stall in one op of one pass does not
    move it. The quartiles and count of the whole-pass sums go in the
    detail."""
    warm = [sum(o["wall_s"] for o in rows) for rows in warm_passes(raw)]
    per_op = {}
    for rows in warm_passes(raw):
        for o in rows:
            per_op.setdefault(o["id"], []).append(o["wall_s"])
    op_median = {k: median(v) for k, v in sorted(per_op.items())}
    values = {
        "setup_s": raw["jvm_start_s"] + raw["setup_s"],
        "cold_pass_s": sum(o["wall_s"] for o in passes(raw["ops"])[1]),
        "pass_s": sum(op_median.values()),
        "op_geomean_s": geomean(list(op_median.values())),
    }
    q1, q3 = quartiles(warm)
    detail = {"pass_sum_median_s": median(warm), "pass_sum_q1_s": q1, "pass_sum_q3_s": q3,
              "warm_passes": len(warm),
              "jvm_start_s": raw["jvm_start_s"], "heap_peak_mb": raw["heap_peak_mb"],
              "op_median_s": op_median}
    return values, detail


def _pass_layers(rows, cores):
    """Per-layer sums over one pass's op rows."""
    def s(key, layer=None):
        return sum((o.get(key, 0.0) for o in rows if layer is None or o["layer"] == layer), 0.0)
    wall = s("wall_s")
    v = {
        "core.build_s": s("build_s", "core"),
        "core.result_s": s("result_s", "core"),
        "core.build_jobs": s("jobs_build", "core"),
        "core.plan_nodes": s("plan_nodes", "core"),
        "core.plan_joins": s("plan_joins", "core"),
        "query.build_s": s("build_s", "query"),
        "query.build_jobs": s("jobs_build", "query"),
        "query.action_s": s("action_s", "query"),
        "catalyst.analysis_s": s("catalyst_analysis"),
        "catalyst.optimization_s": s("catalyst_optimization"),
        "catalyst.planning_s": s("catalyst_planning"),
        "exec.jobs": s("jobs_build") + s("jobs_action"),
        "exec.busy_frac": s("task_run_s") / (wall * cores) if wall else 0.0,
        "exec.peak_exec_mem_bytes": max((o.get("peak_exec_mem_bytes", 0.0) for o in rows),
                                        default=0.0),
        "trace.pass_s": wall,
        "trace.reconciled_frac":
            (s("build_s") + s("result_s") + s("action_s")) / wall if wall else 0.0,
    }
    for k in ("stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        v["exec." + k] = s(k)
    for o in rows:
        if o["layer"] == "query":
            v[f"q.{o['id']}.build_s"] = o["build_s"]
            v[f"q.{o['id']}.action_s"] = o["action_s"]
            v[f"q.{o['id']}.build_jobs"] = o.get("jobs_build", 0.0)
    return v


def per_layer(raw):
    """{name: value} of every PER_LAYER metric: the median over warm passes
    of each per-pass sum, except codegen, which is the cold pass's (warm
    passes hit the compile cache). Layers a workload does not exercise
    read 0."""
    warm = [_pass_layers(rows, raw["cores"]) for rows in warm_passes(raw)]
    cold = passes(raw["ops"])[1]
    values = {}
    for name, _ in PER_LAYER:
        values[name] = median([w.get(name, 0.0) for w in warm])
    values["codegen.compile_s"] = sum(o.get("codegen_compile_s", 0.0) for o in cold)
    values["codegen.compiles"] = sum(o.get("codegen_compiles", 0.0) for o in cold)
    return values


def ladder_table(raw):
    """Rows (k, plan_nodes, plan_joins, median build/result/action/optimization
    seconds) for every ladder op: planning cost against ladder depth."""
    rows = {}
    for o in raw["ops"]:
        if o["id"].startswith("ladder_k") and o["pass"] > raw["unmeasured_passes"]:
            rows.setdefault(int(o["id"][len("ladder_k"):]), []).append(o)
    return [{
        "k": k,
        "plan_nodes": median([o.get("plan_nodes", 0.0) for o in os_]),
        "plan_joins": median([o.get("plan_joins", 0.0) for o in os_]),
        "build_s": median([o["build_s"] for o in os_]),
        "result_s": median([o["result_s"] for o in os_]),
        "action_s": median([o["action_s"] for o in os_]),
        "optimization_s": median([o.get("catalyst_optimization", 0.0) for o in os_]),
    } for k, os_ in sorted(rows.items())]
