#!/usr/bin/env python3
"""graft benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload athena_daily --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source (perfbench/build.py), generates
the seeded inputs under a per-run scratch directory, runs the workload in
one JVM (`graft.perfbench.Main`), checks every distinct result against the
DuckDB oracle or the generator's known answer, deletes the scratch
directory and prints, as the last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`). Earlier stdout lines
carry the host record, the workload's named metrics and the check report.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
from bench import gen, oracle, stats  # noqa: E402
from bench.layers import per_layer  # noqa: E402

SF = 0.01          # timed tables; see README.md for why not sf0.1
WARM_SF = 0.001    # warmup tables
SETUP_REPS = 3
NPROC = len(os.sched_getaffinity(0))  # what `nproc` reports
JVM_TIMEOUT_S = 150

CANONICAL = {
    "raw_count": "SELECT COUNT(*) AS record_count FROM data_pipeline_db.raw_data",
    "raw_sample": "SELECT name, email, address_city FROM data_pipeline_db.raw_data LIMIT 5",
    "raw_top": "SELECT address_city, COUNT(*) AS user_count FROM data_pipeline_db.raw_data "
               "GROUP BY address_city ORDER BY user_count DESC LIMIT 3",
}
# Relational inventory whose oracle SQL text runs on Spark; the others are
# listed with the reason in README.md.
RELATIONAL = (
    "q01_count q02_proj_filter_limit q03_group_topk q04_pricing_summary q05_expr_group "
    "q07_case_agg q08_minmax q09_having_dup q10_completeness q11_join_region "
    "q12_revenue_nation q13_semi_join q14_anti_join q15_window_top q16_distinct "
    "q17_top_orders q20_json_extract q35_computed_proj q36_geo_group q37_date_buckets "
    "q42_approx_distinct q103_window_family q104_set_ops q243_exists_subquery "
    "q244_in_subquery q245_scalar_subquery").split()
# Daily cycles; cycle_s is their median. The first cycle runs the extract
# and crawl code cold and is the slowest.
CYCLES = 5
# Records per extraction: the generator's sf-scaled user count (150 at
# sf0.01), from which the events table also draws its user ids. The
# reference's fixed corpus is 10 users; see README.md.
USERS_PER_CYCLE = gen.sizes(SF)["users"]
CLIENTS = 2
# Warm passes per curation cycle. The tail rule needs 21 samples to rise
# above the median, which would take 4 passes of the 6 LLM queries, about
# 10 s more per run than the evaluation's time budget allows; with 2
# passes (12 samples) tail_ms equals p50_ms on curation_llm (README.md).
WARM_PASSES = 2

LLM_FAMILY = {
    "q24_dedup_exact": "dedup", "q26_ngram_jaccard": "dedup",
    "q29_cosine_topk": "similarity",
    "q43_ann_ivf": "pq",
    "q70_bm25": "retrieval",
    "q21_text_stats": "text",
}
BUILDS = ("token_stage", "shingle_sigs", "ivf_centroids_serving")
TVFS = (
    {"name": "near_dup_pairs", "sql": "SELECT * FROM near_dup_pairs(0.6)",
     "oracle": "q26_ngram_jaccard"},
)
DRAINS = ("q145_stream_heavy_hitters",)
PROVIDERS = ("hdfs", "rocksdb")

# The ops whose latency p50_ms and tail_ms summarise: lifecycle queries, and
# LLM queries called directly on a copy whose artifacts are built. Cold
# calls, one of each per cycle, count in cycle_s and llm_cold_s; cache-hit
# builds take milliseconds and are reported per layer.
PRIMARY = {"athena_daily": ("sql",),
           "curation_llm": ("warm",)}
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_steal():
    """(steal, total) CPU jiffies since boot: steal is time the hypervisor
    gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def host_record():
    best = None
    for _ in range(3):
        xs = list(range(200_000))
        random.Random(7).shuffle(xs)
        t0 = time.perf_counter()
        xs.sort()
        best = min(best or 1e9, time.perf_counter() - t0)
    return {"nproc": NPROC, "loadavg": loadavg(), "calib_ms": round(best * 1e3, 3)}


def make_plan(args, work, data, warm):
    plan = {"workload": args.workload, "seconds": args.seconds, "trace": bool(args.trace),
            "cores": NPROC, "setup_reps": SETUP_REPS, "data_dir": data,
            "warm_dir": warm, "work_dir": work}
    known = None
    if args.workload == "athena_daily":
        bodies, known = gen.users_bodies(args.seed, CYCLES, USERS_PER_CYCLE)
        paths = []
        for i, b in enumerate(bodies):
            p = os.path.join(work, f"users-{i}.json")
            with open(p, "w") as f:
                f.write(b)
            paths.append(p)
        ids = sorted(CANONICAL) + RELATIONAL
        order = gen.orders_for(args.seed, "sql", ids, len(ids))
        plan["athena"] = {
            "bodies": paths, "canonical": CANONICAL,
            "relational": RELATIONAL, "warm_queries": ["q12_revenue_nation"],
            "clients": [order[i::CLIENTS] for i in range(CLIENTS)]}
    else:
        pairs = [(d, p) for d in DRAINS for p in PROVIDERS]
        plan["curation"] = {
            "builds": list(BUILDS), "queries": list(LLM_FAMILY), "family": LLM_FAMILY,
            "tvfs": list(TVFS), "warm_passes": WARM_PASSES, "warm_builds": ["shingle_sigs"],
            "warm_queries": ["q29_cosine_topk"], "warm_drains": ["q48_stream_dedup"],
            "copies": [gen.copy_name(args.seed, c) for c in range(50)],
            "drains": gen.orders_for(args.seed, "drains", pairs, len(pairs))}
    return plan, known


def run_jvm(plan, work, classpath):
    plan_path, result_path = os.path.join(work, "plan.json"), os.path.join(work, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + JAVA_OPENS + ["-cp", classpath, "graft.perfbench.Main", plan_path, result_path])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")
    with open(result_path) as f:
        return json.load(f)


def run_checks(res, known, data):
    """Every distinct result against its oracle; returns failure lines."""
    orc = oracle.Oracle(data)
    failures = []
    for c in res["checks"]:
        name, path = c["name"], c["path"]
        if c["kind"] == "curation":
            err = oracle.check_curation(orc, path)
        elif "oracle" in c:
            err = orc.compare(path, res["oracles"][c["oracle"]])
        elif c["kind"] == "sql":
            cols, rows = orc.spark_rows(path)
            err = oracle.check_raw(name, cols, rows, known)
        else:
            err = f"no check for {name}"
        if err is None and "rows" in c and int(c["rows"]) != orc.row_count(path):
            err = f"page walk saw {c['rows']} rows, artifact has {orc.row_count(path)}"
        if err:
            failures.append(f"{c['kind']} {name}: {err}")
    return failures, len(res["checks"])


def ops_of(res, kinds):
    return [o for o in res["ops"] if o["kind"] in kinds]


def e2e_metrics(res, workload):
    prim = [o for o in ops_of(res, PRIMARY[workload]) if o["ok"]]
    if not prim:
        raise SystemExit("no operation succeeded")
    lat = [o["ms"] for o in prim]
    t_val, t_pct, t_beyond, n = stats.tail(lat)
    # closed-loop throughput: each client's completed ops over its own
    # window, summed over clients (athena's write phase is not a client)
    rate = 0.0
    clients = {}
    for o in res["ops"]:
        if o["ok"] and o["kind"] not in ("cycle", "extract", "crawl"):
            clients.setdefault(o.get("client", 0), []).append(o)
    for ops in clients.values():
        window = max(o["start_ms"] + o["ms"] for o in ops) - min(o["start_ms"] for o in ops)
        rate += len(ops) / (window / 1e3)
    if workload == "athena_daily":
        per_cycle = {}
        for o in ops_of(res, ("extract", "crawl")):
            per_cycle[o["name"]] = per_cycle.get(o["name"], 0.0) + o["ms"]
        cycle_s = statistics.median(per_cycle.values()) / 1e3
    else:
        cycle_s = (statistics.median(o["ms"] for o in ops_of(res, ("cycle",)))
                   + sum(o["ms"] for o in ops_of(res, ("drain",)))) / 1e3
    metrics = {
        "setup_s": (statistics.median(s["total_ms"] for s in res["setup"]) / 1e3, "s"),
        "p50_ms": (stats.quantile(lat, 0.5), "ms"),
        "tail_ms": (t_val, "ms"),
        "ops_per_s": (rate, "1/s"),
        "cycle_s": (cycle_s, "s"),
        "heap_after_gc_mb": (max(res["heap_after_gc_mb"]), "MB"),
    }
    return metrics, {"tail_percentile": t_pct, "tail_beyond": t_beyond, "samples": n}


def named_metrics(res, workload, e2e, tail_info):
    """The workload's own metrics, printed beside the JSON result. On
    athena_daily the SQL latency and rate are the end-to-end ones."""
    def med(kind):
        v = [o["ms"] for o in ops_of(res, (kind,)) if o["ok"]]
        return statistics.median(v) if v else None
    out = {}
    if workload == "athena_daily":
        ex = [o for o in ops_of(res, ("extract",)) if o["ok"]]
        out["extract_rows_per_s"] = sum(o["rows"] for o in ex) / (sum(o["ms"] for o in ex) / 1e3)
        out["crawl_s"] = med("crawl") / 1e3
        out["sql_p50_ms"] = e2e["p50_ms"][0]
        out["sql_tail_ms"] = {"value": e2e["tail_ms"][0], "percentile": tail_info["tail_percentile"],
                              "samples": tail_info["samples"]}
        out["sql_qps"] = e2e["ops_per_s"][0]
    else:
        for kind in ("cold", "warm"):
            per_cycle = {}
            for o in ops_of(res, (kind, f"{kind}_build")):
                per_cycle.setdefault(o["name"], []).append(o["ms"])
            out[f"llm_{kind}_s"] = sum(statistics.median(v) for v in per_cycle.values()) / 1e3
        out["curation_s"] = med("curation") / 1e3
        for p in PROVIDERS:
            per = {}
            for o in ops_of(res, ("drain",)):
                if o["name"].endswith("@" + p):
                    per.setdefault(o["name"], []).append(o["ms"])
            out[f"drains_{p}_s"] = sum(statistics.median(v) for v in per.values()) / 1e3
    return out


def kind_totals(op_list):
    out = {}
    for o in op_list:
        out[o["kind"]] = round(out.get(o["kind"], 0.0) + o["ms"], 1)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and deletes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.classpath()
    host = host_record()
    steal0 = cpu_steal()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data, warm = os.path.join(work, "data"), os.path.join(work, "warm")
        t0 = time.perf_counter()
        gen.write_tables(args.seed, SF, data)
        gen.write_tables(args.seed + 1, WARM_SF, warm)
        plan, known = make_plan(args, work, data, warm)
        t1 = time.perf_counter()
        res = run_jvm(plan, work, classpath)
        t2 = time.perf_counter()
        failures, n_checks = run_checks(res, known, data)
        host["phases_s"] = {"generate": round(t1 - t0, 2), "jvm": round(t2 - t1, 2),
                            "check": round(time.perf_counter() - t2, 2),
                            "setup_reps": [round(s["total_ms"] / 1e3, 2) for s in res["setup"]],
                            "measured": round(res["measure_s"], 2)}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    host["loadavg_end"] = loadavg()
    steal1 = cpu_steal()
    host["steal_share"] = round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 3)

    op_list = [o for o in res["ops"] if o["kind"] != "cycle"]
    failures = [f"op {o['kind']} {o['name']}: {o['error']}" for o in op_list if not o["ok"]] \
        + failures
    attempted = len(op_list)
    failed = len(failures)
    e2e, tail_info = e2e_metrics(res, args.workload)
    log("host " + json.dumps(host))
    log("workload " + json.dumps({
        "workload": args.workload, "seed": args.seed, "sf": SF,
        "error_rate": failed / attempted, "failed": failed, "attempted": attempted,
        "checks": n_checks, **tail_info, **named_metrics(res, args.workload, e2e, tail_info),
        "ms_by_kind": kind_totals(op_list)}))
    for f in failures:
        log("FAILED " + f)
    if args.trace:
        metrics = per_layer(res, e2e, WARM_PASSES)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
