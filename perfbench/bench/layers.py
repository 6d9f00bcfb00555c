"""Per-layer metrics of a traced run, from its spans and op records.

Layers are graft's modules. A metric of a layer the workload does not
exercise is reported as 0 (nothing of that layer ran)."""
import json
import os
import statistics

from . import stats

LAYERS = ("sources", "catalog", "exec", "core", "operators", "functions", "jobs", "streaming")
ENGINE = ("jobs", "tasks", "task_cpu_ms", "shuffle_bytes", "spill_bytes", "input_bytes")
FAMILIES = ("dedup", "similarity", "pq", "retrieval", "text")
PROVIDERS = ("hdfs", "rocksdb")


def _units():
    """Per-layer metric names and units, as `BENCHMARK.json` declares them."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", "BENCHMARK.json")
    with open(path) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


UNITS = _units()


def _med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def per_layer(res, e2e, warm_passes):
    # spans opened during set-up count only toward `core`
    spans = [s for s in res["spans"] if s["start_ms"] >= 0 or s["name"].startswith("core.")]
    dur = {s["id"]: s["end_ms"] - s["start_ms"] for s in spans}
    selfs = stats.self_times(spans)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def cnt(s, key):
        return s["counts"].get(key, 0.0)

    ok = [o for o in res["ops"] if o["ok"]]
    by_kind = {}
    for o in ok:
        by_kind.setdefault(o["kind"], []).append(o)
    m = {k: 0.0 for k in UNITS}

    ex = by_kind.get("extract", [])
    m["sources.extract_ms"] = _med(o["ms"] for o in ex)
    m["sources.parse_ms"] = _med(dur[s["id"]] for s in named("sources.parse"))
    crawls = by_kind.get("crawl", [])
    if crawls:
        rows = sum(o["rows"] for o in ex)
        m["sources.csv_bytes_per_row"] = _ratio(crawls[-1]["tree_bytes"], rows)
    m["catalog.crawl_ms"] = _med(o["ms"] for o in crawls)
    m["catalog.infer_ms"] = _med(dur[s["id"]] for s in named("catalog.infer"))
    m["catalog.msck_ms"] = _med(dur[s["id"]] for s in named("catalog.msck"))
    amps, prev = [], 0.0
    crawl_spans = sorted(named("catalog.crawl"), key=lambda s: s["start_ms"])
    for o, s in zip(sorted(crawls, key=lambda o: o["start_ms"]), crawl_spans):
        added = o["tree_bytes"] - prev
        prev = o["tree_bytes"]
        amps.append(_ratio(cnt(s, "input_bytes"), added))
    m["catalog.read_amp"] = _mean(amps)

    lc = by_kind.get("sql", []) + by_kind.get("tvf", [])
    for k in ("submit_ms", "wait_ms", "engine_ms", "fetch_ms"):
        m[f"exec.{k}"] = _med(o[k] for o in lc)
    m["exec.lifecycle_gap_ms"] = _med(o["wait_ms"] - o["engine_ms"] for o in lc)
    m["exec.pages"] = _mean(o["pages"] for o in lc)
    m["exec.rows"] = _mean(o["rows"] for o in lc)
    m["exec.artifact_bytes_per_result_byte"] = _ratio(
        sum(o["artifact_bytes"] for o in lc), sum(o["result_bytes"] for o in lc))

    # jobs under one lifecycle query (all its descendants) vs one direct run
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree_jobs(s):
        return cnt(s, "jobs") + sum(subtree_jobs(c) for c in children.get(s["id"], []))
    direct = {s["qid"]: cnt(s, "jobs") for s in named("operators.relational")}
    via = [(subtree_jobs(s), direct[s["qid"]]) for s in named("exec.query")
           if s["qid"] in direct]
    m["exec.job_amp"] = _ratio(sum(a for a, _ in via), sum(b for _, b in via))

    setup = res["setup"]
    m["core.session_ms"] = _med(s["session_ms"] for s in setup)
    m["core.views_ms"] = _med(s["views_ms"] for s in setup)
    m["core.warmup_ms"] = _med(s["warmup_ms"] for s in setup)
    m["core.materialize_ms"] = _med(dur[s["id"]] for s in named("core.materialize"))

    # per pass: one cold pass and `warm_passes` warm passes per cycle
    cycles = max(1, len(by_kind.get("curation", [])))
    passes = {"cold": cycles, "warm": cycles * warm_passes}
    m["operators.cache_build_ms"] = sum(
        o["ms"] for o in by_kind.get("cold_build", [])) / passes["cold"]
    m["operators.cache_hit_ms"] = sum(
        o["ms"] for o in by_kind.get("warm_build", [])) / passes["warm"]
    m["operators.cache_reuse"] = _ratio(m["operators.cache_hit_ms"], m["operators.cache_build_ms"])
    for f in FAMILIES:
        for kind in ("cold", "warm"):
            m[f"operators.{f}_{kind}_ms"] = sum(
                dur[s["id"]] for s in named(f"operators.{f}")
                if s["qid"].startswith(kind + "-")) / passes[kind]
    m["operators.relational_ms"] = sum(dur[s["id"]] for s in named("operators.relational"))
    m["functions.tvf_ms"] = sum(dur[s["id"]] for s in named("functions.tvf")) / cycles
    cur = by_kind.get("curation", [])
    m["jobs.curation_ms"] = _med(o["ms"] for o in cur)
    m["jobs.ledger_share"] = _ratio(m["core.materialize_ms"], m["jobs.curation_ms"])
    m["jobs.write_amp"] = _mean(_ratio(o["out_bytes"], o["doc_bytes"]) for o in cur)

    for p in PROVIDERS:
        ds = [s for s in named("streaming.drain") if s["qid"].endswith("@" + p)]
        if not ds:
            continue
        m[f"streaming.{p}.drain_ms"] = _med(dur[s["id"]] for s in ds)
        for k in ("batches", "batch_ms", "commit_ms", "state_rows", "state_mem_bytes"):
            m[f"streaming.{p}.{k}"] = _mean(cnt(s, k) for s in ds)
        m[f"streaming.{p}.floor_ms"] = _mean(dur[s["id"]] - cnt(s, "batch_ms") for s in ds)

    for s in spans:
        layer = s["name"].split(".")[0]
        if layer not in LAYERS:
            continue
        m[f"{layer}.self_ms"] += selfs[s["id"]]
        for k in ENGINE:
            m[f"{layer}.{k}"] += cnt(s, k)
    m["jvm.gc_ms"] = res["gc_ms"]
    for k in ("p50_ms", "ops_per_s", "cycle_s"):
        m[f"traced.{k}"] = e2e[k][0]
    return {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()}
