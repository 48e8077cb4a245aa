#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of the repository. It builds the program from source
(`perfbench/build.py`, cached under `.bench_build/`), generates the inputs
(`perfbench/gen.py`: fixed base tables once per checkout, the seed's corpus
transform per run; generation is outside every metric), runs the workload in
one JVM at `local[<cpus>]` (`graft.perfbench.PerfBench`), checks every
operation's output, and prints each metric with its unit. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With `--trace 0` the metrics are the `end_to_end` metrics of
BENCHMARK.json, with `--trace 1` the `per_layer` metrics (a layer the
workload does not call reads 0). perfbench/README.md describes the workloads.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# report_queries: producers before consumers (Bench's ProducerFirst rule)
REPORT_QUERIES = {
    "stats": ["mad_lineitem", "group_quantiles_lineitem", "corr_lineitem", "winsorized_lineitem"],
    "olap": ["revenue_nation", "revenue_share_nation", "top_customers", "top_customers_nation"],
    "analytics": ["funnel_events", "sessions_events", "pagerank_events", "pagerank_users"],
    "similarity": ["ivf_centroids_embeddings", "ivf_assign_embeddings", "pq_codebooks_embeddings",
                   "ivfpq_topk_embeddings"],
    "vault": ["fk_candidates", "dv_ddl_customer"],
}
BASE_SEED = 42
PROFILE_SMALL = [("sf0.01", "customer"), ("sf0.01", "orders"), ("sf0.01", "documents"),
                 ("sf0.1", "supplier")]
PROFILE_LARGE = [("sf0.01", "lineitem"), ("sf0.05", "orders")]
CURATION_BASE = "sf0.05"
CURATION_TILES = 2
CLIENTS = 2
JVM_TIMEOUT_S = 160


def base_tables(root):
    """The fixed base tables (seed BASE_SEED) at sf 0.001, 0.01, 0.05 and 0.1,
    generated once per checkout; returns ({sf name: directory}, generator hash)."""
    dirs = {}
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()[:16]
    for sf in ("0.001", "0.01", "0.05", "0.1"):
        d = dirs[f"sf{sf}"] = os.path.join(root, f"sf{sf}")
        ok = os.path.join(d, f".gen-{stamp}")
        if not os.path.exists(ok):
            shutil.rmtree(d, ignore_errors=True)
            gen.tables(d, float(sf), BASE_SEED)
            open(ok, "w").close()
    return dirs, stamp


def plan_for(workload, seed, tiles, data, work, refs, tiny=False):
    """The workload's plan fields; generates its per-seed inputs under `work`.
    `tiny` (the self-test) reads every table at sf 0.001."""
    if tiny:
        data = {k: data["sf0.001"] for k in data}
    if workload == "profile_service":
        p = lambda sf, t: os.path.join(data[sf], f"{t}.parquet")  # noqa: E731
        return {
            "dirs": sorted(set(data.values())),
            "small": [p(sf, t) for sf, t in PROFILE_SMALL],
            "large": [p(sf, t) for sf, t in PROFILE_LARGE],
            "warm": [p("sf0.001", "nation")],
            "clients": CLIENTS,
            "upload_bytes": 64 << 10 if tiny else 1 << 20,
            "refs": refs + ("-tiny" if tiny else "") + ".json",
        }
    if workload == "curation_pipeline":
        corpus = os.path.join(work, "corpus")
        n = gen.corpus(data[CURATION_BASE], corpus, tiles, seed)
        return {"base": data[CURATION_BASE], "corpus": corpus, "warm": data["sf0.001"],
                "n_docs": n, "stride": n // tiles, "report_dir": data["sf0.01"],
                "queries": [q for qs in REPORT_QUERIES.values() for q in qs],
                "layers": {q: layer for layer, qs in REPORT_QUERIES.items() for q in qs}}
    raise SystemExit(f"unknown workload {workload!r}; see BENCHMARK.json")


def java_cmd(classpath, plan_path):
    # a fixed heap (-Xms = -Xmx) keeps peak RSS from following GC timing
    tmp = os.path.join(os.path.dirname(plan_path), "tmp")
    return (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={tmp}"] + build.ADD_OPENS
            + ["-cp", classpath, "graft.perfbench.PerfBench", plan_path])


def run_jvm(cmd, log_path):
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_AI_")}
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s; log: {log_path}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiles", type=int, default=CURATION_TILES,
                    help="curation_pipeline corpus size in tiles of the base corpus")
    ap.add_argument("--tiny", action="store_true", help="self-test only: every input at sf 0.001")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test only: corrupt one checked output; the run must report it")
    a = ap.parse_args(argv)

    spec_path = os.path.join(HERE, "..", "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {a.workload!r}; see BENCHMARK.json")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classpath, build_hash = build.build(".")
    work = os.path.abspath(os.path.join(".bench_build", "runs", f"{a.workload}-{a.seed}-{a.trace}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data_root = os.path.abspath(os.path.join(".bench_build", "data"))
    data, gen_hash = base_tables(data_root)
    # reference profiles: computed by the first run of a build on these tables, reused after
    refs = os.path.join(data_root, f"refs-{build_hash[:12]}-{gen_hash[:12]}")
    plan = plan_for(a.workload, a.seed, a.tiles, data, work, refs, a.tiny)
    plan.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=bool(a.trace),
                cpus=len(os.sched_getaffinity(0)), work=work, out=os.path.join(work, "result.json"),
                corrupt=a.corrupt)
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f, indent=1)

    rc = run_jvm(java_cmd(classpath, plan_path), os.path.join(work, "jvm.log"))
    if rc != 0 or not os.path.exists(plan["out"]):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    with open(plan["out"]) as f:
        res = json.load(f)
    notes = res["notes"]

    if os.path.isdir(os.path.join(work, "oracle")):
        bad = oracle.compare(plan["report_dir"], os.path.join(work, "oracle"))
        if bad:
            res["failed"] += 1  # the report pass
            notes.append(f"DuckDB oracle mismatch: {', '.join(bad)}")

    if a.trace:
        res["metrics"]["trace.op_p50_ms"] = res["metrics"]["op_p50_ms"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None:
            if not a.trace:
                raise SystemExit(f"end-to-end metric {m['name']} was not measured")
            got = {"value": 0, "unit": m["unit"]}  # a layer this workload does not call
        if got["unit"] != m["unit"]:
            raise SystemExit(f"{m['name']}: unit {got['unit']} != {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    attempted, failed = int(res["attempted"]), int(res["failed"])
    for n in notes:
        print(f"FAIL {n}")
    for k, v in metrics.items():
        print(f"{k:48s} {v['value']:>16.6g} {v['unit']}")
    print(f"{'error_rate':48s} {failed / max(attempted, 1):>16.6g} ratio "
          f"({failed} of {attempted} operations)")
    for scratch in ("corpus", "pipeline_out", "pipeline_out_warm", "spark-local", "tmp", "uploads"):
        shutil.rmtree(os.path.join(work, scratch), ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
