#!/usr/bin/env python3
"""Self-test of the benchmark, on tiny inputs (the sf 0.001 tables).

For every workload it checks that
  - an untraced run prints every end_to_end metric of BENCHMARK.json with its
    unit, every value a positive number, and reports itself correct;
  - a traced run prints every per_layer metric with its unit, and the layers
    the workload calls read non-zero;
  - a run with one output deliberately corrupted reports correct=false and at
    least one failed operation;
and, on curation_pipeline, that the kept documents grow with the number of
corpus tiles while the kept ratio stays within 5%.

Usage: python3 perfbench/selftest.py   (from the root of the repository; ~6 min)
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# per workload: per_layer metrics that must be non-zero in its traced run
CALLED = {
    "profile_service": ["spark.jobs", "serve.profile_small.c1_p50_ms", "serve.upload.p50_ms",
                        "io.upload_parse_s", "io.quarantined_rows", "engine.analyze_s.profile_large",
                        "stats.statspass_jobs.upload", "pattern.cascade_ms.profile_small"],
    "curation_pipeline": ["spark.jobs", "dedup.clusters_s", "curation.decontaminate_s", "text.pack_s",
                          "io.write_bytes", "curation.kept_ratio", "stats.mad_lineitem.jobs",
                          "vault.fk_candidates.s", "entry.cached_bytes"],
}


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=400)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []

    def expect(ok, msg):
        print(("ok   " if ok else "FAIL ") + msg)
        if not ok:
            problems.append(msg)

    for w in (x["name"] for x in spec["workloads"]):
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            r = run(w, trace)
            expect(set(r) == {"correct", "attempted", "failed", "metrics"}, f"{w}/{trace}: result keys")
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, f"{w}/{trace}: correct")
            for m in names:
                got = r["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], (int, float)),
                       f"{w}/{trace}: {m['name']} [{m['unit']}] emitted")
                if got is not None and (trace == 0 or m["name"] in CALLED[w]):
                    expect(got["value"] > 0, f"{w}/{trace}: {m['name']} > 0 ({got['value']})")
        r = run(w, 1, "--corrupt")
        expect(not r["correct"] and r["failed"] >= 1,
               f"{w}: a corrupted output is caught ({r['failed']} of {r['attempted']} failed)")

    kept = {k: run("curation_pipeline", 1, "--tiles", str(k))["metrics"]["curation.kept_ratio"]["value"]
            for k in (1, 3)}
    expect(abs(kept[3] - kept[1]) <= 0.05 * kept[1],
           f"curation: kept ratio at 3 tiles {kept[3]:.4f} within 5% of 1 tile {kept[1]:.4f}")
    print("SELFTEST " + ("PASSED" if not problems else f"FAILED ({len(problems)})"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
