#!/usr/bin/env python3
"""Writes perfbench/expected/catalog.json: each catalog query's row count,
output hash and operator family on the committed fixture, plus the slice
of the catalog the `catalog` workload runs.

Usage, from the root of a checkout:

    python3 perfbench/record.py            # two JVMs, two passes each
    python3 perfbench/record.py a.jsonl b.jsonl   # merge earlier recordings

A query whose hash differs between any two passes (in one JVM or across
JVMs) is recorded with "hash": null and is checked by row count only.
Re-record only when the program's outputs are meant to change, and
cross-check the new outputs against the DuckDB oracle first
(`graft.Verify` then `tools/selfcheck.py` on the fixture).
"""
import collections
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (the build and JVM flags live there)

OUT = os.path.join(run.BENCH, "expected", "catalog.json")
FIXTURE = os.path.join(run.BENCH, "fixture", "sf0.001")

# The workload's slice: one query per operator family, plus a second
# relational and text query, chosen so that one warm pass takes about 8 s
# on 4 cores. It keeps the queries the benchmark's notes name: f8 (whose
# sigmoid a bare count() never computes), v2, x31 and m19 (whose count()
# time hides most of their output work), d45 (the corpus pipeline with its
# audit: corpus stages and the connected-components loop), a top-k
# similarity query and a stream drain.
SLICE = [
    "v2_dup_count", "f8_sigmoid",
    "x30_asof_last_order", "x31_attribution_window",
    "m19_segment_auc",
    "d5_quality_features", "d41_packed_sequences",
    "d11_session_counts", "d17_simhash_neardups", "d14_cosine_topk",
    "d45_pipeline_audit", "d51_stream_hourly",
]

# Operator family of a query: the first rule whose module the query's
# declaration in SparkEntry calls; x* queries are relational.
RULES = [
    ("streaming", ["StreamMonitor", "drainToBatch"]),
    ("corpus", ["Corpus"]),
    ("dedup", ["Dedup"]),
    ("similarity", ["Similarity"]),
    ("events", ["EventOps"]),
    ("text", ["TextOps", "Vocab", "QualityModel", "Multimodal"]),
    ("mlops", ["Metrics"]),
    ("relational", ["Relational", "RelationalExt", "Temporal"]),
    ("features", ["Features", "Preprocess", "Scale"]),
    ("validation", ["Validation", "Tables"]),
]
# d28 only reads a constant from Corpus; it is a near-duplicate detector
OVERRIDES = {"d28_winnow_neardups": "dedup"}


def families():
    src = open(os.path.join(run.ROOT, "src", "main", "scala", "graft",
                            "SparkEntry.scala")).read()
    body = src[src.index("def queries: Map[String, (SparkSession, String) => DataFrame]"):]
    parts = re.split(r'\n\s*"([a-z][0-9]+_[a-z0-9_]+)" ->', body)
    fam = {}
    for name, code in zip(parts[1::2], parts[2::2]):
        if name in fam:
            continue
        f = "relational" if name.startswith("x") else None
        for family, modules in RULES:
            if f is None and any(re.search(r"\b%s\b[.(]" % m, code) for m in modules):
                f = family
        fam[name] = OVERRIDES.get(name, f or {"v": "validation"}.get(name[0], "features"))
    return fam


def record(jvm_runs=2, passes=2):
    cp = run.build()
    work = os.path.join(run.BUILD, "record")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    outs = []
    for i in range(jvm_runs):
        cmd = (run.JAVA + [x for o in run.ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
               + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.RecordCatalog",
                  FIXTURE, f"{work}/w{i}", str(cores), str(passes)])
        path = os.path.join(work, f"run{i}.jsonl")
        with open(path, "w") as f:
            subprocess.run(cmd, stdout=f, check=True)
        outs.append(path)
    return outs


def main():
    paths = sys.argv[1:] or record()
    seen = collections.defaultdict(list)
    for p in paths:
        for line in open(p):
            r = json.loads(line)
            if "error" in r:
                sys.exit(f"{r['query']} failed: {r['error']}")
            seen[r["query"]].append((r["rows"], r["hash"]))
    fam = families()
    queries = {}
    for q in sorted(seen):
        rows = {r for r, _ in seen[q]}
        if len(rows) != 1:
            sys.exit(f"{q}: row count differs between passes: {sorted(rows)}")
        hashes = {h for _, h in seen[q]}
        queries[q] = {"family": fam[q], "rows": rows.pop(),
                      "hash": hashes.pop() if len(hashes) == 1 else None}
    missing = [q for q in SLICE if q not in queries]
    if missing:
        sys.exit(f"slice names unknown queries: {missing}")
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump({"fixture": "perfbench/fixture/sf0.001", "slice": SLICE,
                   "queries": queries}, f, indent=1, sort_keys=True)
        f.write("\n")
    rows_only = [q for q, v in queries.items() if v["hash"] is None]
    print(f"{len(queries)} queries, {len(rows_only)} checked by rows only: {rows_only}")


if __name__ == "__main__":
    main()
