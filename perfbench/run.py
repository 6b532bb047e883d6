#!/usr/bin/env python3
"""The repository benchmark (see BENCHMARK.json and perfbench/README.md).

    python3 perfbench/run.py --workload etl_surface --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness with sbt and generates the upscaled inputs with graft.GenScale; later
runs reuse both. Each run then starts one JVM that sets up a Spark session,
runs a cold pass, an untimed verification pass and warm passes over the
workload's registered queries (one query in flight, on local[N] with N = the
number of cores), and checks every result against perfbench/expected.json:
the row count of every execution, and the content hash of the verification
pass. `--trace 1` also runs a traced pass
with the benchmark's listeners and the kernel harness, times the same job on
local[1] in a second JVM, and reports the per-layer metrics instead of the
end-to-end ones. The last line of stdout is one JSON object.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BASE_DATA = os.path.join(HERE, "data", "sf0.01")
BASE_DOCS = 500  # rows of documents and of embeddings in BASE_DATA
UPSCALE = 4      # GenScale copies of documents and embeddings
JVM_TIMEOUT_S = 165  # for all harness JVMs of one run together

# The registered queries of each workload (perfbench/README.md says why).
WORKLOADS = {
    "etl_surface": {"data": None, "queries": [
        "q01_filter_columns", "q04_replace_value", "q07_filter_values",
        "q09_filter_regexp", "q17_join_warn", "q29_typedetect", "q31_parse_time",
        "q35_zip_csv", "q37_memoize", "q40_wordcount", "q79_partition_reload",
        "q85_txt_roundtrip", "q86_xlsx_roundtrip", "q164_cdc_stream",
    ]},
    "dedup_retrieval": {"data": "upscaled", "queries": [
        "q47_minhash_pairs", "q93_minhash_portable", "q53_cosine_neardup",
        "q146_cosine_dup_portable", "q143_tfidf_serve", "q197_tfidf_champion",
        "q198_tfidf_champion_serve", "q199_tfidf_champion_stream",
    ]},
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    paths = []
    for base in (ROOT, HERE):
        paths += sorted(os.path.join(d, f) for d, _, fs in os.walk(os.path.join(base, "src"))
                        for f in fs if "/src/test" not in d)
        paths += [os.path.join(base, "build.sbt")]
        proj = os.path.join(base, "project")
        paths += sorted(os.path.join(proj, f) for f in os.listdir(proj)
                        if os.path.isfile(os.path.join(proj, f)))
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(build.sbt and src/main/scala not found)")
    stamp = source_stamp()
    state = os.path.join(WORK, "build.json")
    if os.path.exists(state):
        with open(state) as f:
            b = json.load(f)
        if b["stamp"] == stamp and all(os.path.exists(p) for p in b["classpath"]):
            return b["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("building the program and the harness with sbt")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip().split(os.pathsep)
    os.makedirs(WORK, exist_ok=True)
    with open(state, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def java_cmd(classpath, scratch, heap="3g"):
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xmx{heap}", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={scratch}/jtmp",
            f"-Dderby.system.home={scratch}/derby",
            f"-Dderby.stream.error.file={scratch}/derby.log",
            "-cp", os.pathsep.join(classpath)]


def jvm_env(scratch, cores):
    return dict(os.environ, SPARK_GRAFT_TMP_DIR=f"{scratch}/tmp",
                SPARK_LOCAL_DIRS=f"{scratch}/local", SPARK_GRAFT_CPUS=str(cores))


def new_scratch(tag):
    d = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    for sub in ("tmp", "local", "jtmp", "derby"):
        os.makedirs(os.path.join(d, sub))
    return d


def upscaled_data(classpath, cores):
    """documents and embeddings upscaled by GenScale into multi-file parquet,
    the other tables copied from the base data. Generated once per checkout;
    returns (directory, generation seconds, expected row counts)."""
    out = os.path.join(WORK, "data", f"up{UPSCALE}")
    manifest = os.path.join(out, "manifest.json")
    rows = {"documents": BASE_DOCS * UPSCALE, "embeddings": BASE_DOCS * UPSCALE}
    if os.path.exists(manifest):
        with open(manifest) as f:
            m = json.load(f)
        if m.get("rows") == rows:
            return out, m["gen_s"], rows
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    scratch = new_scratch("gen")
    t0 = time.monotonic()
    try:
        with open(os.path.join(scratch, "jvm.log"), "w") as logf:
            p = subprocess.run(
                java_cmd(classpath, scratch, "2g") + [
                    "graft.GenScale", BASE_DATA, out, str(UPSCALE),
                    "documents,embeddings"],
                cwd=scratch, env=jvm_env(scratch, cores), stdin=subprocess.DEVNULL,
                stdout=subprocess.PIPE, stderr=logf, text=True, timeout=JVM_TIMEOUT_S)
        if p.returncode != 0 or f'"documents_rows":{rows["documents"]}' not in p.stdout:
            raise SystemExit(f"perfbench: GenScale failed: {p.stdout[-500:]}")
        for f in os.listdir(BASE_DATA):
            if f.removesuffix(".parquet") not in rows:
                shutil.copyfile(os.path.join(BASE_DATA, f), os.path.join(out, f))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    gen_s = time.monotonic() - t0
    with open(manifest, "w") as f:
        json.dump({"rows": rows, "gen_s": gen_s}, f)
    return out, gen_s, rows


def run_jvm(classpath, plan, deadline):
    """Run one harness JVM in a fresh scratch directory, to end by `deadline`
    (a time.monotonic() value); return its result."""
    scratch = new_scratch("run")
    plan = dict(plan, scratch=scratch, out=os.path.join(scratch, "result.json"))
    try:
        plan_path = os.path.join(scratch, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        with open(os.path.join(scratch, "jvm.log"), "w") as logf:
            p = subprocess.run(java_cmd(classpath, scratch) + ["perfbench.Runner", plan_path],
                               cwd=scratch, env=jvm_env(scratch, plan["cores"]),
                               stdin=subprocess.DEVNULL, stdout=logf, stderr=logf,
                               timeout=max(1.0, deadline - time.monotonic()))
        if p.returncode != 0 or not os.path.exists(plan["out"]):
            with open(os.path.join(scratch, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: harness JVM failed (exit {p.returncode})")
        with open(plan["out"]) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for t, msg in result["table_errors"].items():
        raise SystemExit(f"perfbench: generated input {t} is wrong: {msg}")
    return result


def check(workload, result, expected):
    """Count query executions and those that threw or returned a wrong
    result: a wrong row count in any pass, or a wrong content hash in the
    verification pass, the only one that hashes."""
    attempted = failed = 0
    for p in result["passes"]:
        for q in p["queries"]:
            attempted += 1
            want = expected.get(q["name"])
            ok = (not q["error"] and want is not None and q["rows"] == want["rows"]
                  and (p["kind"] != "verify" or q["hash"] == want["hash"]))
            if not ok:
                failed += 1
                log(f"{workload}: {p['kind']} pass: {q['name']} wrong: "
                    f"{q['error'] or (q['rows'], q['hash'])} expected {want}")
    return attempted, failed


def end_to_end(result):
    passes = result["passes"]
    warm = [p for p in passes if p["kind"] == "warm"]
    cold = next(p for p in passes if p["kind"] == "cold")
    pool = [q["build_s"] + q["plan_s"] + q["exec_s"]
            for p in warm for q in p["queries"] if not q["error"]]
    return {
        "setup_s": result["setup_s"],
        "cold_wall_s": cold["wall_s"],
        "warm_wall_s": statistics.median(p["wall_s"] for p in warm),
        "query_p50_s": statistics.median(pool) if pool else 0.0,
    }, pool


def per_layer(result):
    passes = result["passes"]
    warm = statistics.median(p["wall_s"] for p in passes if p["kind"] == "warm")
    kind = {p["kind"]: p for p in passes}
    traced, cold = kind["traced"], kind["cold"]
    m = {"session.start_s": result["session_start_s"],
         "session.warmup_s": result["session_warmup_s"]}
    m.update(traced["layers"])
    # Sinks are paired with the cold pass, where indexes and memo entries
    # are written; warm passes of dedup_retrieval only read them.
    for k in ("sinks.output_mb", "sinks.write_s"):
        m[k] = cold["layers"][k]
    m["exec.speedup_vs_1core"] = result["single_core_wall_s"] / warm
    m.update(result["kernels"])
    m["jvm.gc_s"] = traced["gc_s"]
    m["jvm.heap_peak_mb"] = traced["heap_peak_mb"]
    m["trace.overhead_s"] = traced["wall_s"] - warm
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    classpath = build()
    data_dir, gen_s, rows = BASE_DATA, 0.0, {}
    if wl["data"] == "upscaled":
        data_dir, gen_s, rows = upscaled_data(classpath, cores)

    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    plan = {
        "workload": args.workload, "data_dir": data_dir, "queries": wl["queries"],
        "seed": args.seed, "seconds": args.seconds, "trace": bool(args.trace),
        "verify": True, "warm_up": True,
        "cores": cores, "partitions": cores, "min_warm": 2, "max_warm": 6,
        "table_rows": rows,
        "trace_out": os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
    }
    deadline = time.monotonic() + JVM_TIMEOUT_S
    result = run_jvm(classpath, plan, deadline)
    results = [result]
    if args.trace:
        # The single-core baseline: the same job and partitioning on
        # local[1], in a JVM of its own, timed on its first warm pass. Its
        # set-up is not reported, so it skips the warm-up job; its results
        # are checked by row count, since the main JVM hashes them.
        single = run_jvm(classpath, dict(plan, cores=1, trace=False, verify=False,
                                         warm_up=False, min_warm=1, max_warm=1), deadline)
        result["single_core_wall_s"] = next(
            p["wall_s"] for p in single["passes"] if p["kind"] == "warm")
        results.append(single)

    with open(os.path.join(HERE, "expected.json")) as f:
        expected_all = json.load(f)
    if not any(p["kind"] == "verify" for p in result["passes"]):
        raise SystemExit("perfbench: the harness ran no verification pass")
    attempted = failed = 0
    for r in results:
        a, f = check(args.workload, r, expected_all.get(args.workload, {}))
        attempted += a
        failed += f

    e2e, pool = end_to_end(result)
    section = "per_layer" if args.trace else "end_to_end"
    metrics = per_layer(result) if args.trace else e2e
    report(args, cores, result, e2e, pool, attempted, failed, gen_s,
           metrics if args.trace else {}, units)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in spec[section]},
    }))


def report(args, cores, result, e2e, pool, attempted, failed, gen_s, layers, units):
    """Print every metric by name and unit, for a reader of the run."""
    wl = WORKLOADS[args.workload]
    print(f"{args.workload}: seed {args.seed}, {cores} cores, "
          f"{len(wl['queries'])} queries, {len(result['passes'])} passes")
    for k, v in e2e.items():
        print(f"  {k:<34} {v:12.4f} {units[k]}")
    if len(pool) >= 100:
        print(f"  {'query_p90_s':<34} {statistics.quantiles(pool, n=10)[-1]:12.4f} s"
              f"  (n={len(pool)})")
    else:
        print(f"  query_p90_s not reported: {len(pool)} warm query executions (< 100)")
    print(f"  {'failed_frac':<34} {failed / attempted:12.4f} ratio"
          f"  ({failed} of {attempted})")
    if wl["data"]:
        print(f"  {'data.gen_s':<34} {gen_s:12.4f} s  (GenScale, once per checkout)")
    per_query = {}
    for p in result["passes"]:
        if p["kind"] == "warm":
            for q in p["queries"]:
                per_query.setdefault(q["name"], []).append(
                    q["build_s"] + q["plan_s"] + q["exec_s"])
    print("  warm latency by query: " + " ".join(
        f"{n.split('_')[0]}={statistics.median(v):.2f}" for n, v in sorted(per_query.items())))
    for k, v in layers.items():
        print(f"  {k:<34} {v:12.4f} {units[k]}")


if __name__ == "__main__":
    main()
