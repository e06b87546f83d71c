#!/usr/bin/env python3
"""Repository benchmark: four workloads over the graft engine, one JVM each.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: mining, short-queries, stream-ingest, keyed-state (see README.md
next to this file). The first run builds the engine and the harness with sbt
(offline) and caches the classpath under perfbench/.build; later runs start
the JVM directly. Inputs are generated from --seed into a fresh scratch
directory under perfbench/.work, which is removed when the run ends.

With --trace 0 the run reports the end-to-end metrics; with --trace 1 it
registers the harness's listeners and reports the per-layer metrics. The last
line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Everything else (provenance, the full metric table, drift signals) is printed
above it and written to perfbench/.out/.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CORES = 4
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Workload sizes. "tiny" is the self-test shape (benchmark tests only).
SIZES = {
    "mining": {"docs": 300, "embs": 100, "replicas": 2, "dup_share": 0.15, "star_sf": 0.001},
    "short-queries": {"star_sf": 0.005, "docs": 100, "embs": 100, "dup_share": 0.05},
    "stream-ingest": {"history": 1500, "live_files": 10, "backlog_files": 6, "rows_per_file": 150,
                      "interval_s": 0.5, "dup_share": 0.15},
    "keyed-state": {"keys": 2000, "rows_per_s": 2000, "rows_per_batch": 40000},
}
TINY = {
    "mining": {"docs": 120, "embs": 120, "replicas": 2, "dup_share": 0.15, "star_sf": 0.001},
    "short-queries": {"star_sf": 0.001, "docs": 80, "embs": 80, "dup_share": 0.05},
    "stream-ingest": {"history": 200, "live_files": 3, "backlog_files": 2, "rows_per_file": 40,
                      "interval_s": 0.5, "dup_share": 0.15},
    "keyed-state": {"keys": 200, "rows_per_s": 500, "rows_per_batch": 5000},
}

JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg: str, code: int = 1) -> None:
    log(msg)
    sys.exit(code)


def source_stamp() -> str:
    """Hash of every input of the build: engine sources, harness sources and
    both build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build() -> str:
    """Compile engine + harness (once per source state); return the classpath."""
    out = os.path.join(BENCH, ".build")
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or "-Dsbt.offline=true -Xmx3g"
    log("building engine and harness with sbt (first run of this source state)")
    t0 = time.time()
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=BENCH, env=env, stdout=lf,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    lines = open(os.path.join(out, "sbt.log")).read().splitlines()
    cps = [ln.strip() for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        fail("build failed; tail of sbt output:\n" + "\n".join(lines[-30:]))
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cps[-1]


def generate(workload: str, seed: int, sizes: dict, data: str, trace: bool) -> dict:
    """Write the run's inputs under `data`; return their sizes."""
    sys.path.insert(0, BENCH)
    import numpy as np
    import gen

    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    model = gen.text_model(rng)
    info = {}
    tables_dir = os.path.join(data, "tables")
    if workload in ("mining", "short-queries"):
        tables = gen.star_schema(rng, sizes["star_sf"])
        docs = gen.documents(rng, gen.doc_texts(rng, sizes["docs"], sizes["dup_share"], model))
        embs = gen.embeddings(rng, sizes["embs"], sizes["dup_share"])
        if workload == "mining":
            docs = gen.replicate_docs(docs, sizes["replicas"])
            embs = gen.replicate_embeddings(embs, sizes["replicas"])
        tables["documents"], tables["embeddings"] = docs, embs
        info["tables"] = gen.write_tables(tables_dir, tables)
    elif workload == "stream-ingest":
        root = os.path.join(data, "stream")
        h = sizes["history"]
        gen.stream_batches(os.path.join(root, "history"), rng, model, 1, h, sizes["dup_share"], 0)
        r = sizes["rows_per_file"]
        gen.stream_batches(os.path.join(root, "live"), rng, model, sizes["live_files"], r,
                           sizes["dup_share"], h)
        gen.stream_batches(os.path.join(root, "backlog"), rng, model, sizes["backlog_files"], r,
                           sizes["dup_share"], h + sizes["live_files"] * r)
        info = {"history_rows": h, "files": sizes["live_files"] + sizes["backlog_files"],
                "rows_per_file": r, "offered_rows_per_s": r / sizes["interval_s"]}
    if trace:  # kernel microbench inputs: the same for every workload of a seed
        krng = np.random.default_rng([seed, 1 << 20])
        kdocs = gen.documents(krng, gen.doc_texts(krng, 400, 0.15, gen.text_model(krng)))
        gen.write_tables(os.path.join(data, "kernel"),
                         {"documents": kdocs, "embeddings": gen.embeddings(krng, 400, 0.15)})
    return info


def quantile(xs: list, q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def closed_loop_metrics(extra: dict, bad: set) -> dict:
    """End-to-end metrics of a closed loop from its raw samples. An execution
    that threw, differed from its reference or whose query failed the oracle
    check is not a timed sample; a pass counts only if all its ops count."""
    ok = [[(n, t) for n, t, good in p if good and n not in bad] for p in extra["samples"]]
    ops = [t for p in ok for _, t in p]
    full = [p for p, raw in zip(ok, extra["samples"]) if len(p) == len(raw)]
    if not ops or not full:
        return {}
    pass_s = [sum(t for _, t in p) for p in full]
    rows = sum(extra["input_rows"][n] for p in full for n, _ in p)
    return {"job_s_p50": (statistics.median(pass_s), "s"),
            "query_s_p50": (quantile(ops, 0.5), "s"), "query_s_p90": (quantile(ops, 0.9), "s"),
            "latency_s_p50": (quantile(ops, 0.5), "s"), "latency_s_p99": (quantile(ops, 0.99), "s"),
            "rows_per_s": (rows / sum(pass_s), "rows/s")}


def provenance(seed: int, result: dict) -> dict:
    def git(*a):
        r = subprocess.run(["git", *a], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else None

    is_git = os.path.isdir(os.path.join(ROOT, ".git"))
    sha = git("rev-parse", "HEAD") if is_git else None
    dirty = bool(git("status", "--porcelain", "--untracked-files=no")) if is_git else None
    p = result.get("provenance", {})
    return {"git_sha": sha or "unknown (not a git checkout)", "git_dirty": dirty, "seed": seed,
            "cpus_host": os.cpu_count(), "cpus_used": CORES, "jvm": p.get("jvm"),
            "spark_version": p.get("spark_version"), "master": p.get("master"),
            "SPARK_GRAFT_JAVA_OPTS": os.environ.get("SPARK_GRAFT_JAVA_OPTS", ""),
            "python": platform.python_version(), "spark_conf": p.get("spark_conf", {})}


def oracle_check(work: str, data: str, corrupt: bool) -> list:
    """Check the warm-up outputs against the registry's oracles; return the
    failing query names. Oracles listed in oracles.CHECKS run as fast exact
    Python twins; the rest run as the registry's own SQL in DuckDB through
    tools/check.py (read-only)."""
    import oracles
    import pyarrow.parquet as pq

    results = os.path.join(work, "results")
    sql_file = os.path.join(results, "oracle_sql.json")
    if not os.path.exists(sql_file):
        return []
    sqls = json.load(open(sql_file))
    if corrupt:  # self-test: drop one row of one checked output
        name = sorted(sqls)[0]
        t = pq.read_table(os.path.join(results, name))
        shutil.rmtree(os.path.join(results, name))
        os.makedirs(os.path.join(results, name))
        pq.write_table(t.slice(0, max(0, t.num_rows - 1)), os.path.join(results, name, "part-0.parquet"))
    docs = os.path.join(data, "tables", "documents.parquet")
    fails = [q for q in sqls if q in oracles.CHECKS
             and not oracles.check(q, docs, os.path.join(results, q))]
    duck = {q: sql for q, sql in sqls.items() if q not in oracles.CHECKS}
    if duck:
        with open(sql_file, "w") as f:
            json.dump(duck, f)
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                            os.path.join(data, "tables"), results],
                           capture_output=True, text=True, timeout=120)
        bad = [ln.split()[1].rstrip(":") for ln in r.stdout.splitlines() if ln.startswith("FAIL")]
        if r.returncode != 0 and not bad:
            bad = ["<oracle check crashed>"]
            log(r.stdout[-2000:] + r.stderr[-2000:])
        fails += bad
    for q in fails:
        log(f"oracle FAIL {q}")
    return fails


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test input sizes")
    ap.add_argument("--corrupt", action="store_true", help="self-test: corrupt one output")
    a = ap.parse_args()

    for need in ("src/main/scala/graft", "build.sbt", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine source {need} not found next to the benchmark; run from a repository checkout", 2)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp = build()
    t_setup0 = time.time()  # set-up starts after the (cached) build

    sizes = (TINY if a.tiny else SIZES)[a.workload]
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    for d in ("data", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    try:
        t_gen = time.time()
        inputs = generate(a.workload, a.seed, sizes, data, a.trace == 1)
        gen_s = time.time() - t_gen
        out_file = os.path.join(work, "result.json")
        args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                "data": data, "work": work, "out": out_file, "cores": CORES,
                "corrupt": int(a.corrupt), **sizes, "id_base": sizes.get("history", 0)}
        jopts = [x for o in JAVA_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
        jopts += ["-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        jopts += os.environ.get("SPARK_GRAFT_JAVA_OPTS", "").split()
        cmd = ["java", *jopts, "-cp", cp, "perfbench.Main"] + [f"{k}={v}" for k, v in args.items()]
        with open(os.path.join(work, "jvm.log"), "w") as lf:
            try:
                r = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                   timeout=JVM_TIMEOUT_S - (time.time() - t_setup0))
            except subprocess.TimeoutExpired:
                fail("benchmark JVM timed out")
        if r.returncode != 0 or not os.path.exists(out_file):
            lines = open(os.path.join(work, "jvm.log")).read().splitlines()
            causes = [ln for ln in lines if any(w in ln for w in ("Exception", "Error", "graft.", "perfbench."))][:25]
            fail("benchmark JVM failed:\n" + "\n".join(causes + lines[-10:]))
        res = json.load(open(out_file))

        # oracle check of the warm-up outputs; a failing query fails every execution
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        e2e = dict(res["metrics"])
        bad = set(oracle_check(work, data, a.corrupt))
        failures += [f"{q}: output differs from the oracle" for q in sorted(bad)]
        if "samples" in res["extra"]:
            samples = [x for p in res["extra"]["samples"] for x in p]
            failed = res["extra"]["warmup_failed"] + sum(1 for n, _, good in samples if not good or n in bad)
            attempted = len(samples) + res["extra"]["warmup_failed"]
            e2e.update({k: {"value": v, "unit": u}
                        for k, (v, u) in closed_loop_metrics(res["extra"], bad).items()})

        s = res["setup"]
        setup_s = (s["jvm_start_ms"] / 1e3 - t_setup0) + s["jvm_to_session_s"] + \
            statistics.median(s["repeats_s"]) + s["warmup_s"]
        e2e["setup_s"] = {"value": setup_s, "unit": "s"}
        layer = dict(res["layer"])
        if a.trace:
            layer["host.steal_share"] = {"value": res["host"]["steal_share"], "unit": "ratio"}
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        metrics, missing = {}, []
        for m in wanted:
            v = (layer if a.trace else e2e).get(m["name"])
            if v is None or v["value"] is None:
                missing.append(m["name"])
            else:
                metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
        if missing:
            failures.append(f"metrics not measured: {missing}")

        segs = [x for x in res["segments"] if x is not None]
        drift = segs[-1] / segs[0] if len(segs) >= 2 and segs[0] > 0 else 1.0
        prov = provenance(a.seed, res)
        detail = {"workload": a.workload, "inputs": inputs, "sizes": sizes, "generate_s": gen_s,
                  "setup": s, "segments": segs, "drift_last_over_first": drift, "host": res["host"],
                  "failures": failures, "extra": res["extra"], "spans": res["spans"],
                  "end_to_end": e2e, "per_layer": layer, "provenance": prov}
        os.makedirs(os.path.join(BENCH, ".out"), exist_ok=True)
        with open(os.path.join(BENCH, ".out", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(detail, f, indent=1)

        print("provenance " + json.dumps({k: v for k, v in prov.items() if k != "spark_conf"}))
        print("spark_conf " + json.dumps(prov["spark_conf"]))
        print(f"inputs {json.dumps(inputs)} generate_s={gen_s:.3f}")
        print(f"host steal_s={res['host']['steal_s']:.2f} busy_share={res['host']['busy_share']:.3f} "
              f"loadavg={res['host']['loadavg']:.2f}")
        print(f"segments n={len(segs)} first={segs[0] if segs else 0:.3f} "
              f"last={segs[-1] if segs else 0:.3f} drift_last_over_first={drift:.3f}")
        for name, v in sorted((layer if a.trace else e2e).items()):
            print(f"metric {name} {v['value']} {v['unit']}")
        for fl in failures:
            print(f"failure {fl}")
        correct = failed == 0 and attempted >= 1 and not missing
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        sys.stdout.flush()
        if not correct:
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
