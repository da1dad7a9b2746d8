#!/usr/bin/env python3
"""The repository benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness from source (sbt, offline) into `.bench_build/`; later runs reuse
the build while the sources are unchanged. A run generates its inputs
from the seed, sets up, measures for `--seconds`, checks every output
against DuckDB, and prints its metrics; the last stdout line is one JSON
object. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer metrics of a separate traced run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import benchlib
import checks
import inputs

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
STATE = ROOT / ".bench_build"
BUILD = STATE / "build"
WORKLOADS = ("medallion_daily", "curation_ops")
HEAP = ["-Xms3g", "-Xmx3g"]
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Per workload: the recorded samples behind the generic `iter_s`.
ITER = {"medallion_daily": "day_s", "curation_ops": "curation_s"}
END_TO_END = {"setup_s": "s", "iter_s": "s", "retained_heap_mb": "MB"}
LAYER_MODULES = ("sources", "core", "checks", "layers", "lake", "streaming",
                 "ext", "queries")
CURATION_OPS = ("ext_dedup_minhash_lsh", "ext_dedup_semantic",
                "ext_dedup_incremental_near", "ext_knn_cosine_pq")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(p for d in (ROOT / "src" / "main", BENCH / "src")
                   for p in d.rglob("*") if p.is_file())
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile once per source state; returns (classpath, CDS archive).
    Everything under BUILD belongs to one source state: a rebuild wipes
    it, records of earlier runs included."""
    stamp = source_stamp()
    cp_file, cds = BUILD / "classpath.txt", BUILD / "app.jsa"
    if ((BUILD / "stamp").is_file() and (BUILD / "stamp").read_text() == stamp
            and cds.is_file()
            and all(Path(e).is_file()
                    for e in cp_file.read_text().strip().split(":"))):
        return cp_file.read_text().strip(), cds
    shutil.rmtree(BUILD, ignore_errors=True)
    BUILD.mkdir(parents=True)
    repo_conf = Path.home() / ".sbt" / "repositories"
    sbt = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={STATE / 'sbt-global'}",
           "-Dsbt.server.autostart=false", "-Dsbt.offline=true"]
    if repo_conf.is_file():
        sbt += ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repo_conf}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log("[perfbench] building (sbt package) ...")
    with open(BUILD / "sbt.log", "w") as out:
        rc = run_bounded(sbt + ["package", "export Runtime/fullClasspath"],
                         600, cwd=BENCH, env=env, stdout=out,
                         stderr=subprocess.STDOUT)
    lines = (BUILD / "sbt.log").read_text().splitlines()
    if rc != 0 or not lines:
        raise SystemExit(f"build failed, see {BUILD / 'sbt.log'}")
    jar = next(STATE.glob("target/scala-2.13/perfbench_2.13-*.jar"))
    # class-data sharing needs jars only: the packaged jar replaces the
    # classes directory
    cp = [jar.as_posix()] + [e for e in lines[-1].split(":")
                             if e.endswith(".jar")]
    cp_file.write_text(":".join(cp))
    log("[perfbench] recording the class-data archive ...")
    train = STATE / "train"
    shutil.rmtree(train, ignore_errors=True)
    inputs.generate("medallion_daily", train / "inputs" / "medallion_daily",
                    0, 2)
    rc = jvm(":".join(cp), None, ["-XX:ArchiveClassesAtExit=" + str(cds)],
             ["--workload", "train", "--seed", "0", "--seconds", "0",
              "--trace", "0", "--inputs", str(train / "inputs")], train)
    shutil.rmtree(train, ignore_errors=True)
    # every timed run starts from the archive: a run without it would
    # start seconds slower and compare as a set-up regression
    if rc != 0 or not cds.is_file():
        raise SystemExit("recording the class-data archive failed")
    (BUILD / "stamp").write_text(stamp)
    return cp_file.read_text().strip(), cds


def jvm(cp, cds, extra, args, work):
    """One harness JVM with its scratch inside `work`; returns its exit
    code. Its output goes to work/jvm.log. With `cds` the JVM must map
    that archive (`-Xshare:on`) or it exits with an error."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + HEAP + (["-Xshare:on", "-XX:SharedArchiveFile=" + str(cds)]
                     if cds else [])
           + extra
           + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dderby.system.home={work}", "-Dspark.callstack.depth=200",
              "-cp", cp, "perfbench.Main"]
           + args + ["--work", str(work), "--out", str(work / "out.json")])
    with open(work / "jvm.log", "w") as out:
        try:
            return run_bounded(cmd, JVM_TIMEOUT_S, cwd=work, stdout=out,
                               stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            return -1


# ---------------------------------------------------------------- host

def host_record():
    """Metadata that tells a degraded host from a code change."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    probe = time.perf_counter() - t0
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "cpu_probe_s": round(probe, 4),
            "jvm_heap_flags": HEAP}


# ---------------------------------------------------------------- metrics

def samples(raw, key):
    return raw["samples"].get(key, [])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw, workload):
    """(metrics, their sample counts and quantiles) shared by both
    workloads; see README.md for what each reads on which workload."""
    it = samples(raw, ITER[workload])
    vals = {"setup_s": raw["values"]["setup_s"], "iter_s": median(it),
            "retained_heap_mb": raw["values"]["retained_heap_mb"]}
    notes = {"setup_s": "n=1", "iter_s": f"n={len(it)}",
             "retained_heap_mb": "n=1, after full GCs"}
    return vals, notes


def named_metrics(raw, workload, failed, attempted):
    """The workload's own metrics under their descriptive names (the
    gated ones are printed separately)."""
    f = raw["facts"]
    out = {"failed_share": (failed / attempted, "ratio", attempted)}
    if workload == "medallion_daily":
        rep, lag = samples(raw, "report_ms"), samples(raw, "replica_lag_ms")
        out["day_s"] = (median(samples(raw, "day_s")), "s",
                        len(samples(raw, "day_s")))
        out["report_ms_p50"] = (median(rep), "ms", len(rep))
        q, v = benchlib.tail_percentile(rep)
        out[f"report_ms_p{round(q * 100)}"] = (v, "ms", len(rep))
        out["replica_lag_ms_p50"] = (median(lag), "ms", len(lag))
        out["stored_bytes_per_live_byte"] = (
            f["stored_bytes"] / f["live_bytes"], "ratio", 1)
    else:
        cs = samples(raw, "curation_s")
        out["curation_s"] = (median(cs), "s", len(cs))
        ops = [x for op in CURATION_OPS
               for x in samples(raw, f"ext.{op}_ms")]
        out["op_ms_p50"] = (median(ops), "ms", len(ops))
        for op in CURATION_OPS:
            xs = samples(raw, f"ext.{op}_ms")
            out[f"ext.{op}_ms"] = (median(xs), "ms", len(xs))
    return out


def layer_metrics(raw, workload):
    """Per-layer metrics of a traced run over its measured window, per
    measured iteration where they are totals."""
    v = raw["values"]
    m0, m1 = v["measure_start_ms"], v["measure_end_ms"]
    spans = [s for s in raw["spans"] if s["end"] is not None]
    jobs = [j for j in raw["jobs"] if j["end"] >= 0 and m0 <= j["start"] <= m1]
    roots = [s for s in spans if s["parent"] == 0 and m0 <= s["start"] <= m1]
    n_iter = max(1, len(roots))
    owner = benchlib.attribute(jobs, spans)
    for j in raw["jobs"]:
        j["module"] = benchlib.module_of(j["call_site"], j["stream"])
    out = {}

    def per_iter(x):
        return x / n_iter

    iv = [(j["start"], j["end"]) for j in jobs]
    out["spark.jobs"] = per_iter(len(jobs))
    out["spark.stages"] = per_iter(sum(j["stages"] for j in jobs))
    out["spark.tasks"] = per_iter(sum(j["tasks"] for j in jobs))
    out["spark.executor_s"] = per_iter(sum(j["executor_ms"] for j in jobs) / 1e3)
    out["spark.gc_s"] = per_iter(sum(j["gc_ms"] for j in jobs) / 1e3)
    mb = 1048576.0
    out["spark.shuffle_write_mb"] = per_iter(
        sum(j["shuffle_write_b"] for j in jobs) / mb)
    out["spark.input_mb"] = per_iter(sum(j["input_b"] for j in jobs) / mb)
    out["spark.output_mb"] = per_iter(sum(j["output_b"] for j in jobs) / mb)
    out["spark.driver_gap_s"] = per_iter(sum(
        benchlib.self_time(s["start"], s["end"], iv) for s in roots) / 1e3)
    qs = [q for q in raw["queries"] if m0 <= q["start"] <= m1]
    for ph in ("analysis_ms", "optimization_ms", "planning_ms"):
        out[f"spark.{ph}"] = median([q[ph] for q in qs])
    for mod in LAYER_MODULES:
        mj = [j for j in jobs if j["module"] == mod]
        out[f"{mod}.jobs"] = per_iter(len(mj))
        out[f"{mod}.tasks"] = per_iter(sum(j["tasks"] for j in mj))
        out[f"{mod}.job_s"] = per_iter(benchlib.union_length(
            [(j["start"], j["end"]) for j in mj]) / 1e3)
        out[f"{mod}.executor_s"] = per_iter(
            sum(j["executor_ms"] for j in mj) / 1e3)
    # core and layers: the lineage of each measured day
    lineage = [s for s in spans if s["name"] == "lineage"
               and m0 <= s["start"] <= m1]
    node_sum = samples(raw, "core.node_s_sum")
    lin = samples(raw, "lineage_s")
    out["core.node_s_sum"] = median(node_sum)
    out["core.overlap"] = (median([a / b for a, b in zip(node_sum, lin)])
                           if lin else 0.0)
    out["core.critical_node_s"] = median(samples(raw, "core.critical_node_s"))
    out["core.driver_gap_s"] = median([benchlib.self_time(
        s["start"], s["end"], iv) / 1e3 for s in lineage])
    for layer in ("bronze", "silver", "gold"):
        out[f"layers.{layer}_s"] = median(samples(raw, f"layers.{layer}_s"))
    # lake: commits made per measured iteration, from the logs
    counts = benchlib.iteration_counts(v)
    commits = 0.0
    if len(counts) >= 2:
        first = counts[-n_iter - 1][1] if len(counts) > n_iter else counts[0][1]
        commits = (counts[-1][1]["commits"] - first["commits"]) / n_iter
    out["lake.commits"] = commits
    out["lake.jobs_per_commit"] = out["lake.jobs"] / commits if commits else 0.0
    f = raw["facts"]
    out["lake.live_files"] = float(f.get("live_files", 0))
    out["lake.log_files"] = float(counts[-1][1]["log_files"]) if counts else 0.0
    out["lake.stored_bytes_per_live_byte"] = (
        f["stored_bytes"] / f["live_bytes"] if f.get("live_bytes") else 0.0)
    out["streaming.replica_lag_ms"] = median(samples(raw, "replica_lag_ms"))
    for st in ("replica", "changelog"):
        out[f"streaming.{st}.batches"] = median(
            samples(raw, f"streaming.{st}.batches"))
        for m in ("trigger_ms", "query_planning_ms", "get_batch_ms",
                  "latest_offset_ms", "add_batch_ms", "wal_commit_ms"):
            out[f"streaming.{st}.{m}_p50"] = median(
                samples(raw, f"streaming.{st}.{m}"))
    for op in CURATION_OPS:
        ids = {s["id"]: s for s in spans if s["name"] == op
               and m0 <= s["start"] <= m1}
        out[f"ext.{op}_s"] = median(
            [(s["end"] - s["start"]) / 1e3 for s in ids.values()])
        out[f"ext.{op}.jobs"] = per_iter(
            sum(1 for j in jobs if owner.get(j["id"]) in ids))
    return out, jobs, spans, owner


def sentinels(raw, jobs, spans, owner):
    """Counts that should repeat exactly on the same seed: per root span
    (a day, a pass), Spark jobs per module; and the lake's commit and
    checkpoint files after each iteration."""
    below = benchlib.descendants(spans)
    seen, out = {}, {}
    all_jobs = [j for j in raw["jobs"] if j["end"] >= 0]
    owner_all = benchlib.attribute(all_jobs, spans)
    for s in sorted((s for s in spans if s["parent"] == 0),
                    key=lambda s: s["start"]):
        k = seen[s["name"]] = seen.get(s["name"], 0) + 1
        key = s["name"] if k == 1 else f"{s['name']}#{k}"
        ids = below[s["id"]]
        mods = {}
        for j in all_jobs:
            if owner_all.get(j["id"]) in ids:
                mods[j["module"]] = mods.get(j["module"], 0) + 1
        for mod, n in mods.items():
            out[f"{key} {mod}.jobs"] = n
    for k, c in benchlib.iteration_counts(raw["values"]):
        for name in ("commits", "checkpoints"):
            out[f"lake after iteration {k} {name}"] = c[name]
    return out


def compare_sentinels(workload, seed, now):
    """Check the counts against an earlier traced run of the same build
    on the same seed (recording them if this is the first); returns
    (matched, varying)."""
    f = BUILD / "sentinels" / f"{workload}-seed{seed}.json"
    f.parent.mkdir(parents=True, exist_ok=True)
    if not f.is_file():
        f.write_text(json.dumps({"counts": now, "varying": []}, indent=1))
        return None, []
    prev = json.loads(f.read_text())
    common = sorted(set(prev["counts"]) & set(now))
    varying = sorted(set(prev["varying"]) | {
        k for k in common if prev["counts"][k] != now[k]})
    f.write_text(json.dumps({"counts": prev["counts"], "varying": varying},
                            indent=1))
    return [k for k in common if k not in varying], varying


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log("[perfbench] no library sources under ./src/main/scala/graft; "
            "run from the root of a checkout")
        return 2
    cp, cds = build()
    host = host_record()
    log(f"[perfbench] host {json.dumps(host)}")
    work = STATE / "runs" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        # one snapshot per second measured is more days than any run uses
        inputs.generate(a.workload, work / "inputs" / a.workload, a.seed,
                        3 + math.ceil(a.seconds))
        gen_s = time.time() - t0
        launch_ms = time.time() * 1000
        rc = jvm(cp, cds, [], ["--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds),
                               "--trace", str(a.trace),
                               "--inputs", str(work / "inputs")], work)
        out = work / "out.json"
        if rc != 0 or not out.is_file():
            tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
            log(f"[perfbench] harness JVM failed (exit {rc}):\n{tail}")
            return 1
        log(f"[perfbench] JVM wall {time.time() - t0:.1f} s")
        raw = json.loads(out.read_text())
        v = raw["values"]
        v["setup.inputs_s"] = gen_s
        v["setup_s"] = gen_s + (v["setup_end_ms"] - launch_ms) / 1000
        t1 = time.time()
        results = checks.CHECKS[a.workload](raw["facts"])
        log(f"[perfbench] output checks {time.time() - t1:.1f} s")
        return report(a, raw, results, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, raw, results, host):
    for name, ok, detail in results:
        log(f"[check] {'ok  ' if ok else 'FAIL'} {name} {detail}")
    attempted = raw["attempted"] + len(results)
    failed = raw["failed"] + sum(1 for _, ok, _ in results if not ok)
    e2e, notes = end_to_end(raw, a.workload)
    print(f"workload {a.workload} seed {a.seed}: closed loop, 1 client, "
          f"local[{raw['cores']}], measured {raw['values']['measure_s']:.1f} s")
    print(f"host {json.dumps(host)}")
    print("set-up phases (s): " + ", ".join(
        f"{k[6:-2]} {v:.2f}" for k, v in raw["values"].items()
        if k.startswith("setup.")))
    for k, (v, unit, n) in named_metrics(raw, a.workload, failed,
                                         attempted).items():
        print(f"  {k:28s} {v:14.4f} {unit:6s} n={n}")
    for k, v in e2e.items():
        print(f"  {k:28s} {v:14.4f} {END_TO_END[k]:6s} {notes[k]}")
    # untraced metrics of this build, the reference for tracing overhead
    state = BUILD / "e2e"
    state.mkdir(parents=True, exist_ok=True)
    if a.trace == 0:
        (state / f"{a.workload}-seed{a.seed}.json").write_text(json.dumps(e2e))
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    else:
        layers, jobs, spans, owner = layer_metrics(raw, a.workload)
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in layers.items()}
        for k, v in layers.items():
            print(f"  {k:44s} {v:14.4f} {layer_unit(k)}")
        mods = {}
        for j in jobs:
            mods[j["module"]] = mods.get(j["module"], 0) + 1
        print(f"  jobs per module in the measured window: {mods}")
        # a span's self time: its duration minus its own jobs' union
        own = {}
        for j in jobs:
            own.setdefault(owner.get(j["id"]), []).append((j["start"], j["end"]))
        for sp in spans:
            sp["self_ms"] = benchlib.self_time(sp["start"], sp["end"],
                                               own.get(sp["id"], []))
        trace_file = STATE / "traces" / f"{a.workload}-seed{a.seed}.json"
        trace_file.parent.mkdir(parents=True, exist_ok=True)
        trace_file.write_text(json.dumps({
            "spans": spans, "jobs": raw["jobs"], "queries": raw["queries"],
            "owner": owner, "host": host}))
        print(f"  spans and jobs written to {trace_file.relative_to(ROOT)}")
        counts = sentinels(raw, jobs, spans, owner)
        matched, varying = compare_sentinels(a.workload, a.seed, counts)
        for k in sorted(counts):
            print(f"  sentinel {k} = {counts[k]}")
        if matched is None:
            print("  sentinels recorded; a second traced run on this seed "
                  "checks them")
        else:
            print(f"  sentinels: {len(matched)} repeat exactly, "
                  f"varying: {varying or 'none'}")
        ref = sorted(state.glob(f"{a.workload}-seed*.json"),
                     key=lambda p: (p.name != f"{a.workload}-seed{a.seed}.json",
                                    -p.stat().st_mtime))
        if ref:
            base = json.loads(ref[0].read_text())
            print(f"  tracing overhead vs untraced {ref[0].stem}:")
            for k, v in e2e.items():
                if base.get(k):
                    print(f"    {k:26s} traced {v:12.4f} untraced "
                          f"{base[k]:12.4f} ({(v / base[k] - 1) * 100:+.1f} %)")
        else:
            print("  tracing overhead: no untraced run of this workload yet")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def layer_unit(name):
    if name.endswith(("_s", "_s_sum")):
        return "s"
    if name.endswith(("_ms", "_ms_p50")):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("overlap", "_per_commit", "per_live_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
