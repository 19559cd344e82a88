#!/usr/bin/env python3
"""graft end-to-end benchmark.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 graftbench/run.py --selftest

Run from the root of a checkout. The first run builds graft's main sources
plus the drivers under graftbench/src with sbt into graftbench/target and
caches the classpath under .bench_build/; every later run starts the
driver JVM directly. Inputs are generated from --seed under
.bench_build/work/. The last stdout line is the result JSON; the full
report (every metric, traced or not) is written to
.bench_build/results/<workload>_seed<N>_trace<T>.json.

Workloads: kb_ingest, registry_sweep (graftbench/README.md says what each
measures and why).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

import gen

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
DEADLINE_S = 170  # a run (after any build) stops the driver JVM after this
WORKLOADS = ["kb_ingest", "registry_sweep"]
# the reads kb_ingest times after each batch; `search` is the freshness read
ROUTES = ["search", "tag_range", "diverse", "compressed", "cells"]
SPANS = ["ingest_batch", "registry"]
PHASES = ["construct_ms", "eager_jobs", "plan_ms", "exec_ms", "jobs", "tasks",
          "shuffle_write_bytes", "spill_bytes"]
MODULES = ["VectorStore", "VectorStoreLex", "ZoneMaps", "KnowledgeFiles",
           "Tables", "IngestJob", "CorpusJob", "Dedup", "TextAnalysis",
           "Similarity", "Analytics", "AnalyticsExt", "Sketches",
           "Multimodal", "Knowledge", "driver", "other"]
# set-up repetitions of an untraced run; a traced run always sets up three
# times (see trace_overhead_s)
SETUP_REPS = {"kb_ingest": 1, "registry_sweep": 2}
T_START = time.monotonic()


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _source_files():
    src = ROOT / "src" / "main"
    if not (src / "scala" / "graft").is_dir():
        raise SystemExit(f"[graftbench] no graft sources under {src}; run from a checkout")
    files = [p for d in (src, BENCH / "src") for p in sorted(d.rglob("*")) if p.is_file()]
    return files + [BENCH / "build.sbt", BENCH / "project" / "build.properties"]


def classpath():
    h = hashlib.sha256()
    for p in _source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    cp_file = BUILD / f"classpath-{h.hexdigest()[:16]}.txt"
    if cp_file.exists():
        return cp_file.read_text()
    BUILD.mkdir(exist_ok=True)
    opts = os.environ.get("SBT_OPTS", "-Dsbt.offline=true")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={BUILD / 'sbt-global'}", f"-Djna.tmpdir={BUILD / 'tmp'}",
           "-Dsbt.server.forcestart=false",
           "export Runtime/fullClasspath"]
    log("building graft + benchmark drivers with sbt (first run in this checkout)")
    p = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True, text=True, timeout=600)
    jars = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not jars:
        sys.stderr.write("\n".join(ln for ln in p.stdout.splitlines() if ln.startswith("[error]"))
                         + "\n" + p.stderr[-4000:])
        raise SystemExit("[graftbench] build failed")
    cp_file.write_text(jars[-1].strip())
    # building does not count against the run's own time limit
    global T_START
    T_START = time.monotonic()
    return cp_file.read_text()


def heap():
    # the Tier-1 SPARK_DRIVER_MEM rule: half of RAM in GiB, clamped to [2, 8]
    try:
        kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo") if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cores():
    return len(os.sched_getaffinity(0))


# ----------------------------------------------------------------- inputs

def make_inputs(workload, seed, data, small):
    """Every input the workload reads, generated from the seed."""
    shutil.rmtree(data, ignore_errors=True)
    data.mkdir(parents=True)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    if workload == "kb_ingest":
        gen.kb_stream(rng, str(data), history=20 if small else 60)
    else:
        sf = 0.001 if small else 0.01
        gen.write_tables(str(data / "sf"), gen.star(rng, sf))
        gen.write_tables(str(data / "warm"), gen.star(np.random.default_rng([seed, 99]), 0.001))


# ------------------------------------------------------------ run the JVM

def run_driver(a, cp, data, work, out):
    mem = heap()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={BUILD / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", str(data), "--work", str(work), "--out", str(out),
            "--reps", str(a.reps), "--fault", a.fault]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()), SPARK_DRIVER_MEM=mem)
    left = DEADLINE_S - (time.monotonic() - T_START)
    errlog = BUILD / "results" / f"{a.workload}_seed{a.seed}_trace{a.trace}.log"
    errlog.parent.mkdir(parents=True, exist_ok=True)
    with open(errlog, "w") as ef:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=ef, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, left))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"[graftbench] driver exceeded the {DEADLINE_S} s budget; log: {errlog}")
    for ln in open(errlog, errors="replace"):
        if ln.startswith("[graftbench]"):
            sys.stderr.write(ln)
    if rc != 0 or not out.exists():
        sys.stderr.write("".join(open(errlog, errors="replace").readlines()[-40:]))
        raise SystemExit(f"[graftbench] driver exited with {rc}")
    return json.loads(out.read_text()), mem


# -------------------------------------------------------------- checks

def oracle_rows(data_sf, keys, sql):
    """Row count of each key's DuckDB oracle over the same generated tables."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_sf}/{t}.parquet')")
    out = {}
    for k in keys:
        try:
            out[k] = con.sql(f"SELECT count(*) FROM ({sql[k]})").fetchone()[0]
        except Exception as e:  # an oracle that cannot run fails its key
            out[k] = f"oracle error: {e}"
    return out


# ---------------------------------------------------------- aggregation

def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = (len(xs) - 1) * q
    lo, hi = math.floor(i), math.ceil(i)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def phases(o):
    """The eight Spark-phase figures of one traced call."""
    b, r = o["build"], o["run"]
    f = {"construct_ms": b["ms"], "eager_jobs": b["jobs"]}
    for k in PHASES[2:]:
        f[k] = b[k] + r[k]
    return f


def modules(o, field):
    out = {}
    for p in ("build", "run"):
        for m, v in o[p][field].items():
            out[m] = out.get(m, 0) + v
    return out


def aggregate(w, raw, ok_ops, text_bytes):
    """Every metric, by name. A metric of a layer or call the workload does
    not run reads 0."""
    by = lambda kind: [o for o in ok_ops if o["kind"] == kind]
    # a round: kb_ingest's batch and the reads after it; one pass over
    # registry_sweep's keys
    calls = by("ingest_batch") + by("read") + by("registry")
    rounds = max(1, sum(o["kind"] == "ingest_batch" for o in raw["ops"]) if w == "kb_ingest"
                 else len(raw["ops"]) // len(raw["extra"]["keys"]))
    setup = [s["s"] for s in raw["setup"] if not s["traced"]]
    m = {"setup_s": med(setup),
         "round_s": sum(o["ms"] for o in calls) / 1000.0 / rounds,
         "round_cpu_s": sum(o["cpu_ms"] for o in calls) / 1000.0 / rounds}

    # the workload-specific end-to-end figures
    batch, reads, br = by("ingest_batch"), by("read"), by("batch_read")
    reg = [o["ms"] / 1000.0 for o in by("registry")]
    m.update({
        "ingest_batch_p50_s": med([o["ms"] / 1000.0 for o in batch]),
        "ingest_run_s": sum(o["ms"] for o in batch) / 1000.0,
        "fresh_read_p50_ms": med([o["ms"] for o in reads if o["name"] == "search"]),
        "read_p50_ms": med([o["ms"] for o in reads]),
        "read_p90_ms": pct([o["ms"] for o in reads], 0.9),
        "batch_read_qps": (sum(o["info"]["queries"] for o in br) /
                           (sum(o["ms"] for o in br) / 1000.0)) if br else 0.0,
        "recall_at_10": statistics.mean([o["info"]["recall_at_10"] for o in reads]) if reads else 0.0,
        "registry_total_s": sum(reg),
        "registry_key_p50_s": med(reg),
        "registry_key_p90_s": pct(reg, 0.9),
        "store.files": batch[-1]["info"]["store_files"] if batch else 0,
        "store_bytes_per_text_byte": (batch[-1]["info"]["index_bytes"] / text_bytes(batch[-1]["name"])
                                      if batch else 0.0),
        "ingest_batch.bytes_written": med([o["info"]["bytes_written"] for o in batch]),
    })

    # per layer, from traced calls only: Spark phases per span (median call)
    traced = [o for o in ok_ops if o.get("build")]
    for span in SPANS:
        ph = [phases(o) for o in traced if o["kind"] == span]
        for k in PHASES:
            m[f"{span}.{k}"] = med([p[k] for p in ph])
    # Spark jobs and job time by graft module, per round of timed calls
    tcalls = [o for o in traced if o["kind"] != "batch_read"]
    for mod in MODULES:
        m[f"jobs.{mod}"] = sum(modules(o, "jobs_by_module").get(mod, 0) for o in tcalls) / rounds
        m[f"job_ms.{mod}"] = sum(modules(o, "job_ms_by_module").get(mod, 0) for o in tcalls) / rounds
    # store reads per route
    for r in ROUTES:
        rs = [o for o in reads if o["name"] == r]
        tr = [o for o in rs if o.get("build")]
        rows = sum(o["info"]["rows"] for o in tr)
        m[f"read.{r}.p50_ms"] = med([o["ms"] for o in rs])
        m[f"read.{r}.jobs"] = med([phases(o)["jobs"] for o in tr])
        m[f"read.{r}.records_per_result"] = (sum(o["build"]["input_records"] + o["run"]["input_records"]
                                                 for o in tr) / rows) if rows else 0.0
        m[f"read.{r}.recall_at_10"] = statistics.mean([o["info"]["recall_at_10"] for o in rs]) if rs else 0.0
        bs = [o for o in br if o["name"] == r]
        m[f"batch.{r}.qps"] = (sum(o["info"]["queries"] for o in bs) /
                               (sum(o["ms"] for o in bs) / 1000.0)) if bs else 0.0
    # a traced run sets up three times: cold, traced, untraced; the last two
    # do the same warm work, so their difference is the tracing overhead
    reps = raw["setup"]
    if len(reps) >= 3 and reps[1]["traced"]:
        m["trace_overhead_s"] = reps[1]["s"] - reps[2]["s"]
        m["trace_overhead_share"] = m["trace_overhead_s"] / reps[2]["s"]
    else:
        m["trace_overhead_s"] = m["trace_overhead_share"] = 0.0
    return m


UNITS = {"setup_s": "s", "round_s": "s", "round_cpu_s": "s", "ingest_batch_p50_s": "s",
         "ingest_run_s": "s", "fresh_read_p50_ms": "ms", "read_p50_ms": "ms", "read_p90_ms": "ms",
         "batch_read_qps": "1/s", "recall_at_10": "ratio", "registry_total_s": "s",
         "registry_key_p50_s": "s", "registry_key_p90_s": "s",
         "store.files": "count", "store_bytes_per_text_byte": "ratio",
         "ingest_batch.bytes_written": "bytes", "failed_op_share": "ratio"}


# ------------------------------------------------------------------ main

def bench(a):
    cp = classpath()
    work = BUILD / "work" / a.workload
    data = work / "data"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    make_inputs(a.workload, a.seed, data, a.small)
    raw, mem = run_driver(a, cp, data, work, work / "raw.json")

    ops = raw["ops"]

    def fail(o, why):
        o["err"] = why
        log(f"FAILED workload={a.workload} call={o['kind']}/{o['name']}: {why}")

    if a.workload == "registry_sweep":
        sql = json.loads((work / "oracle_sql.json").read_text())
        keys = {o["name"] for o in ops if o["kind"] == "registry" and o["err"] is None}
        exp = oracle_rows(data / "sf", keys, sql)
        for o in ops:
            if o["kind"] == "registry" and o["err"] is None and exp[o["name"]] != o["info"]["rows"]:
                fail(o, f"rows {o['info']['rows']} != oracle {exp[o['name']]}")
    ok_ops = [o for o in ops if o["err"] is None]
    failed = len(ops) - len(ok_ops)

    def text_bytes(last_batch):
        # text bytes of every message ingested up to that batch, edited
        # parents at their current text
        import pyarrow.parquet as pq
        manifest = json.loads((data / "stream" / "manifest.json").read_text())
        upto = int(last_batch.split("_")[1])
        base = pq.read_table(data / "stream" / "docs_0.parquet").column("text").to_pylist()
        cur = {b["edit"]["parent"]: b["edit"]["text"] for b in manifest[: upto + 1] if b["edit"]}
        live = {i for b in manifest[: upto + 1] for i in b["ids"]}
        return sum(len(cur.get(i, base[i]).encode()) for i in live)

    m = aggregate(a.workload, raw, ok_ops, text_bytes)
    m["failed_op_share"] = failed / max(1, len(ops))
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "cores": raw["cores"], "heap": mem, "max_heap_bytes": raw["max_heap_bytes"],
              "commit": commit(), "attempted": len(ops), "failed": failed,
              "setup_reps_s": [s["s"] for s in raw["setup"]],
              "metrics": m, "units": UNITS, "extra": raw["extra"], "job_sites": raw["job_sites"],
              "calls": [{k: o[k] for k in ("kind", "name", "ms", "cpu_ms", "err", "info", "build", "run")}
                        for o in ops]}
    res = BUILD / "results" / f"{a.workload}_seed{a.seed}_trace{a.trace}.json"
    res.write_text(json.dumps(report, indent=1))
    return report


def commit():
    """The checked-out commit, when the checkout is a git work tree."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def result_line(report, trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    m = report["metrics"]
    return {"correct": report["failed"] == 0, "attempted": report["attempted"],
            "failed": report["failed"],
            "metrics": {x["name"]: {"value": m[x["name"]], "unit": x["unit"]}
                        for x in spec["per_layer" if trace else "end_to_end"]}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")
    a.fault, a.small = "none", False
    a.reps = 3 if a.trace else SETUP_REPS[a.workload]
    report = bench(a)
    m = report["metrics"]
    log(f"{a.workload} seed={a.seed} trace={a.trace} commit={report['commit'][:12]} "
        f"cores={report['cores']} heap={report['heap']} attempted={report['attempted']} "
        f"failed={report['failed']} " + " ".join(f"{k}={m[k]:.6g}{UNITS[k]}" for k in UNITS))
    print(json.dumps(result_line(report, a.trace)))
    return 0


def selftest():
    """Tiny smoke run of each workload (traced, no failure allowed), then
    each planted fault, which must be reported as a failed call."""
    cases = [(w, "none") for w in WORKLOADS] + [
        ("registry_sweep", "registry_rows"), ("kb_ingest", "reversed_ranks"),
        ("kb_ingest", "dup_chunk")]
    bad = 0
    for w, fault in cases:
        global T_START
        T_START = time.monotonic()
        a = argparse.Namespace(workload=w, seed=7, seconds=0, trace=int(fault == "none"),
                               fault=fault, small=True, reps=1)
        r = bench(a)
        good = (r["failed"] == 0) if fault == "none" else (r["failed"] >= 1)
        bad += not good
        print(f"{'ok  ' if good else 'FAIL'} {w:15s} fault={fault:15s} "
              f"attempted={r['attempted']} failed={r['failed']}", flush=True)
    print("selftest", "passed" if bad == 0 else f"FAILED ({bad})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
