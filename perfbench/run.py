#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
                           --trace <0|1> [--record <path>]

Builds the program and the JVM harness from source (build.py), generates the
workload's inputs from the seed (gen.py), runs the harness in one JVM,
checks the outputs with DuckDB (verify.py), and writes a record with every
metric, its unit and the run's provenance. The last line of stdout is

  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics of BENCHMARK.json when --trace is 0 and the
per-layer metrics when it is 1.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import random
import re
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import build
import gen
import verify

ROOT = build.ROOT
HEAP = "2g"
JVM_TIMEOUT_S = 150

# Input sizes per workload: TPC-H scale factor, documents, embeddings.
WORKLOADS = {
    "wire_point": dict(sf=0.01, docs=500, vecs=500),
    "lake_ingest": dict(sf=0.01, docs=500, vecs=500),
    "pipe_dedup": dict(sf=0.001, docs=1000, vecs=500),
}

# Spark needs these opened on JDK 17 (the same list build.sbt passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# A string literal naming an absolute path: code holding one reads or
# writes outside the checkout, so the benchmark must not load it.
ABS_PATH_LITERAL = re.compile(r'"/[A-Za-z0-9_.-]+/')
TOP_LEVEL = re.compile(
    r"^(?:(?:final|sealed|abstract|private|case)\s+)*"
    r"(?:object|class|trait)\s+(\w+)", re.M)


def denied_classes():
    """Top-level classes of every main source file that names an absolute
    path in a string literal (comments aside)."""
    out = []
    for f in build.sources():
        if build.BENCH in f.parents:
            continue
        text = f.read_text()
        code = "\n".join(l.split("//")[0] for l in text.splitlines()
                         if not l.lstrip().startswith("*"))
        if not ABS_PATH_LITERAL.search(code):
            continue
        pkg = re.search(r"^package\s+([\w.]+)", text, re.M)
        prefix = pkg.group(1) + "." if pkg else ""
        out += [prefix + n for n in TOP_LEVEL.findall(text)]
    return sorted(set(out))


def loaded_denied(class_log, deny):
    loaded = set()
    if class_log.exists():
        for line in class_log.read_text().splitlines():
            i = line.find("[class,load] ")
            if i >= 0:
                loaded.add(line[i + 13:].split(" ")[0])
    return sorted(c for c in loaded
                  if any(c == d or c.startswith(d + "$") for d in deny))


BATCHES = 5


def lake_plan(work, data, seed):
    """Batch ranges, scan ranges, count predicates, the merge source and the
    delete predicate of one lake pass, drawn from the seed."""
    r = random.Random(seed)
    n = pq.read_metadata(data / "orders.parquet").num_rows
    step = n // BATCHES
    batches = [[i * step, n if i == BATCHES - 1 else (i + 1) * step]
               for i in range(BATCHES)]
    width = n // 100
    scans = [[lo, lo + width] for lo in
             (r.randrange(0, n - width) for _ in range(4))]
    counts = []
    for status in ("F", "O"):
        lo = r.randrange(0, n - n // 20)
        counts.append(f"o_orderkey >= {lo} AND o_orderkey < {lo + n // 20} "
                      f"AND o_orderstatus = '{status}'")
    orders = pq.read_table(data / "orders.parquet")
    upd = sorted(r.sample(range(n), 500))
    src = orders.take(upd).to_pydict()
    src["o_totalprice"] = [round(p + 1.0, 2) for p in src["o_totalprice"]]
    src["o_orderstatus"] = ["U"] * len(upd)
    new = orders.take(sorted(r.sample(range(n), 500))).to_pydict()
    new["o_orderkey"] = list(range(n, n + 500))
    merged = {k: src[k] + new[k] for k in src}
    path = work / "merge_source.parquet"
    pq.write_table(pa.Table.from_pydict(merged, schema=orders.schema), path)
    lo = r.randrange(0, n - n // 20)
    plan = {"batches": batches, "scans": scans, "counts": counts,
            "merge_source": str(path),
            "delete": f"o_orderkey >= {lo} AND o_orderkey < {lo + n // 20}"}
    (work / "lake_plan.json").write_text(json.dumps(plan))
    return plan


def cds_archive(jar):
    """The JVM class-data-sharing archive of the Spark and harness classes
    for this build. Mapping it halves JVM and Spark start-up."""
    stamp = (jar.parent / "build.stamp").read_text()[:16]
    return jar.parent / f"classes-{stamp}.jsa"


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0]
         .split()[1:]]
    return f[7], sum(f)


def jvm_command(args, jar, work, data, deny, seconds, out, share):
    # C1 only: with C2 the compiler threads took about half of a run's CPU
    # time and were still compiling when the run ended, so pass walls
    # measured how far the compiler had got on a shared host. C1 alone gets
    # a 48 MB code cache, which these runs fill within 20 s (the JVM then
    # stops compiling), so the cache gets the tiered default size.
    return ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
            "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
            share,
            *[x for p in ADD_OPENS for x in ("--add-opens",
                                             f"{p}=ALL-UNNAMED")],
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'tmp'}",
            f"-Xlog:class+load=info:file={work / 'classload.log'}",
            "-cp", build.classpath(jar), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(seconds), "--trace", str(args.trace),
            "--inputs", str(data), "--work", str(work), "--out", str(out),
            "--class-log", str(work / "classload.log"),
            "--deny", ",".join(deny)]


def java(cmd, work, log):
    """Run one JVM to its end; its exit code, or "timeout"."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out,
                             stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return "timeout"


def run_jvm(args, jar, work, data, deny):
    raw = work / "raw.json"
    log = work / "jvm.log"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    archive = cds_archive(jar)
    if not archive.exists():
        # The first run after a build makes the class-data archive with a
        # short training run of its own workload, so that every measured
        # run starts from the same mapped archive.
        dump = archive.with_suffix(f".{os.getpid()}.tmp")
        java(jvm_command(args, jar, work, data, deny, 0, work / "train.json",
                         f"-XX:ArchiveClassesAtExit={dump}"), work, log)
        if dump.exists():
            dump.replace(archive)
    share = f"-XX:SharedArchiveFile={archive}" if archive.exists() \
        else "-Xshare:auto"
    steal0, total0 = cpu_times()
    ru0, t0 = resource.getrusage(resource.RUSAGE_CHILDREN), time.time()
    rc = java(jvm_command(args, jar, work, data, deny, args.seconds, raw,
                          share), work, log)
    ru1, t1 = resource.getrusage(resource.RUSAGE_CHILDREN), time.time()
    steal1, total1 = cpu_times()
    if rc != 0 or not raw.exists():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        sys.exit(f"perfbench: the benchmark JVM failed ({rc})")
    raw = json.loads(raw.read_text())
    raw["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    raw["jvm_wall_s"] = t1 - t0
    raw["jvm_cpu_s"] = (ru1.ru_utime + ru1.ru_stime
                        - ru0.ru_utime - ru0.ru_stime)
    return raw


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, p):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(p / 100 * len(s)) - 1))]


def ms(o):
    return (o["end_ns"] - o["start_ns"]) / 1e6


def by_name(ops):
    out = {}
    for o in ops:
        out.setdefault(o["name"], []).append(ms(o))
    return out


def measured(raw, traced=None):
    return [o for o in raw["ops"] if o["pass"] >= 0 and not o["error"]
            and (traced is None or o["traced"] == traced)]


def pass_walls(raw, traced=None):
    """Pass walls in seconds, without the harness's untimed checks."""
    return [(p["end_ns"] - p["start_ns"] - p["untimed_ns"]) / 1e9
            for p in raw["passes"]
            if traced is None or p["traced"] == traced]


def end_to_end(raw):
    ops = measured(raw, traced=False)
    walls = pass_walls(raw, traced=False)
    per_name = by_name(ops)
    return {
        "setup_s": raw["setup_s"],
        "wall_s": median(walls),
        "query_geomean_ms": math.exp(statistics.fmean(
            math.log(max(median(v), 1e-6)) for v in per_name.values()))
        if per_name else 0.0,
        "ops_per_s": len(ops) / sum(walls) if walls else 0.0,
    }


def drift(walls):
    """Least-squares slope of the pass walls over the pass index, as a
    share of their mean per pass: near 0 when the measured passes are flat
    (warm-up is over), negative while they still speed up."""
    n = len(walls)
    if n < 2:
        return None
    mx, my = (n - 1) / 2, statistics.fmean(walls)
    slope = sum((i - mx) * (w - my) for i, w in enumerate(walls)) / \
        sum((i - mx) ** 2 for i in range(n))
    return slope / my


def union(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def minus(intervals, cover):
    """Length of the union of `intervals` outside the union of `cover`."""
    return union(intervals + cover) - union(cover)


def self_times(raw, ops):
    """Per-op self time of each layer, from the spans: the op's time outside
    every layer span, each layer's spans outside its nested layers (exec
    jobs and Catalyst phases nest inside builds and lake calls). Job spans
    attach to their op through the job group (the wire server's group
    names the connection); Catalyst phases by time containment."""
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}
    op_spans = [(by_id[o["span"]], o) for o in ops if o["span"] in by_id]
    kids = {s["id"]: {"build": [], "plan": [], "exec": [], "lake": []}
            for s, _ in op_spans}
    starts = sorted((s["start_ns"], s["id"], s) for s, _ in op_spans)

    def owner(t, key=None):
        best = None
        for st, sid, s in starts:
            if st > t:
                break
            if s["end_ns"] >= t and (key is None or s["key"] == key):
                best = sid
        return best

    for s in spans:
        iv = (s["start_ns"], s["end_ns"])
        if s["name"] == "queries.build" and s["parent"] in kids:
            kids[s["parent"]]["build"].append(iv)
        elif s["name"].startswith("lake.") and s["parent"] in kids:
            kids[s["parent"]]["lake"].append(iv)
        elif s["name"] == "exec.job":
            pid = s["key"][len("graft-wire-"):] \
                if s["key"].startswith("graft-wire-") else None
            o = s["parent"] if s["parent"] in kids else owner(s["start_ns"], pid)
            if o is not None:
                kids[o]["exec"].append(iv)
        elif s["name"].startswith("plan."):
            o = owner(s["start_ns"])
            if o is not None:
                kids[o]["plan"].append(iv)
    tot = {"other": 0, "build": 0, "plan": 0, "exec": 0, "lake": 0}
    for s, _ in op_spans:
        k = kids[s["id"]]
        clip = lambda ivs: [(max(a, s["start_ns"]), min(b, s["end_ns"]))
                            for a, b in ivs if b > s["start_ns"]
                            and a < s["end_ns"]]
        ex, pl = clip(k["exec"]), clip(k["plan"])
        inner = ex + pl
        tot["exec"] += union(ex)
        tot["plan"] += minus(pl, ex)
        tot["build"] += minus(clip(k["build"]), inner)
        tot["lake"] += minus(clip(k["lake"]), inner)
        tot["other"] += (s["end_ns"] - s["start_ns"]) - union(
            inner + clip(k["build"]) + clip(k["lake"]))
    n = max(1, len(op_spans))
    return {k: v / n / 1e6 for k, v in tot.items()}


def per_layer(raw):
    L = raw["layers"]
    ops = measured(raw, traced=True)
    n_ops = max(1, len(ops))
    wins = [(p["start_ns"], p["end_ns"]) for p in raw["passes"]
            if p["traced"]]
    n_pass = max(1, len(wins))
    inside = lambda t: any(a <= t <= b for a, b in wins)
    spans = [s for s in raw["spans"] if inside(s["start_ns"])]
    jobs = [j for j in raw["jobs"] if inside(j["start_ns"])]
    span_ms = lambda name: sum((s["end_ns"] - s["start_ns"]) / 1e6
                               for s in spans if s["name"] == name)
    job_sum = lambda k: sum(j[k] for j in jobs)
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(ms(o))
    names = by_name(ops)
    selfs = self_times(raw, ops)
    wire = raw["workload"] == "wire_point"
    lat = [ms(o) for o in measured(raw, traced=False)]
    m = {
        "latency.p50_ms": median(lat),
        "latency.p90_ms": pct(lat, 90),
        "tables.load_ms": L.get("tables.load_ms", 0.0),
        "tables.loads": L.get("tables.loads", 0),
        "queries.build_ms": span_ms("queries.build") / n_ops,
        "plan.analysis_ms": span_ms("plan.analysis") / n_ops,
        "plan.optimization_ms": span_ms("plan.optimization") / n_ops,
        "plan.planning_ms": span_ms("plan.planning") / n_ops,
        "exec.jobs": len(jobs) / n_pass,
        "exec.stages": job_sum("stages") / n_pass,
        "exec.tasks": job_sum("tasks") / n_pass,
        "exec.jobs_per_op": len(jobs) / n_ops,
        "exec.task_run_ms": job_sum("run_ms") / n_ops,
        "exec.task_cpu_ms": job_sum("cpu_ns") / 1e6 / n_ops,
        "exec.gc_ms": job_sum("gc_ms") / n_ops,
        "exec.scan_bytes": job_sum("scan_bytes") / n_ops,
        "exec.shuffle_read_bytes": job_sum("shuffle_read") / n_ops,
        "exec.shuffle_write_bytes": job_sum("shuffle_write") / n_ops,
        "exec.spill_bytes": job_sum("spill") / n_ops,
        "exec.peak_exec_mem_mb":
            max((j["peak_mem"] for j in jobs), default=0) / 1048576,
        "server.connect_ms": L.get("server.connect_ms", 0.0),
        "server.point_p50_ms": median(kinds.get("point", [])) if wire else 0,
        "server.agg_p50_ms": median(kinds.get("agg", [])) if wire else 0,
        "server.catalog_p50_ms":
            median(kinds.get("catalog", [])) if wire else 0,
        "server.self_ms": selfs["other"] if wire else 0,
        "setup.start_s": raw["start_s"],
        "setup.warmup_s": raw["warmup_s"],
        "lake.append_p50_ms": median(kinds.get("append", [])),
        "lake.scan_p50_ms": median(kinds.get("scan", [])),
        "lake.merge_ms": median(kinds.get("merge", [])),
        "lake.delete_ms": median(kinds.get("delete", [])),
        "lake.compact_ms": median(kinds.get("compact", [])),
        "lake.prune_ms": L.get("lake.prune_ms", 0.0),
        "lake.fragments_opened_ratio":
            L.get("lake.fragments_opened_ratio", 0.0),
        "lake.fragments": L.get("lake.fragments", 0),
        "lake.bytes_written": L.get("lake.bytes_written", 0),
        "lake.manifest_bytes": L.get("lake.manifest_bytes", 0),
        "lake.versions": L.get("lake.versions", 0),
        "lake.write_amp": L.get("lake.write_amp", 0.0),
    }
    for q in PIPE_OPS:
        m[f"pipe.{q}_ms"] = median(names.get(q, []))
    m["pipe.pins_left"] = L.get("pipe.pins_left", 0.0)
    m["pipe.sweep_ms"] = L.get("pipe.sweep_ms", 0.0)
    m["jvm.gc_ms"] = L.get("jvm.gc_ms", 0)
    m["jvm.heap_peak_mb"] = L.get("jvm.heap_peak_mb", 0.0)
    m["jvm.rss_peak_mb"] = raw["peak_rss_kb"] / 1024.0
    m["jvm.retained_mb"] = raw["retained_mb"]
    for k in ("build", "plan", "exec", "lake"):
        m[f"self.{k}_ms"] = selfs[k]
    m["trace.overhead_s"] = (median(pass_walls(raw, traced=True))
                             - median(pass_walls(raw, traced=False)))
    return m


PIPE_OPS = ["dedup_minhash_lsh", "dedup_exact", "dedup_simhash",
            "ann_hnsw_topk", "ann_cosine_topk", "fts_bm25_topk", "fts_phrase"]


# ------------------------------------------------------------- provenance

def provenance(args, data, raw, jar):
    def mem_total_kb():
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
        return None

    def digest_dir(d):
        h = hashlib.sha256()
        for f in sorted(d.iterdir()):
            h.update(f.name.encode())
            h.update(f.read_bytes())
        return h.hexdigest()

    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True).stdout.strip()
    except OSError:
        sha = ""
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_total_kb(),
        "xmx": HEAP,
        "spark_version": raw["versions"]["spark"],
        "java_version": raw["versions"]["java"],
        "git_sha": sha or None,
        "source_digest": (jar.parent / "build.stamp").read_text(),
        "seed": args.seed,
        "cpu_steal_share": raw["cpu_steal_share"],
        "jvm_wall_s": raw["jvm_wall_s"],
        "jvm_cpu_s": raw["jvm_cpu_s"],
        "inputs": {"dir": data.name, **WORKLOADS[args.workload],
                   "digest": digest_dir(data)},
        "utc": datetime.datetime.now(datetime.timezone.utc).isoformat(),
    }


# ------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="record file (default: under "
                    ".bench_build/perfbench/records/)")
    args = ap.parse_args(argv)
    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        sys.exit("perfbench: BENCHMARK.json not found at the checkout root")
    spec = json.loads(spec_path.read_text())

    jar = build.build()
    work = build.OUT / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    try:
        cfg = WORKLOADS[args.workload]
        gen.generate(data, args.seed, cfg["sf"], cfg["docs"], cfg["vecs"])
        plan = lake_plan(work, data, args.seed) \
            if args.workload == "lake_ingest" else None
        deny = denied_classes()
        raw = run_jvm(args, jar, work, data, deny)

        failures = [f"{o['name']}: {o['error']}" for o in raw["ops"]
                    if o["error"]]
        wrong = [f"{c['name']}: {c['detail']}" for c in raw["checks"]
                 if not c["ok"]]
        bad = loaded_denied(work / "classload.log", deny)
        if bad:
            wrong.append(f"loaded classes that name absolute paths: {bad}")
        findings = []
        con = verify.connect(data)
        out = raw["outputs"]
        if args.workload == "pipe_dedup":
            wrong += verify.queries(con, out)
        elif args.workload == "wire_point":
            fails, findings = verify.wire(con, out["statements"])
            wrong += fails
        else:
            wrong += verify.lake(con, plan, out["lake"])
        con.close()

        e2e = end_to_end(raw)
        layers = per_layer(raw) if args.trace else {}
        kind = "per_layer" if args.trace else "end_to_end"
        shown = layers if args.trace else e2e
        u = {m["name"]: m["unit"] for m in spec[kind]}
        metrics = {k: {"value": shown[k], "unit": u[k]} for k in u}
        attempted = len(raw["ops"])
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "provenance": provenance(args, data, raw, jar),
            "correct": not wrong, "wrong": wrong, "findings": findings,
            "attempted": attempted, "failed": len(failures),
            "fail_ratio": len(failures) / attempted, "failures": failures,
            "metrics": metrics,
            "end_to_end": e2e,
            "per_layer": layers,
            "start_s": raw["start_s"], "warmup_s": raw["warmup_s"],
            "warmup_walls_s": raw["warmup_walls"],
            "passes": [{"wall_s": w, "traced": p["traced"]} for w, p in
                       zip(pass_walls(raw), raw["passes"])],
            "drift": drift(pass_walls(raw, traced=False)),
            "op_median_ms": {k: median(v)
                             for k, v in by_name(measured(raw)).items()},
        }
        rec_path = Path(args.record) if args.record else (
            build.OUT / "records" /
            f"{args.workload}-s{args.seed}-t{args.trace}-"
            f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
        rec_path.parent.mkdir(parents=True, exist_ok=True)
        rec_path.write_text(json.dumps(record, indent=1))
        for w in wrong[:20]:
            sys.stderr.write(f"perfbench: incorrect: {w}\n")
        for f in findings:
            sys.stderr.write(f"perfbench: finding: {f}\n")
        for f in failures[:20]:
            sys.stderr.write(f"perfbench: failed op: {f}\n")
        print(f"record: {rec_path}")
        print(json.dumps({"correct": not wrong, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
