#!/usr/bin/env python3
"""The repo benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload serve_archive --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the benchmark driver (perfbench/src) with the Scala
compiler shipped in $SPARK_HOME/jars into .bench_build/; later runs reuse
that build. The JVM checks every answer and writes raw samples; this
script reduces them to the metrics named in BENCHMARK.json and prints one
JSON result as the last line of standard output. See perfbench/README.md
for the workloads.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import metrics as m

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("serve_archive", "sync_archive")
RUN_LIMIT_S = 170
JVM_OPTS = ["-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
# Spark on JDK 17 outside spark-submit needs these (as build.sbt sets them)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "throughput_per_s": "1/s"}

PER_LAYER = {
    "app.http.request_ms": "ms", "app.yt.query_ms": "ms",
    "app.http.overhead_ms": "ms", "app.rows_examined_per_row": "ratio",
    "sources.catalog.sql_ms": "ms",
    "ops.store.read_ms": "ms", "ops.store.read_calls": "count",
    "app.sync.round_ms": "ms", "ops.store.commit_ms": "ms",
    "ops.store.commits": "count", "ops.store.commit_retries": "count",
    "ops.store.upsert_bucketed_ms": "ms", "ops.store.maintain_ms": "ms",
    "ops.store.files_new": "count", "ops.store.files_linked": "count",
    "ops.store.link_ratio": "ratio", "ops.store.bytes_written": "bytes",
    "ops.store.versions_retained": "count",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.rows_per_batch": "count",
    "ops.text.bm25_append_ms": "ms", "ops.text.bm25_probe_ms": "ms",
    "ops.search.probe_ms": "ms",
    "ops.text.clean_ms": "ms", "ops.text.langid_ms": "ms",
    "ops.text.gopher_ms": "ms", "ops.text.quality_ms": "ms",
    "ops.text.bigram_lm_ms": "ms", "ops.dedup.minhash_ms": "ms",
    "ops.dedup.keep_best_ms": "ms", "ops.dedup.semantic_ms": "ms",
    "ops.sampling.budget_ms": "ms",
    "plans.exchanges": "count", "plans.reused_exchanges": "count",
    "plans.generates": "count", "plans.windows": "count",
    "plans.single_partition_windows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_ms": "ms", "spark.scheduler_delay_ms": "ms",
    "spark.task_cpu_ms": "ms", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.input_records": "count",
    "connectors.ms": "ms", "jvm.gc_ms": "ms", "jvm.jit_ms": "ms",
    "loadgen.late_ms_p95": "ms", "loadgen.backlog_max": "count",
    "tracing.overhead_ms": "ms",
}

# spans whose median self time is reported under "<span>_ms"
SPAN_METRICS = [
    "app.http.request", "app.yt.query", "sources.catalog.sql", "ops.store.read",
    "app.sync.round", "ops.text.bm25_append", "ops.text.bm25_probe",
    "ops.search.probe", "ops.text.clean", "ops.text.langid", "ops.text.gopher",
    "ops.text.quality", "ops.text.bigram_lm", "ops.dedup.minhash",
    "ops.dedup.keep_best", "ops.dedup.semantic", "ops.sampling.budget"]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BenchError("set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars"
    if not list(jars.glob("spark-sql_2.13-*.jar")):
        raise BenchError(f"no Spark 2.13 jars under {jars}")
    return jars


def build(jars):
    """Compile engine + driver once per source tree; returns the class dir."""
    trees = [ROOT / "src" / "main" / "scala", BENCH / "src"]
    for t in trees:
        if not t.is_dir():
            raise BenchError(f"missing source tree {t.relative_to(ROOT)}")
    files = sorted(p for t in trees for p in t.rglob("*.scala"))
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if out.is_dir():
        return out
    tmp = BUILD / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files))
    cp = f"{jars}/*"
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BenchError("compile failed:\n" + proc.stdout[-4000:])
    argfile.unlink()
    os.rename(tmp, out)
    print(f"built {len(files)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def run_jvm(classes, jars, args, work, deadline):
    resources = ROOT / "src" / "main" / "resources"
    cp = os.pathsep.join([str(classes), str(resources), f"{jars}/*"])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    raw = work / "raw.json"
    cmd = (["java"] + opens + JVM_OPTS +
           [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graftbench.Bench", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), str(work), str(raw)])
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, GRAFT_SCRATCH_DIR=str(work / "tmp"))
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("benchmark JVM ran out of time")
    if rc != 0 or not raw.exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise BenchError(f"benchmark JVM exited with {rc}:\n{tail}")
    return json.loads(raw.read_text())


def need(values, what):
    """The median of a gated metric's samples; no samples fails the run."""
    if not values:
        raise BenchError(f"no samples of {what}")
    return m.median(values)


def commit_latencies(raw):
    calls = [c for x in raw["raw"]["rounds"] for c in x["calls"]]
    return m.commit_latencies(raw["store"]["publishes"], calls)


def e2e_metrics(raw):
    w, r = raw["workload"], raw["raw"]
    setup = raw["setup"]
    out = {"setup_s": (setup["session_s"] + m.median(setup["reps_s"]) +
                       setup["finish_s"] + setup["warmup_s"])}
    detail = {}
    if w == "serve_archive":
        # latency at the lower offered rate, throughput at the top one
        phases = r["phases"]
        mid, top = phases[0], phases[-1]
        out["latency_p50_ms"] = need(mid["latency_ms"], "request latency")
        out["throughput_per_s"] = m.service_rate(top["done_ms"], top["window_end_ms"])
        slo = [p["rate"] for p in phases
               if p["latency_ms"] and m.percentile(p["latency_ms"], 95) <= r["slo_ms"]
               and p["backlog_end"] <= max(1, p["rate"] / 2)]
        detail["rates"] = [{
            "rate": p["rate"], "offered": p["offered"], "completed": p["completed"],
            "shed": p["shed"], "p50_ms": m.median(p["latency_ms"]),
            "tail": m.tail(p["latency_ms"]), "backlog_max": p["backlog_max"],
            "late_ms_p95": m.percentile(p["late_ms"], 95) if p["late_ms"] else 0.0}
            for p in phases]
        p, v, n = m.tail(mid["latency_ms"])
        detail.update({"latency_p50_ms": out["latency_p50_ms"],
                       f"latency_p{p}_ms" if p else "latency_tail_ms": v, "samples": n,
                       "slo_rps": max(slo) if slo else 0.0, "slo_ms": r["slo_ms"]})
    elif w == "sync_archive":
        lat = [x for _, x in commit_latencies(raw)]
        rounds = r["rounds"]
        out["latency_p50_ms"] = need(lat, "commit latency")
        out["throughput_per_s"] = (sum(x["user_rows"] for x in rounds) /
                                   (sum(x["wall_ms"] for x in rounds) / 1000.0))
        before = r["start_listing"]
        new_bytes = 0
        for x in rounds:
            b, _ = m.new_inode_bytes(before, x["listing"])
            new_bytes += b
            before = before + x["listing"]
        p, v, n = m.tail(lat)
        detail.update({
            "commit_p50_ms": out["latency_p50_ms"], f"commit_p{p}_ms" if p else "commit_tail_ms": v,
            "commits": n, "rounds": len(rounds), "sync_rows_per_s": out["throughput_per_s"],
            "ingest_lag_ms": m.median([x["lag_ms"] for x in rounds]),
            "write_amp": new_bytes / sum(x["user_bytes"] for x in rounds),
            "space_amp": m.space_amp(rounds[-1]["listing"])})
    detail["setup_s"] = out["setup_s"]
    detail["sizes"] = r["sizes"]
    return out, detail


def layer_metrics(raw):
    """Per-layer metrics of a --trace 1 run."""
    w, r, tr = raw["workload"], raw["raw"], raw["trace"]
    spans = [tuple(s) for s in tr["spans"]]
    selft = m.self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s[1], []).append(selft[s[0]])
    out = {k: 0.0 for k in PER_LAYER}
    for name in SPAN_METRICS:
        out[name + "_ms"] = m.median(by_name.get(name, []))
    ops = [s for s in spans if s[1] == "bench.op"]
    n_ops = max(1, len(ops))
    out["ops.store.read_calls"] = len(by_name.get("ops.store.read", [])) / n_ops
    out["connectors.ms"] = sum(by_name.get("connectors", [])) / n_ops

    # span subtrees of the ops; jobs of HTTP routes run on the server's
    # threads (span 0) and are matched to a request by time overlap
    kids = {}
    for s in spans:
        kids.setdefault(s[2], []).append(s)
    jobs = tr["jobs"]
    gaps, in_ops = [], {0}
    for op in ops:
        sub, stack = {op[0]}, [op]
        while stack:
            for c in kids.get(stack.pop()[0], []):
                sub.add(c[0])
                stack.append(c)
        in_ops |= sub
        http = any(c[1] == "app.http.request" for c in kids.get(op[0], []))
        iv = [(j[1], j[2]) for j in jobs if j[3] in sub or (http and j[3] == 0)]
        gaps.append(m.driver_gap(op[4], op[5], iv))
    out["spark.driver_gap_ms"] = m.median(gaps)

    def counter(name):
        return sum(v for k, v in tr["counters"].get(name, {}).items() if int(k) in in_ops) / n_ops
    for name in ("spark.jobs", "spark.stages", "spark.tasks", "spark.scheduler_delay_ms",
                 "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                 "spark.spill_bytes", "spark.input_records"):
        out[name] = counter(name)
    out["spark.task_cpu_ms"] = counter("spark.task_cpu_ns") / 1e6
    for k, v in tr["plans"].items():
        if "plans." + k in out:
            out["plans." + k] = v / n_ops
    out["jvm.gc_ms"] = tr["jvm"]["gc_ms"] / n_ops
    out["jvm.jit_ms"] = tr["jvm"]["jit_ms"] / n_ops

    lat = commit_latencies(raw) if w == "sync_archive" else []
    out["ops.store.commit_ms"] = m.median([x for _, x in lat])
    out["ops.store.commits"] = len(raw["store"]["publishes"]) / n_ops
    out["ops.store.commit_retries"] = raw["store"]["cas_refusals"] / n_ops
    out["ops.store.files_linked"] = raw["store"]["linked_files"] / n_ops
    if w == "sync_archive":
        rounds = r["rounds"]
        # the bucketed corpus table publishes its upsert first, then any
        # auto-maintain compaction, before another table publishes
        upsert, maintain, prev = [], [], None
        for table, ms in lat:
            if table.endswith("/corpus"):
                (maintain if prev == table else upsert).append(ms)
            prev = table
        out["ops.store.upsert_bucketed_ms"] = m.median(upsert)
        out["ops.store.maintain_ms"] = m.median(maintain)
        before, new_files, new_bytes = r["start_listing"], 0, 0
        for x in rounds:
            b, f = m.new_inode_bytes(before, x["listing"])
            new_bytes, new_files = new_bytes + b, new_files + f
            before = before + x["listing"]
        out["ops.store.files_new"] = new_files / n_ops
        out["ops.store.bytes_written"] = new_bytes / n_ops
        linked = raw["store"]["linked_files"]
        out["ops.store.link_ratio"] = linked / (linked + new_files) if linked + new_files else 0.0
        out["ops.store.versions_retained"] = rounds[-1]["versions_retained"]
        batches = [b for x in rounds for b in x["stream"]["batch_ms"]]
        rows = [b for x in rounds for b in x["stream"]["rows"]]
        out["streaming.batches"] = len(batches) / n_ops
        out["streaming.batch_ms"] = m.median(batches)
        out["streaming.rows_per_batch"] = m.median(rows)
    if w == "serve_archive":
        routes = r["routes"]
        out["app.http.overhead_ms"] = (m.median([x["http_ms"] for x in routes]) -
                                       m.median([x["direct_ms"] for x in routes]))
        returned = max(1, r["rows_returned"])
        out["app.rows_examined_per_row"] = counter("spark.input_records") * n_ops / returned
        mid = r["phases"][0]
        out["loadgen.late_ms_p95"] = m.percentile(mid["late_ms"], 95) if mid["late_ms"] else 0.0
        out["loadgen.backlog_max"] = mid["backlog_max"]
    # what recording the ops' spans added: spans per op times the
    # measured cost of a recorded over an unrecorded span
    spans_per_op = sum(1 for s in spans if s[0] in in_ops) / n_ops
    out["tracing.overhead_ms"] = spans_per_op * raw["span_cost_ms"]
    layers = {}
    names = {s[0]: s[1] for s in spans}
    for cname, per_span in tr["counters"].items():
        for sid, v in per_span.items():
            layer = names.get(int(sid), "unattributed")
            layers.setdefault(layer, {})[cname] = layers.get(layer, {}).get(cname, 0) + v
    return out, {"spark_by_layer": layers}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        jars = spark_jars()
        classes = build(jars)
        deadline = time.time() + RUN_LIMIT_S
        work = BUILD / f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        try:
            raw = run_jvm(classes, jars, args, work, deadline)
            attempted, failed, errors = raw["attempted"], raw["failed"], raw["errors"]
            e2e, detail = e2e_metrics(raw)
            results = BUILD / "results"
            results.mkdir(exist_ok=True)
            if args.trace:
                values, extra = layer_metrics(raw)
                units = PER_LAYER
                detail.update(extra)
                # the whole-run difference, when this checkout has the
                # untraced run of the same workload and seed
                untraced = results / f"{args.workload}-seed{args.seed}-trace0.json"
                if untraced.exists():
                    before = json.loads(untraced.read_text())["e2e"]
                    detail["traced_minus_untraced"] = {k: e2e[k] - before[k] for k in e2e}
            else:
                values, units = e2e, END_TO_END
            name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
            (results / name).write_text(json.dumps({"e2e": e2e, "detail": detail, "raw": raw}))
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except (BenchError, ValueError) as e:
        # ValueError: samples the metrics cannot be computed from
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    detail["failed_frac"] = failed / attempted if attempted else 1.0
    detail["errors"] = errors[:10]
    print(json.dumps({"workload": args.workload, "detail": detail}, default=str))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
