#!/usr/bin/env python3
"""DMARC product-path benchmark for graft.

Run from the root of a checkout:

    python3 dmarcbench/run.py --workload dmarc_ingest --seed 1 --seconds 10 --trace 0

It builds the program and the harness from source with sbt (once per
source state), generates the workload's inputs from the seed, runs the
workload in one JVM, checks the outputs and prints the metrics. The last
line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
Everything it writes stays under the build directory
(`$CARGO_TARGET_DIR/dmarcbench`, default `.bench_build/dmarcbench`) and the
sbt target directories of the checkout.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("dmarc_ingest", "dmarc_dashboard", "web_prepare")
# how often a run builds its inputs during set-up; setup_s takes the median
INPUT_BUILDS = 3
# a fixed-size heap with the throughput collector: G1's lazy heap growth
# made peak RSS and pass times swing by a quarter between identical runs
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# all-CPU canary (ms) on the quiet 4-CPU host the bounds were set on, and
# how far a run's canary may stray from it, or from itself across the
# window, before the run is marked not comparable: the throughput bound
REFERENCE_CANARY_MS = 42.0
CANARY_TOLERANCE = 0.24
# Typical pass time (s) of each workload on the quiet 4-CPU host. A run
# times round(--seconds / this) passes, at least one: so every run of a
# workload does the same work, and the passes the JIT is still settling
# in (the first timed pass took up to twice the CPU time of later ones)
# weigh the same in every run's median.
TYPICAL_PASS_S = {"dmarc_ingest": 3.6, "dmarc_dashboard": 7.0, "web_prepare": 6.8}
# JVM time allowed on top of --seconds: session start, table build,
# warm-up pass, checks; a traced run adds traced passes and layer probes
SETUP_MARGIN_S = {0: 140, 1: 330}
WINDOW_START = "2026-01-01 00:00:00"
FULL_START = "2025-01-01 00:00:00"


def fail(msg):
    print(f"dmarcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base, "dmarcbench")


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if os.path.isfile(os.path.join(proj, f))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(bdir):
    """Compile graft and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources here (build.sbt, src/main/scala); run from a checkout root")
    stamp_file, cp_file = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")][-1].strip()
    os.makedirs(bdir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"dmarcbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def make_inputs(workload, seed, inputs):
    """Build the workload's seeded inputs INPUT_BUILDS times into fresh
    directories (each build must be identical); keep the last. Returns
    (median build seconds, generator facts)."""
    times, facts, prev = [], None, None
    for i in range(INPUT_BUILDS):
        shutil.rmtree(inputs, ignore_errors=True)
        os.makedirs(inputs)
        t0 = time.perf_counter()
        if workload == "dmarc_ingest":
            facts = gen.ingest_corpus(seed, inputs)
            digest = tree_digest(inputs)
        elif workload == "web_prepare":
            facts = gen.web_documents(seed, os.path.join(inputs, "documents.parquet"))
            with open(os.path.join(inputs, "documents.parquet"), "rb") as f:
                digest = hashlib.sha256(f.read()).hexdigest()
        else:
            facts, digest = None, ""   # the dashboard's tables are written by the JVM
        times.append(time.perf_counter() - t0)
        if prev is not None and digest != prev:
            fail(f"input generation is not deterministic for seed {seed}")
        prev = digest
    return statistics.median(times), facts


def run_jvm(cp, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={tmp}"]
    env = dict(os.environ)
    cpus = str(len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count())
    env["SPARK_GRAFT_CPUS"] = cpus
    env["SPARK_LOCAL_DIRS"] = tmp
    log = open(os.path.join(work, "jvm.log"), "w")
    t0 = time.time()
    p = subprocess.Popen([java] + opts + ["-cp", cp, "dmarcbench.Harness"] + args,
                         cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=log, stderr=log)
    try:
        rc = p.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("the workload JVM ran out of time")
    finally:
        log.close()
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"the workload JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return t0, json.load(f)


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s), math.ceil(q * len(s) / 100)) - 1)]


SPAN_LAYERS = ("ingest.sources", "ingest.functions", "dash.api", "web.api", "web.operators")
SPAN_COUNTS = (("jobs", "count"), ("tasks", "count"), ("executor_cpu_s", "s"),
               ("shuffle_write_bytes", "B"), ("spill_bytes", "B"), ("input_bytes", "B"))
DASH_PANELS = ("daily_volume", "total_messages", "compliance_rate", "pass_fail", "dispositions",
               "top_countries", "org_compliance", "top_sources", "forensic_per_day",
               "feedback_types", "delivery_results", "top_reported_domains",
               "forensic_top_countries", "top_forensic_sources", "tls_failure_breakdown",
               "tls_session_success", "summary")
INGEST_TABLES = ("records", "reports", "forensic", "tls_reports", "tls_failures")


def tail(xs):
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, as the nearest-rank value."""
    q = max(50, int(100 * (1 - 10 / len(xs)))) if len(xs) > 20 else 50
    return q, pct(xs, q)


def span_work(spans, workload):
    """Spark work per layer span, per product-path unit of the workload:
    per traced pass (ingest sources), per enrichment probe (ingest
    functions), per traced refresh (dashboard), per call (web)."""
    out = {}
    passes = {s["id"] for s in spans if s["name"] == "ingest:pass"}
    refreshes = [s for s in spans if s["name"].startswith("dash:refresh")]
    for layer in SPAN_LAYERS:
        sel = [s for s in spans if s["name"].split(":", 1)[0] == layer]
        if layer == "ingest.sources":
            sel, units = [s for s in sel if s["parent"] in passes], len(passes)
        elif layer == "ingest.functions":
            sel = [s for s in sel if s["parent"] not in passes]
            units = len(sel)
        elif layer == "dash.api":
            units = len(refreshes)
        else:
            units = len(sel)
        for key, unit in SPAN_COUNTS:
            out[f"{layer}.{key}"] = (sum(s[key] for s in sel) / units if units else 0.0, unit)
    return out


def metrics(workload, res, setup_s, facts, spans):
    """(end-to-end, per-layer) metrics of one run as {name: (value, unit)}.
    Per-layer metrics of a layer the workload does not run read 0."""
    med = statistics.median
    e2e = {"setup_s": (setup_s, "s"), "peak_rss_mb": (res["peak_rss_mb"], "MiB")}
    layer = {}
    cpu_p50 = med(res["pass_cpu_s"])
    if workload == "dmarc_ingest":
        p50 = med(res["pass_s"])
        e2e.update(items_per_s=(facts["records_total"] / p50, "items/s"),
                   cpu_ms_per_item=(1e3 * cpu_p50 / facts["records_total"], "ms/item"),
                   ingest_records_per_s=(facts["records_total"] / p50, "records/s"),
                   stored_bytes_per_record=(res["table_bytes"] / facts["records_total"], "B/record"))
        if spans:
            step = res["step_s"]
            layer.update({
                "ingest.sources.scan_s": (res["scan_s"], "s"),
                "ingest.sources.read_amplification": (res["read_amplification"], "ratio"),
                "ingest.sources.decode_us_per_file": (res["decode_us_per_file"], "us"),
                "ingest.sources.parse_us_per_record": (res["parse_us_per_record"], "us"),
                "ingest.sources.forensic_parse_us_per_file": (res["forensic_parse_us_per_file"], "us"),
                "ingest.sources.tls_parse_us_per_file": (res["tls_parse_us_per_file"], "us"),
                "ingest.sources.parse_s": (res["parse_s"], "s"),
                "ingest.sources.parse_ok_ratio": (res["parse_ok_ratio"], "ratio"),
                "ingest.functions.enrich_s": (res["enrich_s"], "s"),
                "ingest.functions.enrich_hit_ratio": (res["enrich_hit_ratio"], "ratio"),
                "ingest.sources.export_csv_s": (step["ingest.sources:export_csv"], "s"),
                "ingest.sources.files_written": (res["files_written"], "count"),
                "ingest.sources.stored_bytes_per_record": e2e["stored_bytes_per_record"],
            })
            for t in INGEST_TABLES:
                layer[f"ingest.sources.write_s.{t}"] = (step[f"ingest.sources:write_{t}"], "s")
    elif workload == "dmarc_dashboard":
        p50 = med(res["pass_s"])
        done = res["panel_done_ms"]
        per_pass = len(done) / len(res["pass_s"])
        q, v = tail(done)
        e2e.update(items_per_s=(per_pass / p50, "items/s"),
                   cpu_ms_per_item=(1e3 * cpu_p50 / per_pass, "ms/item"),
                   dash_panel_ms_p50=(med(done), "ms"), dash_panel_ms_p95=(pct(done, 95), "ms"),
                   dash_panel_ms_tail=(v, "ms"), dash_panel_tail_pct=(q, "%"),
                   dash_panel_samples=(len(done), "count"),
                   dash_refresh_s_p50=(med(res["refresh_s"]), "s"))
        if spans:
            layer.update({
                "dash.api.panel_ms_p50": e2e["dash_panel_ms_p50"],
                "dash.api.panel_ms_tail": e2e["dash_panel_ms_tail"],
                "dash.api.refresh_s_p50": e2e["dash_refresh_s_p50"],
                "dash.api.plan_ms": (med(res["plan_ms"]), "ms"),
                "dash.api.exec_ms": (med(res["exec_ms"]), "ms"),
                "dash.scan.files_read_ratio.window": (res["files_read_ratio_window"], "ratio"),
                "dash.scan.files_read_ratio.full": (res["files_read_ratio_full"], "ratio"),
                "dash.scan.bytes_read_per_panel.window": (res["bytes_read_per_panel_window"], "B"),
                "dash.scan.bytes_read_per_panel.full": (res["bytes_read_per_panel_full"], "B"),
            })
            for p in DASH_PANELS:
                layer[f"dash.api.panel_ms.{p}"] = (med(res["panel_service_ms"][p]), "ms")
    else:
        p50 = med(res["pass_s"])
        e2e.update(items_per_s=(res["docs"] / p50, "items/s"),
                   cpu_ms_per_item=(1e3 * cpu_p50 / res["docs"], "ms/item"),
                   web_docs_per_s=(res["docs"] / med(res["prepare_s"]), "docs/s"),
                   probe_docs_per_s=(res["docs"] / med(res["probe_s"]), "docs/s"))
        if spans:
            layer.update({
                "web.api.prepare_s": (med(res["prepare_s"]), "s"),
                "web.api.prepare_jobs": (res["prepare_jobs"], "count"),
                "web.api.prepare_shuffle_bytes": (res["prepare_shuffle_bytes"], "B"),
                "web.operators.probe_s": (med(res["probe_s"]), "s"),
                "web.operators.probe_jobs": (res["probe_jobs"], "count"),
                "web.operators.probe_pairs": (res["probe_pairs"], "count"),
            })
    if spans:
        layer.update(span_work(spans, workload))
        layer["trace.overhead_s"] = (res["trace_overhead_s"], "s")
    return e2e, layer


def host_comparable(ctx):
    """Whether the run's CPU share looked like the reference host's: the
    all-CPU canary before and after the window, each against the
    reference and against each other. A run that is not comparable is
    still reported, with a warning; its timings reflect the host's load
    as much as the program."""
    before, after = ctx["cpu_canary_parallel_before_ms"], ctx["cpu_canary_parallel_ms"]
    off = {"before_vs_reference": before / REFERENCE_CANARY_MS - 1,
           "after_vs_reference": after / REFERENCE_CANARY_MS - 1,
           "after_vs_before": after / before - 1 if before > 0 else float("inf")}
    bad = {k: v for k, v in off.items() if abs(v) > CANARY_TOLERANCE}
    for k, v in bad.items():
        print(f"dmarcbench: warning: host not comparable: all-CPU canary {k} {v:+.0%}",
              file=sys.stderr)
    return {"ok": not bad, **off}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    bdir = build_dir()
    cp = build(bdir)
    passes = max(1, round(a.seconds / TYPICAL_PASS_S[a.workload]))
    deadline = time.time() + a.seconds + SETUP_MARGIN_S[a.trace]

    work = os.path.join(bdir, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    t_setup0 = time.time()
    gen_s, facts = make_inputs(a.workload, a.seed, inputs)
    gen_wall = time.time() - t_setup0
    t_jvm, res = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                              "--passes", str(passes), "--trace", str(a.trace),
                              "--inputs", inputs, "--work", work], work, deadline)
    # set-up: input build (median of INPUT_BUILDS), then JVM launch up to
    # the start of the timed window (session, table build, warm-up)
    setup_s = gen_s + (res["window_start_ms"] / 1e3 - t_jvm)

    checks = []
    if a.workload == "dmarc_ingest":
        checks = check.ingest(res["out_dir"], facts, res, res["ingest_month"])
    elif a.workload == "dmarc_dashboard":
        checks = check.dashboard(os.path.join(inputs, "tables"), res, WINDOW_START, FULL_START)
    else:
        checks = check.web(res, facts, gen.N_DOCS, os.path.join(inputs, "documents.parquet"))
    bad = [c for c in checks if not c[1]]
    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + len(bad)
    for name, _, detail in bad:
        print(f"dmarcbench: check failed: {name} {detail}", file=sys.stderr)
    for e in res["errors"]:
        print(f"dmarcbench: {e}", file=sys.stderr)

    comparable = host_comparable(res["context"])

    spans = []
    if a.trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(ln) for ln in f if ln.strip()]
    e2e, layer = metrics(a.workload, res, setup_s, facts, spans)
    e2e["op_failure_ratio"] = (failed / attempted, "ratio")
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "setup": {"inputs_s": gen_s, "inputs_wall_s": gen_wall, "session_s": res["session_s"],
                  "warmup_s": res["warmup_s"], "build_s": res.get("build_s")},
        "context": res["context"], "comparable": comparable, "checks": len(checks), "checks_failed": [c[0] for c in bad],
        "pass_s": res["pass_s"], "pass_cpu_s": res["pass_cpu_s"], "stages": res.get("stages"),
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layer.items()},
        "elapsed_s": time.time() - started,
    }
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary))
    for d in ("inputs", "out", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = layer
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        values = e2e
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    own = {"dmarc_ingest": "ingest.", "dmarc_dashboard": "dash.", "web_prepare": "web."}[a.workload]
    foreign = tuple(p for p in ("ingest.", "dash.", "web.") if p != own)
    out = {}
    for n in names:
        if n not in values and not (a.trace and n.startswith(foreign)):
            fail(f"metric {n} was not measured")
        v, u = values.get(n, (0.0, units[n]))   # a layer this workload does not run
        out[n] = {"value": v, "unit": u}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
