"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # every workload
    python3 perfbench/run.py --workload corpus_dedup --overhead  # traced - untraced
    python3 perfbench/run.py --selftest                          # self-tests

One run builds the engine and the harness if needed (perfbench/build.py),
starts one fresh JVM for the workload and turns its raw output into
metrics. The last line of standard output is one JSON object: with
--trace 0 the end-to-end metrics, with --trace 1 the per-layer metrics.
A failed operation or output check prints {"correct": false, ...} with no
metrics and exits 1. Details are in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics as m  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(build.BUILD, "work")
JVM_TIMEOUT_S = 170
DRIVER_MEMORY = "3g"
INPUT_CACHE_KEEP = 6

WORKLOADS = ["etl_daily", "corpus_dedup", "index_serve_cdc"]
# the workloads BENCHMARK.json gates; etl_daily fails its output check on
# the current engine (perfbench/README.md)
GATED = ["corpus_dedup", "index_serve_cdc"]

# end-to-end metrics, the same on every workload: (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("bulk_s", "s", "lower"),
    ("round_p50_s", "s", "lower"),
]

# layer spans recorded by the traced run, per workload
SPANS = {
    "etl_daily": ["pipelines.dimension", "pipelines.performance",
                  "pipelines.leads", "pipelines.raw_leads",
                  "sinks.upsert_dim", "sinks.upsert_fact"],
    "corpus_dedup": ["ext.quality_filter", "ext.exact_dedup",
                     "ext.minhash_pairs", "ext.star_cc"],
    "index_serve_cdc": ["ext.bm25_build", "ext.ivf_build", "ext.hybrid_serve",
                        "streaming.cdc_batch", "ext.compact"],
}
WRITE_SPANS = {"sinks.upsert_dim", "sinks.upsert_fact", "ext.bm25_build",
               "ext.ivf_build", "streaming.cdc_batch", "ext.compact"}
MEASURES = [("self_s", "s"), ("jobs", "count"), ("task_s", "s"),
            ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("idle_s", "s")]
EXTRA_LAYER = {
    "all": [("root.self_s", "s"), ("harness.self_s", "s")],
    "index_serve_cdc": [("streaming.cdc_batch.add_batch_ms", "ms"),
                        ("streaming.cdc_batch.trigger_ms", "ms"),
                        ("sinks.index_segments", "count"),
                        ("sinks.index_mb", "MB")],
}


def per_layer_units(workload):
    """The per-layer metrics a traced run prints: those of every gated
    workload for a gated one (BENCHMARK.json lists one set for all), its
    own for etl_daily."""
    group = GATED if workload in GATED else [workload]
    out = {}
    for w in group:
        for span in SPANS[w]:
            for measure, unit in MEASURES:
                out["%s.%s" % (span, measure)] = unit
            if span in WRITE_SPANS:
                out[span + ".written_mb"] = "MB"
        out.update(dict(EXTRA_LAYER.get(w, [])))
    out.update(dict(EXTRA_LAYER["all"]))
    return out


def _prune_input_cache():
    d = os.path.join(WORK, "inputs")
    if not os.path.isdir(d):
        return
    dirs = sorted((os.path.join(d, n) for n in os.listdir(d)), key=os.path.getmtime)
    for p in dirs[:-INPUT_CACHE_KEEP]:
        shutil.rmtree(p, ignore_errors=True)


def run_jvm(classpath, workload, seed, seconds, trace):
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    _prune_input_cache()
    raw = os.path.join(WORK, "raw-%s-%d-%d.json" % (workload, seed, trace))
    if os.path.exists(raw):
        os.remove(raw)
    log = os.path.join(WORK, "logs", "%s-%d-%d.log" % (workload, seed, trace))
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xms" + DRIVER_MEMORY, "-Xmx" + DRIVER_MEMORY, "-Xss8m",
           "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + os.path.join(WORK, "tmp")]
    for p in opens:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    launch_ms = time.time() * 1000.0
    cmd += ["-cp", classpath, "graft.perfbench.Main", "run", workload, str(seed),
            str(seconds), str(trace), WORK, raw, "%.3f" % launch_ms]
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=WORK,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(raw):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError("benchmark JVM failed (%s); log: %s" % (rc, log))
    with open(raw) as f:
        return json.load(f)


def _jobs(raw):
    for j in raw["jobs"]:
        if j["end"] is None:
            j["end"] = j["start"]
    return raw["jobs"]


def detail(raw):
    """Every named end-to-end measure of the run, with unit and sample
    count: [(name, value, unit, note)]."""
    s = raw["samples"]
    q = raw["quality"]
    w = raw["workload"]
    rows = [("setup_s", setup_s(raw), "s",
             "jvm %.3f + sessions %s (median) + warm-up %.3f" % (
                 raw["jvm_s"], " ".join("%.3f" % x for x in raw["setup_session_s"]),
                 raw["warmup_s"])),
            ("failed_ops_ratio", raw["failed"] / max(raw["attempted"], 1), "ratio",
             "n=%d" % raw["attempted"]),
            ("peak_rss_mb", raw["peak_rss_mb"], "MB", "VmHWM")]

    def timing(name, key, scale, unit):
        v = s.get(key, [])
        rows.append((name + "_p50_" + unit, m.median(v) * scale if v else None, unit,
                     "n=%d" % len(v)))
        t, pct, n = m.tail(v)
        rows.append((name + "_tail_" + unit, t * scale if t is not None else None, unit,
                     "p%.1f n=%d" % (pct, n) if pct else "n=%d < 11" % n))

    if w == "etl_daily":
        rows.append(("etl_backfill_s", m.median(s["bulk"]), "s", "n=%d" % len(s["bulk"])))
        timing("etl_day", "round", 1, "s")
    elif w == "corpus_dedup":
        rows.append(("dedup_docs_per_s", s["bulk_docs"][0] / m.median(s["bulk"]),
                     "docs/s", "docs=%d n=%d" % (s["bulk_docs"][0], len(s["bulk"]))))
        rows.append(("dedup_recall", q.get("dedup_recall"), "ratio", "planted truth"))
        rows.append(("dedup_precision", q.get("dedup_precision"), "ratio", "planted truth"))
        timing("dedup_increment", "round", 1, "s")
    else:
        rows.append(("index_build_s", m.median(s["bulk"]), "s", "n=%d" % len(s["bulk"])))
        timing("serve", "serve", 1000, "ms")
        timing("cdc_batch", "cdc_batch", 1000, "ms")
        timing("compact", "compact", 1000, "ms")
        rows.append(("serve_recall", q.get("serve_recall"), "ratio", "vs exact RRF"))
        rows.append(("index_space_ratio", q.get("index_space_ratio"), "ratio", ""))
    return rows


def setup_s(raw):
    """JVM start + the median of the session creations + the warm-up."""
    return raw["jvm_s"] + m.median(raw["setup_session_s"]) + raw["warmup_s"]


def end_to_end(raw):
    s = raw["samples"]
    return {"setup_s": setup_s(raw),
            "bulk_s": m.median(s["bulk"]),
            "round_p50_s": m.median(s["round"])}


def per_layer(raw):
    w = raw["workload"]
    out = {k: 0.0 for k in per_layer_units(w)}
    out.update(m.layer_metrics(raw["spans"], _jobs(raw), raw["window"], SPANS[w],
                               WRITE_SPANS))
    prog = raw["progress"]
    if prog:
        out["streaming.cdc_batch.add_batch_ms"] = m.median([p["add_batch_ms"] for p in prog])
        out["streaming.cdc_batch.trigger_ms"] = m.median(
            [p["trigger_ms"] - p["add_batch_ms"] for p in prog])
    g = raw["gauges"]
    if g.get("sinks.index_segments"):
        out["sinks.index_segments"] = m.median(g["sinks.index_segments"])
    if g.get("sinks.index_mb"):
        out["sinks.index_mb"] = m.median(g["sinks.index_mb"])
    return out


def run_one(classpath, workload, seed, seconds, trace, quiet=False):
    raw = run_jvm(classpath, workload, seed, seconds, trace)
    ok = raw["failed"] == 0 and all(c["ok"] for c in raw["checks"])
    say = (lambda *a: None) if quiet else print
    env = raw["env"]
    say("# %s seed=%d trace=%d cores=%s jdk=%s spark=%s input=%s window=%.1fs" % (
        workload, seed, trace, env["cores"], env["jdk"], env["spark"],
        raw["input_digest"][:16], (raw["window"][1] - raw["window"][0]) / 1000.0))
    for c in raw["checks"]:
        say("# check %-45s %s  %s" % (c["name"], "ok" if c["ok"] else "FAILED", c["detail"]))
    for e in raw["errors"]:
        say("# error %s" % e)
    if not ok:
        return raw, {"correct": False, "attempted": raw["attempted"],
                     "failed": max(raw["failed"], 1), "metrics": {}}
    for name, value, unit, note in detail(raw):
        say("# %-24s %14s %-7s %s" % (name, "-" if value is None else "%.6g" % value,
                                       unit, note))
    if trace:
        units = per_layer_units(workload)
        vals = per_layer(raw)
        wall = (raw["window"][1] - raw["window"][0]) / 1000.0
        say("# root.self_s share of wall: %.3f; harness.self_s share: %.3f" % (
            vals["root.self_s"] / wall, vals["harness.self_s"] / wall))
        calls = m.span_calls(raw["spans"])
        for name in SPANS[workload]:
            say("# layer %-22s calls=%d " % (name, calls.get(name, 0)) + " ".join(
                "%s=%.4g" % (k[len(name) + 1:], v) for k, v in vals.items()
                if k.startswith(name + ".")))
        mets = {k: {"value": vals[k], "unit": units[k]} for k in units}
    else:
        units = {n: u for n, u, _ in END_TO_END}
        mets = {k: {"value": v, "unit": units[k]} for k, v in end_to_end(raw).items()}
    return raw, {"correct": True, "attempted": raw["attempted"],
                 "failed": raw["failed"], "metrics": mets}


def selftest(classpath):
    import unittest
    suite = unittest.defaultTestLoader.discover(os.path.join(HERE, "tests"))
    if not unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful():
        return 1
    return subprocess.call(["java", "-Xmx1g", "-cp", classpath, "graft.perfbench.Main",
                            "gen-selftest", "7"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--overhead", action="store_true",
                    help="run untraced then traced on one seed; report the difference")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2
    if a.selftest:
        return selftest(classpath)
    if a.overhead:
        return overhead(classpath, a)
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    results = []
    for w in workloads:
        try:
            results.append((w, run_one(classpath, w, a.seed, a.seconds, a.trace)[1]))
        except RuntimeError as e:
            print("perfbench: %s" % e, file=sys.stderr)
            return 1
    if len(results) == 1:
        res = results[0][1]
    else:
        res = {"correct": all(r["correct"] for _, r in results),
               "attempted": sum(r["attempted"] for _, r in results),
               "failed": sum(r["failed"] for _, r in results),
               "metrics": {"%s.%s" % (w, k): v for w, r in results
                           for k, v in r["metrics"].items()}}
    print(json.dumps(res))
    return 0 if res["correct"] else 1


def overhead(classpath, a):
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    report = {}
    for w in workloads:
        raws = [run_one(classpath, w, a.seed, a.seconds, t, quiet=True)[0] for t in (0, 1)]
        window = [(r["window"][1] - r["window"][0]) / 1000.0 for r in raws]
        e2e = [end_to_end(r) for r in raws]
        report[w] = {"untraced_window_s": window[0], "traced_window_s": window[1]}
        for k in ("bulk_s", "round_p50_s"):
            report[w][k + "_overhead"] = e2e[1][k] - e2e[0][k]
        print("# %s tracing overhead: %s" % (w, json.dumps(report[w])))
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
