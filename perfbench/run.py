#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload olap_cold --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run compiles the engine and the
JVM harness into .bench_build/. `--trace 0` prints the end-to-end metrics;
`--trace 1` runs the workload untraced and then traced, each in a fresh
JVM, and prints the per-layer metrics plus the tracing overhead. Every
run also writes a full report to .bench_build/reports/. See README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import canon  # noqa: E402
import inputs  # noqa: E402
import spans as spanlib  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("olap_cold", "sql_rw", "corpus_curation")
# Every JVM of one invocation must end within this many seconds of the build.
RUN_LIMIT_S = 170
deadline = float("inf")
HEAP = {"olap_cold": "3g", "sql_rw": "2g", "corpus_curation": "1g"}
DATA = {"olap_cold": "sf0.01", "sql_rw": "sf0.01", "corpus_curation": "sf0.1"}
# corpus_curation starves execution memory so the gram stream spills
SPARK_CONF = {"corpus_curation": {"spark.memory.fraction": "0.05"}}
SETUP_REPS = {"olap_cold": 2, "sql_rw": 3, "corpus_curation": 3}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def golden(name):
    path = os.path.join(HERE, "golden", name + ".json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def save_golden(name, data):
    with open(os.path.join(HERE, "golden", name + ".json"), "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


def text_key(sql):
    return hashlib.sha1(sql.encode("utf-8")).hexdigest()[:16]


# ---- one JVM ---------------------------------------------------------------

def launch(root, classes, workload, seed, trace, run_dir, extra):
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cfg = {"workload": workload, "trace": bool(trace), "seed": seed,
           "data_dir": os.path.join(HERE, "data", DATA[workload]),
           "work_dir": work, "cpus": os.cpu_count() or 1,
           "setup_reps": SETUP_REPS[workload],
           "out": os.path.join(run_dir, "out.json"),
           "spark_conf": SPARK_CONF.get(workload, {})}
    cfg.update(extra)
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    cmd = [build.java()]
    cmd += ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd += ["-Xms" + HEAP[workload], "-Xmx" + HEAP[workload], "-Xss8m",
            "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join([classes, os.path.join(
                os.path.dirname(build.spark_jars()[0]), "*")]),
            "perfbench.Main", cfg_path]
    spawn = time.time()
    cpu0 = host_cpu()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log,
                                stderr=subprocess.STDOUT)
        code, usage = wait(proc)
    steal = steal_pct(cpu0, host_cpu())
    print(f"{workload}: JVM ran {time.time() - spawn:.1f} s, host CPU steal "
          f"{steal:.1f} %", file=sys.stderr)
    if code != 0 or not os.path.exists(cfg["out"]):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"{workload} JVM exited with {code}:\n{tail}")
    with open(cfg["out"]) as f:
        out = json.load(f)
    out["jvm_session_s"] = out["session_ready_epoch_ms"] / 1000.0 - spawn
    out["peak_rss_mib"] = usage.ru_maxrss / 1024.0  # KiB on Linux
    out["host_steal_pct"] = steal
    return out


def host_cpu():
    """The machine's CPU time counters (the first line of /proc/stat), or
    None where there is no such file."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_pct(before, after):
    """Share of the machine's CPU time the hypervisor gave to other guests
    between two host_cpu() readings: a run with a high share ran on a
    slower machine and its times are not comparable."""
    if not before or not after or len(after) < 8:
        return 0.0
    delta = [a - b for a, b in zip(after, before)]
    return 100.0 * delta[7] / max(1, sum(delta[:8]))


def wait(proc):
    """Reap the JVM by the deadline, killing it past that; returns its exit
    code ("timeout" when killed) and its own resource usage."""
    while True:
        pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            break
        if time.time() > deadline:
            proc.kill()
            _, status, usage = os.wait4(proc.pid, 0)
            proc.returncode = -9
            return "timeout", usage
        time.sleep(0.1)
    proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage


# ---- correctness -------------------------------------------------------------

class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems = []

    def op(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def final(self, ok, what):
        if not ok:
            self.problems.append(what)


def check_olap(out, checks, record):
    gold = golden("olap_cold")
    hashes = {}
    for o in out["prewarm"]:
        checks.op(o["ok"], f"prewarm {o['name']}: {o.get('error')}")
    for o in out["ops"]:
        if not o["ok"]:
            checks.op(False, f"{o['name']}: {o.get('error')}")
            continue
        h = canon.result_hash(o["columns"], o["data"])
        hashes[o["name"]] = h
        if record:
            checks.op(True, o["name"])
        else:
            checks.op(gold.get(o["name"]) == h, f"{o['name']}: result hash "
                      f"{h[:12]} != golden {str(gold.get(o['name']))[:12]}")
    if record:
        save_golden("olap_cold", {**gold, **hashes})


def check_sql(out, checks, script, record):
    gold = golden("sql_rw")
    recorded = {}
    for o in out["prewarm"]:
        checks.op(o["ok"], f"prewarm {o['kind']}: {o.get('error')}")
    for ci, results in enumerate(out["clients"]):
        for si, (stmt, got) in enumerate(zip(script["clients"][ci], results)):
            where = f"client {ci} statement {si} ({stmt['kind']})"
            if not got["ok"]:
                checks.op(False, f"{where}: {got.get('error')}")
                continue
            exp = stmt["expect"]
            if "golden" in exp:
                width = len(got["data"][0]) if got["data"] else 0
                h = canon.result_hash(["c%d" % i for i in range(width)], got["data"])
                key = text_key(stmt["sql"])
                if record:
                    recorded[key] = h
                    ok = True
                else:
                    ok = gold.get(key) == h
            elif "rows" in exp:
                ok = got["data"] == exp["rows"]
            elif stmt["kind"] == "read_pages":
                ok = (got["rows"], got["sum_k"], got["sum_v"]) == (
                    exp["count"], exp["sum_k"], exp["sum_v"])
            else:
                ok = got["data"] == [[exp["count"]]]
            checks.op(ok, f"{where}: got {str(got.get('data'))[:80]} "
                      f"expected {str(exp)[:80]}")
    want = script["final_state"]
    have = {r[0]: (r[1], r[2], r[3]) for r in out["final_state"]}
    bad = [k for k in set(want) | set(have) if want.get(k) != have.get(k)]
    checks.final(not bad and len(out["final_state"]) == len(have),
                 f"final Delta state differs from the model at {len(bad)} keys, "
                 f"e.g. {sorted(bad)[:5]}")
    if record:
        save_golden("sql_rw", {**gold, **recorded})


def check_corpus(out, checks, spec, record):
    gold = golden("corpus_curation")
    key = "factor_%d" % spec["factor"]
    have = {o["name"]: {"rows": o.get("rows"), "checksum": o.get("checksum")}
            for o in out["ops"]}
    for o in out["ops"]:
        ok = o["ok"] and (record or gold.get(key, {}).get(o["name"]) ==
                          have[o["name"]])
        checks.op(ok, f"{o['name']}: {o.get('error') or have[o['name']]} "
                  f"expected {gold.get(key, {}).get(o['name'])}")
    if record:
        gold[key] = have
        save_golden("corpus_curation", gold)


# ---- metrics -------------------------------------------------------------------

def pct(values, p, name, notes):
    v, n = stats.percentile(values, p)
    notes[name] = {"n": n, "reported": v is not None,
                   "needs": stats.samples_needed(p)}
    return v


def end_to_end(workload, out, notes):
    """The end-to-end metrics of one untraced JVM, and the workload's own
    detail figures (percentiles with their sample counts)."""
    run_s = out["pass_s"]
    if workload == "sql_rw":
        # rounds hold the same statements: the median round stands for all
        run_s = len(out["round_s"]) * statistics.median(out["round_s"])
    e2e = {"setup_s": out["jvm_session_s"] + statistics.median(out["fixture_s"]),
           "run_s": run_s, "cpu_s": out["pass_cpu_s"]}
    detail = {"peak_rss_mib": out["peak_rss_mib"]}
    if workload == "olap_cold":
        ms = [o["ms"] for o in out["ops"] if o["ok"]]
        detail["suite_s"] = out["pass_s"]
        detail["query_p50_ms"] = pct(ms, 50, "query_p50_ms", notes)
        detail["query_p90_ms"] = pct(ms, 90, "query_p90_ms", notes)
        ops = len(out["ops"])
    elif workload == "sql_rw":
        stmts = [s for c in out["clients"] for s in c]
        reads = [s["ms"] for s in stmts if s["ok"] and s["kind"].startswith("read")]
        writes = [s["ms"] for s in stmts if s["ok"] and s["kind"].startswith("write")]
        detail["read_p50_ms"] = pct(reads, 50, "read_p50_ms", notes)
        detail["read_p95_ms"] = pct(reads, 95, "read_p95_ms", notes)
        detail["write_p50_ms"] = pct(writes, 50, "write_p50_ms", notes)
        detail["write_p90_ms"] = pct(writes, 90, "write_p90_ms", notes)
        detail["stmt_per_s"] = len(stmts) / out["pass_s"]
        ops = len(stmts)
    else:
        detail["docs_per_s"] = out["docs"] / out["pass_s"]
        ops = len(out["ops"])
    failed = sum(1 for o in out["ops"] if not o["ok"]) if workload != "sql_rw" \
        else sum(1 for c in out["clients"] for s in c if not s["ok"])
    detail["error_rate"] = failed / max(1, ops)
    return e2e, detail


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


COUNTERS = ["exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_ms",
            "exec.task_run_ms", "exec.gc_ms", "shuffle.write_records",
            "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
            "spill.memory_bytes", "spill.disk_bytes"]
PLAN = ["plan.exchanges", "plan.reused_exchanges", "plan.broadcasts",
        "plan.sort_merge_joins", "plan.sorts", "plan.cache_scans"]
OLAP_LAYERS = ["tpch.build_ms", "tpcds.build_ms", "catalyst.analysis_ms",
               "catalyst.optimization_ms", "catalyst.planning_ms", "exec.ms",
               "rules.runs", "rules.effective_ratio"]
SQL_LAYERS = ["api.translate_ms", "api.submit_ms", "api.queued_ms",
              "api.first_page_ms", "api.page_ms", "api.pages",
              "api.response_bytes", "api.polls", "api.empty_poll_ratio",
              "lake.commits", "lake.data_files", "lake.snapshot_ms"]
CORPUS_LAYERS = ["ops.substring_dup_s", "ops.span_removal_s",
                 "ops.gopher_quality_s", "ops.hashed_classifier_s",
                 "ops.cluster_balance_s", "shuffle.records_per_doc"]
DETAIL = ["peak_rss_mib", "suite_s", "query_p50_ms", "query_p90_ms", "read_p50_ms",
          "read_p95_ms", "write_p50_ms", "write_p90_ms", "stmt_per_s",
          "docs_per_s", "error_rate"]
# Every per-layer metric, in BENCHMARK.json order. A layer a workload does
# not exercise reads 0.
PER_LAYER = (DETAIL + OLAP_LAYERS + COUNTERS + PLAN
             + ["cache.persisted_frames", "cache.leftover_rdds"]
             + SQL_LAYERS + CORPUS_LAYERS + ["trace.overhead_pct", "trace.spans"])
UNITS = [("_per_s", "1/s"), ("_per_doc", "1/doc"), ("ms", "ms"), ("_s", "s"),
         ("_mib", "MiB"), ("_bytes", "bytes"), ("_ratio", "ratio"),
         ("_pct", "%"), ("error_rate", "ratio")]


def unit_of(name):
    for suffix, unit in UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(workload, out, summary):
    """Per-layer figures of one traced JVM: span means and self times,
    listener counters and plan counts as means per operation."""
    def span_mean(name, field="total_ms"):
        s = summary.get(name)
        return s[field] / s["count"] if s else 0.0

    m = {}
    if workload == "sql_rw":
        ops = [s for c in out["clients"] for s in c]
    else:
        ops = out["ops"]
    layered = [o.get("layers", {}) for o in ops]
    for k in COUNTERS + PLAN:
        m[k] = mean(l.get(k, 0) for l in layered)
    m["cache.persisted_frames"] = sum(l.get("cache.persisted_frames", 0)
                                      for l in layered)
    m["cache.leftover_rdds"] = sum(o.get("leftover_rdds", 0) for o in ops)
    if workload == "olap_cold":
        m["tpch.build_ms"] = span_mean("tpch.build")
        m["tpcds.build_ms"] = span_mean("tpcds.build")
        for p in ("analysis", "optimization", "planning"):
            m["catalyst.%s_ms" % p] = span_mean("catalyst." + p)
        m["exec.ms"] = span_mean("exec", "self_ms")
        runs = sum(l.get("rules.runs", 0) for l in layered)
        m["rules.runs"] = runs / max(1, len(layered))
        m["rules.effective_ratio"] = sum(
            l.get("rules.effective_runs", 0) for l in layered) / max(1, runs)
    elif workload == "sql_rw":
        totals = out["listener_totals"]
        for k in COUNTERS:
            m[k] = totals.get(k, 0) / max(1, len(ops))
        # jobs and CPU as the server's job groups attribute them
        m["exec.jobs"] = mean(s.get("jobs", 0) for s in ops)
        m["exec.task_cpu_ms"] = mean(s.get("task_cpu_ms", 0) for s in ops)
        m["api.translate_ms"] = span_mean("api.translate")
        m["api.submit_ms"] = span_mean("api.submit")
        m["api.queued_ms"] = mean(s["queued_ms"] for s in ops if s["queued_ms"] >= 0)
        m["api.first_page_ms"] = mean(s["first_page_ms"] for s in ops
                                      if s["first_page_ms"] >= 0)
        m["api.page_ms"] = span_mean("api.poll")
        m["api.pages"] = mean(s["pages"] for s in ops)
        m["api.response_bytes"] = mean(s["response_bytes"] for s in ops)
        m["api.polls"] = mean(s["polls"] for s in ops)
        m["api.empty_poll_ratio"] = sum(s["empty_polls"] for s in ops) / max(
            1, sum(s["polls"] for s in ops))
        m["lake.commits"] = out["lake_commits"]
        m["lake.data_files"] = out["lake_data_files"]
        m["lake.snapshot_ms"] = span_mean("lake.snapshot")
    else:
        for o in ops:
            m["ops.%s_s" % o["name"]] = o.get("ms", 0.0) / 1000.0
        m["shuffle.records_per_doc"] = sum(
            l.get("shuffle.write_records", 0) for l in layered) / out["docs"]
    m["trace.spans"] = len(out["spans"])
    return m


# ---- main --------------------------------------------------------------------

def environment(root, out, seed):
    commit = None
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        commit = r.stdout.strip() or None
    return {"nproc": os.cpu_count(), "heap_max_mib": out["heap_max_mib"],
            "java": out["java_version"], "spark": out["spark_version"],
            "python": platform.python_version(), "git_commit": commit,
            "seed": seed}


def run_workload(root, classes, args, trace, record):
    workload, seed = args.workload, args.seed
    run_dir = os.path.join(root, ".bench_build", "runs",
                           f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if workload == "olap_cold":
            olap = inputs.olap_inputs(seed)
            if record:
                olap["order"] = sorted(inputs.TPCH + inputs.TPCDS)
            extra, ctx = {"olap": olap}, None
        elif workload == "sql_rw":
            ctx = inputs.sql_inputs(seed)
            if record:
                ctx["clients"] = [[{"kind": "read", "sql": s, "expect": {"golden": True}}
                                   for s in inputs.static_reads()]]
                ctx["spec"]["clients"] = 1
                ctx["final_state"] = inputs.initial_state(ctx["spec"])
            extra = {"sql": {**ctx["spec"], "prewarm": ctx["prewarm"],
                             "clients_script": [[{"kind": s["kind"], "sql": s["sql"]}
                                                 for s in c] for c in ctx["clients"]]}}
        else:
            ctx = inputs.corpus_inputs(seed)
            extra = {"corpus": ctx}
        out = launch(root, classes, workload, seed, trace, run_dir, extra)
        return out, ctx
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def check(workload, out, ctx, record):
    checks = Checks()
    if workload == "olap_cold":
        check_olap(out, checks, record)
    elif workload == "sql_rw":
        check_sql(out, checks, ctx, record)
    else:
        check_corpus(out, checks, ctx, record)
    leftover = sum(o.get("leftover_rdds", 0) for o in
                   (out["ops"] if workload != "sql_rw"
                    else [s for c in out["clients"] for s in c]))
    checks.final(leftover == 0, f"{leftover} persisted RDDs found before operations")
    return checks


def report_path(root, workload, seed, trace):
    return os.path.join(root, ".bench_build", "reports",
                        f"{workload}-seed{seed}-trace{trace}.json")


def save_report(root, report, trace):
    path = report_path(root, report["workload"], report["env"]["seed"], trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)


def untraced(root, classes, args, stamp):
    out, ctx = run_workload(root, classes, args, 0, args.record_golden)
    checks = check(args.workload, out, ctx, args.record_golden)
    notes = {}
    e2e, detail = end_to_end(args.workload, out, notes)
    report = {"workload": args.workload, "build": stamp,
              "env": environment(root, out, args.seed), "end_to_end": e2e,
              "setup": {"jvm_session_s": out["jvm_session_s"],
                        "fixture_s": out["fixture_s"]},
              "host_steal_pct": out["host_steal_pct"],
              "detail": detail, "percentile_samples": notes,
              "correct": checks.failed == 0 and not checks.problems,
              "attempted": checks.attempted, "failed": checks.failed,
              "problems": checks.problems[:50]}
    save_report(root, report, 0)
    return report


def traced(root, classes, args, stamp):
    """The traced run. Its overhead is measured against the untraced run of
    the same seed and build, which runs first unless its report exists."""
    ref = None
    path = report_path(root, args.workload, args.seed, 0)
    if os.path.exists(path):
        with open(path) as f:
            ref = json.load(f)
        if ref.get("build") != stamp:
            ref = None
    if ref is None:
        ref = untraced(root, classes, args, stamp)
    out, ctx = run_workload(root, classes, args, 1, False)
    checks = check(args.workload, out, ctx, False)
    summary = spanlib.summarize([s for s in out["spans"]
                                 if not s["request"].startswith("prewarm")])
    layers = {k: 0.0 for k in PER_LAYER}
    layers.update({k: v for k, v in ref["detail"].items() if v is not None})
    layers.update(per_layer(args.workload, out, summary))
    e2e, _ = end_to_end(args.workload, out, {})
    layers["trace.overhead_pct"] = 100.0 * (e2e["run_s"] / ref["end_to_end"]["run_s"] - 1)
    report = {"workload": args.workload, "build": stamp,
              "env": environment(root, out, args.seed), "per_layer": layers,
              "spans": summary, "raw_spans": out["spans"],
              "traced_end_to_end": e2e,
              "untraced_end_to_end": ref["end_to_end"],
              "trace_overhead": {k: e2e[k] - ref["end_to_end"][k] for k in e2e},
              "percentile_samples": ref["percentile_samples"],
              "listener_totals": out.get("listener_totals", {}),
              "correct": checks.failed == 0 and not checks.problems and ref["correct"],
              "attempted": checks.attempted + ref["attempted"],
              "failed": checks.failed + ref["failed"],
              "problems": (ref["problems"] + checks.problems)[:50]}
    save_report(root, report, 1)
    return report


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15,
                    help="nominal measured seconds; each workload's work is "
                         "fixed and sized to about this on a 4-core machine")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="write the result hashes of this run to golden/")
    args = ap.parse_args(argv)
    root = os.getcwd()
    classes, stamp = build.build(root)
    h = hashlib.sha256(stamp.encode())
    for name in ("run.py", "inputs.py", os.path.join("templates", "sql_rw.sql")):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    global deadline
    deadline = time.time() + RUN_LIMIT_S
    if args.trace:
        report = traced(root, classes, args, stamp)
        metrics = {k: {"value": report["per_layer"][k], "unit": unit_of(k)}
                   for k in PER_LAYER}
    else:
        report = untraced(root, classes, args, stamp)
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in report["end_to_end"].items()}
    for p in report["problems"][:20]:
        print("problem:", p, file=sys.stderr)
    for name, n in report["percentile_samples"].items():
        print(f"{name}: n={n['n']}" + ("" if n["reported"] else
              f" (not reported: needs {n['needs']} samples)"), file=sys.stderr)
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
