"""Repository benchmark: medallion ETL, lake SQL and training-data curation.

    python3 perfbench/run.py --workload <etl_medallion|lake_sql|train_curate>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke        # all workloads, tiny inputs

Run from the repository root. The first run builds the program and the
harness from source (perfbench/build.py). Each run gets its own JVM with one
client thread in a closed loop over local[<cores>]; inputs are generated
from --seed; every output is checked against DuckDB after the JVM exits.
The last stdout line is one JSON object: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics (see README.md).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen_tables  # noqa: E402

SETUP_REPEATS = 3
RUN_LIMIT_S = 170
CHECK_THREADS = 4

# Input sizes per workload; SMOKE holds the tiny ones the self-test uses.
SIZES = {
    "etl_medallion": {"days": 4, "rows_per_day": 12500, "ops_per_round": 2},
    "lake_sql": {"days": 4, "rows_per_day": 12500, "sf": 0.01, "template_repeats": 6},
    "train_curate": {"sf": 0.01},
}
SMOKE = {
    "etl_medallion": {"days": 2, "rows_per_day": 2000, "ops_per_round": 1},
    "lake_sql": {"days": 2, "rows_per_day": 2000, "sf": 0.001, "template_repeats": 1},
    "train_curate": {"sf": 0.001},
}
WORKLOADS = list(SIZES)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def gen_inputs(work, sizes, seed):
    """Catalog tables from the seed; generated SETUP_REPEATS times, the
    median time counts toward setup_s. Returns (dirs, seconds)."""
    dirs, times = {}, []
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        if "sf" in sizes:
            dirs["sf"] = os.path.join(work, f"tables_{rep}")
            gen_tables.write(dirs["sf"], sizes["sf"], seed)
        times.append(time.perf_counter() - t0)
    return dirs, (statistics.median(times) if dirs else 0.0)


def run_jvm(workload, seed, seconds, trace, sizes, work, dirs, deadline):
    out = os.path.join(work, "harness.json")
    spans = os.path.join(work, "spans.json")
    args = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "work": work, "out": out, "spans": spans,
            "tables": dirs.get("sf", ""), "setup_repeats": SETUP_REPEATS}
    args.update({k: v for k, v in sizes.items() if k != "sf"})
    cmd = build.java_cmd(work)
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    logf = os.path.join(work, "harness.log")
    with open(logf, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(logf) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise RuntimeError(f"harness exited with {rc}")
    with open(out) as fh:
        res = json.load(fh)
    res["spans_path"] = spans if trace else None
    return res


def check_ops(res, dirs):
    """Marks every op ok/failed after checking its output; returns setup-level
    failures (a wrong lake under lake_sql fails the run)."""
    con = check.connect(dirs.get("sf"))
    problems = []
    sizes = res["sizes"]
    lake = None
    if "raw_csv_bytes" in sizes:
        raw = os.path.join(res["work"], "input", "raw", "transactions")
        lake = check.expected_lake(con, raw)
    if res["workload"] == "lake_sql":
        root = sizes["lake_root"]
        why = check.check_lake(con, root, sizes["lake_result"], lake)
        if why:
            problems.append(f"lake build: {why}")
        check.register_lake(con, root)

    def one(op, cur):
        if op["kind"] == "etl":
            why = check.check_lake(cur, op["root"], op["result"], lake)
            shutil.rmtree(op["root"], ignore_errors=True)
            return why
        if op["kind"] == "template":
            return check.check_template(cur, op)
        if "check_path" in op and "oracle" in op:
            return check.check_catalog(cur, op["check_path"], op["oracle"], op["name"])
        return None

    todo = [op for op in res["ops"] if op["ok"]]
    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        # one cursor (connection to the same database) per check
        verdicts = list(pool.map(one, todo, [con.cursor() for _ in todo]))
    bad_rows = {}
    for op, why in zip(todo, verdicts):
        if why:
            op["ok"], op["reason"] = False, why
            if op["kind"] == "catalog":
                bad_rows[op["name"]] = why
    for op in res["ops"]:
        if op["ok"] and op["name"] in bad_rows:
            op["ok"], op["reason"] = False, bad_rows[op["name"]]
    return problems


def quantile(values, q):
    values = sorted(values)
    if len(values) == 1:
        return values[0]
    pos = q * (len(values) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(values) - 1)
    return values[lo] + (values[hi] - values[lo]) * (pos - lo)


def mean(values):
    return sum(values) / len(values) if values else 0.0


def e2e_metrics(res, setup_s):
    ops = res["ops"]
    secs = [o["seconds"] for o in ops]
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "op_p50_s": (statistics.median(secs), "s"),
        "ops_per_s": (len(secs) / sum(secs), "1/s"),
    }


def workload_report(res, setup_s):
    """The workload's own named metrics (README.md), printed for people."""
    ops = res["ops"]
    secs = [o["seconds"] for o in ops]
    failed = sum(not o["ok"] for o in ops)
    out = {"error_rate": (failed / len(ops), "ratio"), "ops": (len(ops), "count")}
    w = res["workload"]
    if w == "etl_medallion":
        rows = res["sizes"]["raw_rows"]
        ratio = [o["zone_bytes"] / res["sizes"]["raw_csv_bytes"] for o in ops if o["ok"]]
        out["etl_rows_per_s"] = (rows / statistics.median(secs), "rows/s")
        out["etl_bytes_per_raw_byte"] = (ratio[0] if ratio else 0.0, "ratio")
    elif w == "lake_sql":
        out["sql_qps"] = (len(secs) / sum(secs), "1/s")
        out["sql_p50_s"] = (statistics.median(secs), "s")
        out["sql_p90_s"] = (quantile(secs, 0.9), "s")
    else:
        out["train_qpm"] = (60.0 * len(secs) / sum(secs), "1/min")
        out["train_p50_s"] = (statistics.median(secs), "s")
    out["setup_s"] = (setup_s, "s")
    out["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    return out


LAYER_TIMES = ["pipeline." + s for s in
               ("bronze", "silver", "audit", "audit_summary", "gold")]
MODULES = ["analytics", "dedup", "similarity", "text", "ml", "pipeline", "lake"]
ENGINE = ["jobs", "stages", "tasks", "executor_cpu_s", "shuffle_bytes", "spill_bytes"]
STAGE_ENGINE = ["jobs", "tasks", "executor_cpu_s"]


def per_layer_names():
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    names = [(f"{s}_s", "s") for s in LAYER_TIMES] + [("pipeline.result_counts_s", "s")]
    names += [(f"{s}_{k}", "s" if k.endswith("_s") else "count")
              for s in LAYER_TIMES for k in STAGE_ENGINE]
    names += [("io.raw_scan_s", "s")] + [(f"io.{z}_bytes", "bytes")
                                        for z in ("bronze", "silver", "audit", "gold")]
    names += [("io.files_written", "count"), ("io.files_read_per_query", "count"),
              ("io.rows_read_per_row_returned", "ratio")]
    names += [(f"{m}.{p}_s", "s") for m in MODULES for p in ("build", "exec")]
    names += [("engine.plan_s", "s"), ("engine.driver_only_s", "s")]
    names += [(f"engine.{k}", "s" if k.endswith("_s") else
               "bytes" if k.endswith("bytes") else "count") for k in ENGINE]
    names += [("dedup.cc_jobs", "count"), ("storage.leaked_blocks", "count"),
              ("storage.leaked_bytes", "bytes"), ("trace.overhead_pct", "%")]
    return names


def layer_metrics(res):
    """Per-op means over the traced ops (0 for a layer the workload never
    calls), from the spans and counts the harness recorded."""
    with open(res["spans_path"]) as fh:
        spans = json.load(fh)
    traced = [o for o in res["ops"] if o["traced"]]
    untraced = [o for o in res["ops"] if not o["traced"]]
    ids = {o["op"] for o in traced}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    self_by_name = {}
    for s in spans:
        if s["op"] in ids:
            self_s = dur(s) - sum(dur(k) for k in kids.get(s["id"], []))
            self_by_name.setdefault(s["name"], []).append(self_s)
    counts = [o.get("counts", {}) for o in traced]

    def per_op(key, subset=None):
        subset = counts if subset is None else subset
        return mean([c.get(key, 0.0) for c in subset])

    m = {}
    etl = [c for o, c in zip(traced, counts) if o["kind"] == "etl"]
    for s in LAYER_TIMES:
        m[f"{s}_s"] = mean(self_by_name.get(s, []))
        for k in STAGE_ENGINE:
            m[f"{s}_{k}"] = per_op(f"{s}_{k}", etl) if etl else 0.0
    m["pipeline.result_counts_s"] = mean(self_by_name.get("pipeline.Runner.run", []))
    m["io.raw_scan_s"] = mean(self_by_name.get("io.raw_scan", []))
    for z in ("bronze", "silver", "audit", "gold"):
        m[f"io.{z}_bytes"] = per_op(f"io.{z}_bytes", etl) if etl else 0.0
    m["io.files_written"] = per_op("io.files_written", etl) if etl else 0.0
    queries = [c for o, c in zip(traced, counts) if o["kind"] != "etl"]
    m["io.files_read_per_query"] = per_op("io.files_read", queries) if queries else 0.0
    returned = sum(o.get("rows", 0) for o in traced if o["kind"] != "etl")
    read = sum(c.get("io.rows_read", 0.0) for c in queries)
    m["io.rows_read_per_row_returned"] = read / returned if returned else 0.0
    for mod in MODULES:
        for p in ("build", "exec"):
            m[f"{mod}.{p}_s"] = mean(self_by_name.get(f"{mod}.{p}", []))
    m["engine.plan_s"] = per_op("engine.plan_s")
    m["engine.driver_only_s"] = per_op("engine.driver_only_s")
    for k in ENGINE:
        m[f"engine.{k}"] = per_op(f"engine.{k}")
    cc = [c for o, c in zip(traced, counts) if "dedup.cc_jobs" in c]
    m["dedup.cc_jobs"] = per_op("dedup.cc_jobs", cc) if cc else 0.0
    m["storage.leaked_blocks"] = per_op("storage.leaked_blocks")
    m["storage.leaked_bytes"] = per_op("storage.leaked_bytes")
    # same ops, same JVM: every op ran once traced and once untraced
    t, u = mean([o["seconds"] for o in traced]), mean([o["seconds"] for o in untraced])
    m["trace.overhead_pct"] = 100.0 * (t / u - 1.0) if u else 0.0
    units = dict(per_layer_names())
    return {k: (m[k], units[k]) for k, _ in per_layer_names()}


def run_once(workload, seed, seconds, trace, sizes):
    deadline = time.monotonic() + RUN_LIMIT_S
    root = os.getcwd()
    work = os.path.join(root, build.BUILD, "work", f"{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        build.build()
        dirs, gen_s = gen_inputs(work, sizes, seed)
        res = run_jvm(workload, seed, seconds, trace, sizes, work, dirs, deadline)
        res["work"] = work
        setup_s = gen_s + res["jvm_boot_s"] + sum(res["setup"].values())
        t_check = time.monotonic()
        problems = check_ops(res, dirs)
        res["check_s"] = time.monotonic() - t_check
        metrics = layer_metrics(res) if trace else e2e_metrics(res, setup_s)
        report = workload_report(res, setup_s)
        if trace:
            keep = os.path.join(root, build.BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(res["spans_path"], os.path.join(keep, f"{workload}-{seed}.spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ops = res["ops"]
    failed = sum(not o["ok"] for o in ops)
    for o in ops:
        if not o["ok"]:
            log(f"op {o['op']} {o['name']} failed: {o.get('reason')}")
    for p in problems:
        log(p)
    log(f"{workload} seed={seed} trace={trace} sizes={json.dumps(res['sizes'])} "
        f"setup={json.dumps(res['setup'])} rounds={res['rounds']} cpus={res['cpus']} "
        f"heap_mb={res['max_heap_mb']} loop_s={res['loop_wall_s']:.1f} check_s={res['check_s']:.1f}")
    for k, (v, unit) in report.items():
        print(f"{workload}.{k} = {v:.6g} {unit}")
    return {
        "correct": failed == 0 and not problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }


def smoke():
    """Self-test: every workload at tiny sizes, untraced and traced."""
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            r = run_once(w, 1, 1, trace, SMOKE[w])
            want = {k for k, _ in per_layer_names()} if trace else \
                {"setup_s", "peak_rss_mb", "op_p50_s", "ops_per_s"}
            good = r["correct"] and set(r["metrics"]) == want and r["attempted"] >= 1
            log(f"smoke {w} trace={trace}: {'ok' if good else 'FAILED'} {json.dumps(r)[:300]}")
            ok &= good
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        sys.exit(0 if smoke() else 1)
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(run_once(a.workload, a.seed, a.seconds, a.trace, SIZES[a.workload])))


if __name__ == "__main__":
    main()
