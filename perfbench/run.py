#!/usr/bin/env python3
"""The repository's benchmark: seeded, single-client, closed-loop
workloads on a local Spark session, timed from outside around the
engine's public entry points.

    python3 perfbench/run.py --workload {olap,storage_rw}
        --seed N --seconds S --trace {0,1}

The first run in a checkout compiles the engine into `.bench_build/`.
The inputs are the engine's sf0.01 test tables, kept under
`perfbench/data/sf0.01`. The last stdout line is one JSON object
(`correct`, `attempted`, `failed`, `metrics`): the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Lines before
it summarise the run for a human reader. See METRICS.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
DATA = os.path.join(HERE, "data", "sf0.01")
CPUS = str(min(4, os.cpu_count() or 1))
JVM_MEM = "2g"
# JIT compilation keeps lowering a pass's CPU time for several passes,
# so every run starts with WARM_UPS untimed passes and then measures
# exactly PASSES passes; --seconds only caps the measuring time
WARM_UPS = 2
PASSES = 4
RUN_BUDGET_S = 170
STORAGE_CONF = ("spark.graft.tablelog.cdf=true "
                "spark.graft.tablelog.checkpointInterval=5")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def java(args, cwd, log_path, timeout, count_fs_ops=False):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{JVM_MEM}", f"-Xmx{JVM_MEM}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
           "-Dlog4j2.level=error"] + build.jvm_options()
    if count_fs_ops:
        cmd.append("-Dspark.hadoop.fs.file.impl=graft.perfbench.CountingLocalFs")
    cmd += ["-cp", build.classpath(), "graft.perfbench.Runner"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM exceeded {timeout}s (log: {log_path})")
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"perfbench: JVM exited {code}\n{tail}")


def prepare():
    """Compile once per checkout. Returns the input directory and the
    DuckDB oracle SQL of every query key."""
    build.build()
    if not os.path.exists(os.path.join(DATA, "orders.parquet")):
        raise SystemExit(f"perfbench: input tables missing under {DATA}")
    oracle_file = os.path.join(BUILD, "oracle.tsv")
    if not os.path.exists(oracle_file) or \
            os.path.getmtime(oracle_file) < os.path.getmtime(build.STAMP):
        os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
        java(["oracle", oracle_file] + workloads.OLAP_KEYS,
             BUILD, os.path.join(BUILD, "logs", "oracle.log"), 120)
    oracle = {}
    with open(oracle_file) as f:
        for line in f:
            k, sql = line.rstrip("\n").split("\t", 1)
            oracle[k] = (sql.replace("\\n", "\n").replace("\\t", "\t")
                         .replace("\\\\", "\\"))
    return DATA, oracle


def parse_results(path):
    r = {"ops": [], "passes": [], "setup_s": None, "calib": [], "layers": {},
         "ctr": {}, "obs": [], "ipc_bytes": {}, "rss_mb": None}
    with open(path) as f:
        for line in f:
            t = line.rstrip("\n").split("\t")
            if t[0] == "op":
                r["ops"].append({
                    "pass": int(t[1]), "idx": int(t[2]), "id": int(t[3]),
                    "phase": t[4], "timed": t[4] == "m", "traced": t[5] == "1", "op": t[6],
                    "ok": t[7] == "1", "seconds": float(t[8]), "rows": int(t[9]),
                    "digest": t[10], "version": int(t[11]),
                    "error": t[12] if len(t) > 12 else ""})
            elif t[0] == "pass":
                r["passes"].append({"pass": int(t[1]), "phase": t[2], "timed": t[2] == "m",
                                    "traced": t[3] == "1", "wall_s": float(t[4]),
                                    "cpu_s": float(t[5]), "ok": t[6] == "1"})
            elif t[0] == "setup":
                r["setup_s"] = float(t[1])
            elif t[0] == "calib":
                r["calib"].append(float(t[2]))
            elif t[0] == "layer":
                r["layers"][t[1]] = float(t[2])
            elif t[0] == "ctr":
                r["ctr"].setdefault(int(t[1]), {})[t[2]] = float(t[3])
            elif t[0] == "obs":
                r["obs"].append((int(t[1]), t[2], float(t[3])))
            elif t[0] == "ipc_bytes":
                r["ipc_bytes"][(int(t[1]), t[2])] = int(t[3])
            elif t[0] == "rss_mb":
                r["rss_mb"] = float(t[1])
    return r


def verify(workload, data_dir, ops, oracle):
    """Marks each workload op that returned a wrong result as failed.
    Storage passes are replayed in DuckDB; query keys are checked
    against their DuckDB oracle."""
    import check
    if workload == "storage_rw":
        for p in sorted({o["pass"] for o in ops}):
            replay = check.StorageReplay(data_dir)
            for o in (x for x in ops if x["pass"] == p):
                if not o["ok"]:
                    continue
                if workloads.op_kind(o["op"]) == "write":
                    replay.commit(o["op"], o["version"])
                    continue
                want = replay.expected(o["op"], o["version"])
                if o["digest"] != want:
                    o["ok"], o["error"] = False, f"wrong result (want {want})"
        return
    want = check.oracle_digests(data_dir, {o["op"][4:] for o in ops}, oracle)
    for o in ops:
        if o["ok"] and o["digest"] != want[o["op"][4:]]:
            o["ok"], o["error"] = False, f"wrong result vs DuckDB oracle (got {o['digest'][:12]})"


def end_to_end(workload, r, timed_ops):
    """The end-to-end metrics, plus the ones only printed for a reader
    (tail percentiles that lack samples, the read/write split)."""
    passes = [p for p in r["passes"] if p["timed"] and not p["traced"]]
    lat = stats.latency_samples(timed_ops)
    # a pass with a failed op is shorter: never let it read as fast
    pass_s = stats.median([p["wall_s"] for p in passes]) if all(p["ok"] for p in passes) \
        else max(p["wall_s"] for p in passes)
    warm_up = next(p["wall_s"] for p in r["passes"] if p["phase"] == "w")
    m = {
        # cold: session start, table loads and the first warm-up pass
        "setup_s": r["setup_s"] + warm_up,
        "pass_s": pass_s,
        "op_p50_s": stats.median(lat),
        "process_cpu_s": stats.median([p["cpu_s"] for p in passes]),
        "peak_rss_mb": r["rss_mb"],
    }
    extra = {"op_p90_s": stats.percentile(lat, 0.9), "op_tail_q_s": stats.tail(lat),
             "op_samples": len(lat),
             "passes": len(passes), "fail_ratio": stats.fail_ratio(timed_ops),
             "harness.calib_ms": stats.median(r["calib"])}
    if workload == "storage_rw":
        for kind in ("write", "read"):
            xs = stats.latency_samples(o for o in timed_ops if workloads.op_kind(o["op"]) == kind)
            extra[f"{kind}_p50_s"] = stats.median(xs)
            extra[f"{kind}_p90_s"] = stats.percentile(xs, 0.9)
            extra[f"{kind}_samples"] = len(xs)
    return m, extra


TABLELOG_KINDS = {"append": ("create", "append"), "merge": ("merge",),
                  "update": ("update",), "delete": ("dv", "delrange"),
                  "snapshot": ("snap", "tt"), "changes": ("changes",),
                  "history": ("history",)}
OBSERVED = ["ngram_candidates", "simjoin_candidates"]
# jobs and Catalyst phases have no children, so their self time is
# already exec.job_sum_s and catalyst.*_s
SPAN_LAYERS = ["build", "execute", "verify"]
EXEC = ["exec.stages", "exec.tasks", "exec.cpu_s", "exec.run_s", "exec.gc_s",
        "exec.sched_delay_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
        "exec.spill_mb", "exec.input_mb"]
FS = ["fs.read_ops", "fs.list_ops", "fs.write_ops", "fs.read_mb", "fs.write_mb"]


def per_layer(r, spans, timed_ops):
    """Per-layer metrics of a traced run. Time and count sums are per
    traced pass; latencies are medians over the untraced passes, so the
    tracing itself does not inflate them."""
    traced = [p for p in r["passes"] if p["timed"] and p["traced"]]
    plain = [p for p in r["passes"] if p["timed"] and not p["traced"]]
    n = max(1, len(traced))
    t_ops = [o for o in timed_ops if o["traced"]]
    u_ops = [o for o in timed_ops if not o["traced"]]
    ids = {o["id"] for o in t_ops}
    ctr = {k: v for k, v in r["ctr"].items() if k in ids}

    def total(key):
        return sum(c.get(key, 0.0) for c in ctr.values())

    m = {}
    by_name = {}
    for s in spans:
        if s["op"] in ids:
            by_name.setdefault(s["name"], []).append(s)

    def span_sum(name):
        return sum(s["end_us"] - s["start_us"] for s in by_name.get(name, [])) / 1e6

    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = span_sum(phase) / n
    m["catalyst.plan_nodes"] = total("catalyst.plan_nodes") / max(1.0, total("catalyst.queries"))
    m["ops.build_s"] = span_sum("build") / n
    jobs = {}
    for s in by_name.get("job", []):
        jobs.setdefault(s["op"], []).append((s["start_us"], s["end_us"]))
    gap = 0
    for s in by_name.get("op", []):
        ex = [e for e in by_name.get("execute", []) if e["op"] == s["op"]]
        end = ex[0]["end_us"] if ex else s["end_us"]
        gap += stats.driver_gap_us((s["start_us"], end), jobs.get(s["op"], []))
    m["driver.gap_s"] = gap / 1e6 / n
    m["driver.jobs"] = total("driver.jobs") / n
    m["exec.job_sum_s"] = span_sum("job") / n
    for k in EXEC + FS:
        m[k] = total(k) / n
    self_t = {}
    for s, t in stats.self_times([s for s in spans if s["op"] in ids]):
        self_t[s["name"]] = self_t.get(s["name"], 0) + t
    for name in SPAN_LAYERS:
        m[f"span.self_s.{name}"] = self_t.get(name, 0) / 1e6 / n

    def lat(ops, heads):
        xs = stats.latency_samples(o for o in ops if o["op"].split(":")[0] in heads)
        return stats.median(xs) or 0.0

    for name, heads in TABLELOG_KINDS.items():
        m[f"tablelog.{name}_s"] = lat(u_ops or t_ops, heads)

    def fs_ops_per(heads):
        sel = [o for o in t_ops if o["op"].split(":")[0] in heads and o["ok"]]
        if not sel:
            return 0.0
        return sum(sum(ctr.get(o["id"], {}).get(k, 0.0) for k in
                       ("fs.read_ops", "fs.list_ops", "fs.write_ops")) for o in sel) / len(sel)

    m["tablelog.fs_ops_per_commit"] = fs_ops_per(
        ("create", "append", "merge", "update", "dv", "delrange", "addcol"))
    m["tablelog.fs_ops_per_snapshot"] = fs_ops_per(("snap", "tt"))
    versions = [o["version"] for o in timed_ops if workloads.op_kind(o["op"]) == "write"
                and o["op"] != "ipcw" and o["ok"]]
    m["tablelog.versions"] = (max(versions) + 1) if versions else 0
    # IPC: logical (uncompressed) MB over the median call time
    ops_all = u_ops or t_ops
    raw = [b for (p, c), b in r["ipc_bytes"].items() if c == "none"]
    raw_mb = (sum(raw) / len(raw) / 2 ** 20) if raw else 0.0
    for codec in workloads.CODECS:
        t = stats.median(stats.latency_samples(
            o for o in ops_all if o["op"] == f"ipcw:{codec}"))
        m[f"ipc.write_mb_s.{codec}"] = raw_mb / t if t else 0.0
        sizes = [b for (p, c), b in r["ipc_bytes"].items() if c == codec]
        rows = [o["rows"] for o in ops_all if o["op"] == f"ipcr:{codec}" and o["ok"]]
        m[f"ipc.bytes_per_row.{codec}"] = (sizes[-1] / rows[-1]) if sizes and rows and rows[-1] else 0.0
    for key, head in (("ipc.read_mb_s", "ipcr"), ("ipc.dsv2_read_mb_s", "ipcd")):
        t = stats.median(stats.latency_samples(o for o in ops_all if o["op"].split(":")[0] == head))
        m[key] = raw_mb / t if t else 0.0
    probe_rows = {o["id"]: o["rows"] for o in r["ops"] if o["phase"] == "probe"}
    for name in OBSERVED:
        ratios = [v / max(1, probe_rows[op_id]) for op_id, obs, v in r["obs"]
                  if obs == name and op_id in probe_rows]
        m[f"work.{name}_per_row"] = stats.median(ratios) or 0.0
    m.update(r["layers"])
    m["harness.calib_ms"] = stats.median(r["calib"])
    tp = stats.median([p["wall_s"] for p in traced])
    up = stats.median([p["wall_s"] for p in plain])
    m["harness.trace_overhead_ratio"] = (tp / up) if tp and up else 1.0
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["olap", "storage_rw"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    data_dir, oracle = prepare()
    t_start = time.time()
    out = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    plan = [f"data {data_dir}", f"out {out}",
            f"cpus {CPUS}", f"seconds {a.seconds}", f"trace {a.trace}",
            f"warm_ups {WARM_UPS}", "kernel_ms 150"]
    if a.trace:
        plan.append("probe " + " ".join(f"key:{k}" for k in workloads.PROBE_KEYS))
    if a.workload == "storage_rw":
        plan.append(f"conf {STORAGE_CONF}")
    # the warm-up passes, then the timed ones (one more when traced, so
    # traced and untraced passes alternate)
    for ops in workloads.passes(a.workload, a.seed, WARM_UPS + PASSES + a.trace):
        plan.append("pass " + " ".join(ops))
    with open(os.path.join(out, "plan.txt"), "w") as f:
        f.write("\n".join(plan) + "\n")
    budget = RUN_BUDGET_S - (time.time() - t_start)
    java(["run", os.path.join(out, "plan.txt")], out, os.path.join(out, "jvm.log"), budget,
         count_fs_ops=bool(a.trace))

    r = parse_results(os.path.join(out, "results.tsv"))
    verify(a.workload, data_dir, [o for o in r["ops"] if o["phase"] != "probe"], oracle)
    timed_ops = [o for o in r["ops"] if o["timed"]]
    failed = [o for o in timed_ops if not o["ok"]]
    warm_failed = [o for o in r["ops"] if not o["timed"] and not o["ok"]]
    for o in (failed + warm_failed)[:10]:
        log(f"FAILED pass {o['pass']} {o['op']}: {o['error']}")
    m, extra = end_to_end(a.workload, r, timed_ops)
    summary = dict(m)
    summary.update(extra)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "summary": summary}))
    declared = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.trace:
        with open(os.path.join(out, "spans.json")) as f:
            spans = json.load(f)
        values = per_layer(r, spans, timed_ops)
        names = declared["per_layer"]
        print(f"spans: {os.path.relpath(os.path.join(out, 'spans.json'), ROOT)}")
    else:
        values = m
        names = declared["end_to_end"]
    metrics = {d["name"]: {"value": values.get(d["name"]), "unit": d["unit"]} for d in names}
    correct = not failed and not warm_failed and all(
        v["value"] is not None for v in metrics.values())
    print(json.dumps({"correct": correct, "attempted": len(timed_ops),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
