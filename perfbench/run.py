#!/usr/bin/env python3
"""End-to-end benchmark of graft's study refresh, file-to-fresh ingest and
corpus curation.

    python3 perfbench/run.py --workload study_portfolio --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program (perfbench/build.py),
generates the workload's inputs from the seed in a separate process
(perfbench/gen.py), then runs the timed harness JVM and checks every
operation's output (perfbench/checks.py).
The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

REPO = os.path.dirname(HERE)
WORKLOADS = ("study_portfolio", "curation_corpus")
# --seconds fixes the operation list: about one operation per this many
# seconds at HEAD on 4 cores; curation runs whole blocks of its 3 recipes
SECONDS_PER_OP = {"study_portfolio": 7.0, "curation_corpus": 2.5}
HEAP = "4g"
STAGES = ["quality_filter", "blocklist_filter", "exact_dedup", "near_dedup",
          "near_dedup_keep-best", "hash_split", "pii_redact", "semantic_decontam"]
E2E = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
       "rows_per_s": "1/s", "space_amp": "ratio"}


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def run_proc(cmd, logfile, timeout):
    with open(logfile, "a") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit("%s timed out after %ds" % (" ".join(cmd[-6:]), timeout))
    if r.returncode != 0:
        with open(logfile) as f:
            tail = f.read()[-3000:]
        raise SystemExit("%s failed (rc=%d):\n%s" % (" ".join(cmd[-6:]), r.returncode, tail))


def harness(cp, workload, run_dir, trace):
    # Spark's scratch space stays inside the run directory
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    launch_ms = int(time.time() * 1000)
    cmd = (["java", "-Xmx" + HEAP, "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + tmp, "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "wh")]
           + build.java_opts() + ["-cp", cp, "graftbench.Harness", workload, run_dir,
                                  str(trace), str(launch_ms)])
    run_proc(cmd, os.path.join(run_dir, "harness.log"), timeout=150)
    name = "result_trace.json" if trace else "result.json"
    with open(os.path.join(run_dir, name)) as f:
        return json.load(f)


def prepare(workload, seed, ops, run_dir):
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    os.makedirs(run_dir)
    logfile = os.path.join(run_dir, "prepare.log")
    run_proc([sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
              "--seed", str(seed), "--ops", str(ops), "--out", run_dir], logfile, timeout=120)
    with open(os.path.join(run_dir, "manifest.json")) as f:
        manifest = json.load(f)
    got = gen.digest_tree(run_dir)
    if got != manifest["digest"]:
        raise SystemExit("generated inputs changed after generation")
    return manifest


def end_to_end(result, ok_ops, info):
    # with no successful operation (the run is then not correct) the
    # latencies are those of the failed ones, never an empty sample
    lat = [o["latency_s"] for o in (ok_ops or result["ops"])]
    tail, pct, beyond = stats.tail(lat)
    m = {
        "setup_s": result["setup_s"],
        "wall_s": result["wall_s"],
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail,
        "rows_per_s": sum(o["rows"] for o in ok_ops) / result["wall_s"],
        "space_amp": info["disk_bytes"] / info["user_bytes"] if info["user_bytes"] else 0.0,
    }
    log("op_tail_s is p%d with %d of %d samples beyond" % (pct, beyond, len(lat)))
    return m, pct


def per_layer(result, attempted, failed, untraced_wall, cores, tail_pct):
    spans = result["spans"]
    self_by = stats.self_time_by_name(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def jobs(name):
        return sum(s["exec"].get("jobs", 0) for s in by_name.get(name, []))

    def total_s(name):
        return sum(s["end_s"] - s["start_s"] for s in by_name.get(name, []))

    def input_bytes(names):
        return sum(s["exec"].get("input_bytes", 0) for n in names for s in by_name.get(n, []))

    ex, cat = result["exec"], result["catalyst"]
    mb = 1024.0 * 1024.0
    ops = result["ops"]
    study_bytes = sum(o.get("study_bytes", 0) for o in ops)
    read_bytes = input_bytes(["engine.build", "standardize", "store.upsert"])
    ingest_rows = sum(o.get("src_rows", 0) for o in ops)
    src_bytes = sum(o.get("src_bytes", 0) for o in ops)
    m = {
        "config.parse_s": self_by.get("config.read", 0.0),
        "config.jobs": jobs("config.read"),
        "engine.build_s": self_by.get("engine.build", 0.0),
        "engine.build_jobs": jobs("engine.build"),
        "engine.op_rows": sum(o.get("config_rows", 0) for o in ops),
        "catalyst.analysis_s": cat["analysis_s"],
        "catalyst.optimize_s": cat["optimize_s"],
        "catalyst.plan_s": cat["plan_s"],
        "catalyst.exchanges": cat["exchanges"],
        "catalyst.broadcasts": cat["broadcasts"],
        "catalyst.plan_nodes": cat["plan_nodes"],
        "catalyst.hof_nodes": cat["hof_nodes"],
        "exec.jobs": ex["jobs"],
        "exec.stages": ex["stages"],
        "exec.tasks": ex["tasks"],
        "exec.sched_wait_s": result["exec_sched_wait_s"],
        "exec.task_s": ex["task_s"],
        "exec.cpu_s": ex["cpu_s"],
        "exec.gc_s": ex["gc_s"],
        "exec.parallel_eff": ex["task_s"] / (result["wall_s"] * cores),
        "exec.stage_skew": result["exec_stage_skew"],
        "exec.task_failures": ex["task_failures"],
        "shuffle.write_mb": ex["shuffle_write_bytes"] / mb,
        "shuffle.read_mb": ex["shuffle_read_bytes"] / mb,
        "shuffle.spill_mb": ex["spill_bytes"] / mb,
        "shuffle.fetch_wait_s": ex["fetch_wait_s"],
        "store.read_mb": read_bytes / mb,
        "store.read_amp": read_bytes / study_bytes if study_bytes else 0.0,
        "store.write_s": self_by.get("store.upsert", 0.0),
        "store.files_written": sum(o.get("out_files_written", 0) + o.get("store_files_written", 0)
                                   for o in ops),
        "store.write_amp": (sum(o.get("store_bytes_written", 0) for o in ops) / src_bytes
                            if src_bytes else 0.0),
        "ingest.s": self_by.get("ingest.file", 0.0),
        "ingest.rows": ingest_rows,
        "standardize.s": self_by.get("standardize", 0.0),
        "export.s": self_by.get("export", 0.0),
        "export.mb": sum(o.get("export_bytes", 0) for o in ops) / mb,
        "curation.recipe_s": total_s("curation.read_recipe") + total_s("curation.plan")
        + total_s("curation.write"),
        "dedup.pair_precision": 0.0,
        "blocks.persisted_rdds": result["max_persisted_rdds"],
        "blocks.cached_mb": result["max_cached_bytes"] / mb,
        "jvm.peak_heap_mb": result["peak_heap_bytes"] / mb,
        "retained_mb": result["retained_bytes"] / mb,
        "failed_frac": failed / attempted,
        "op_tail.percentile": tail_pct,
        "trace.overhead_s": result["wall_s"] - untraced_wall,
    }
    ext = result.get("extras", {})
    if ext.get("dedup_candidates"):
        m["dedup.pair_precision"] = ext["dedup_pairs"] / ext["dedup_candidates"]
    funnel = {}
    for stages in ext.get("funnels", []):
        for (_, rin), (name, rout) in zip(stages, stages[1:]):
            key = name.split(":", 1)[1].lower().replace(" ", "_")
            a, b = funnel.get(key, (0, 0))
            funnel[key] = (a + rin, b + rout)
    for st in STAGES:
        rin, rout = funnel.get(st, (0, 0))
        m["curation.keep_frac." + st] = rout / rin if rin else 0.0
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        raise SystemExit("no program sources next to the benchmark (src/main/scala)")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    t = time.time()
    cp = build.build(build_dir)
    log("build ready in %.1fs" % (time.time() - t))

    ops = max(2, round(a.seconds / SECONDS_PER_OP[a.workload]))
    if a.workload == "curation_corpus":
        ops = 3 * max(1, round(ops / 3))
    run_dir = os.path.join(build_dir, "runs", "%s-%d-%d" % (a.workload, a.seed, a.trace))
    try:
        manifest = prepare(a.workload, a.seed, ops, run_dir)
        untraced_wall = None
        if a.trace:
            # the same inputs run once untraced first, for the overhead figure
            plain = run_dir + "-plain"
            shutil.rmtree(plain, ignore_errors=True)
            shutil.copytree(run_dir, plain)
            untraced_wall = harness(cp, a.workload, plain, 0)["wall_s"]
            shutil.rmtree(plain)
        result = harness(cp, a.workload, run_dir, a.trace)
        if a.workload == "study_portfolio":
            for o in result["ops"]:
                spec = manifest["ops"][o["op"]]
                o["src_bytes"], o["src_rows"] = spec["bytes"], spec["file_rows"]
        check_failures, info = checks.CHECKS[a.workload](run_dir, manifest, result)
        attempted, failed, ok_ops = stats.account(result["ops"], check_failures)
        errors = {}
        for o in result["ops"]:
            if not o["ok"]:
                errors.setdefault(o["error"].split(" ")[0][:80], []).append(o["op"])
        for k, v in errors.items():
            log("%d operations raised %s (ops %s)" % (len(v), k, v))
        for k, v in sorted(check_failures.items()):
            log("op %d failed its output check: %s" % (k, v))
        e2e, pct = end_to_end(result, ok_ops, info)
        if a.trace:
            metrics = per_layer(result, attempted, failed, untraced_wall,
                                result["cores"], pct)
            units = {}
        else:
            metrics = e2e
            units = E2E
        # neither workload has an expected failure at HEAD: an operation
        # that raised or failed its output check makes the run incorrect
        out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
               "metrics": {k: {"value": v, "unit": units.get(k, layer_unit(k))}
                           for k, v in metrics.items()}}
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0


def layer_unit(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb") or name.endswith(".mb"):
        return "MB"
    if "frac" in name or "eff" in name or "amp" in name or "precision" in name or "skew" in name:
        return "ratio"
    if name.endswith("percentile"):
        return "pct"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
