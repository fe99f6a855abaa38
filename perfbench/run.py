#!/usr/bin/env python3
"""Benchmark entry point: build the engine and harness from source, generate the
seeded inputs, run one workload in one JVM, check its outputs and print the
metrics. The last stdout line is the result JSON.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 12 --trace 0

Workloads: rag_serve, curation_mix (see perfbench/README.md).
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
--smoke runs a tiny input for a few operations.
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
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import metrics  # noqa: E402

WORKLOADS = ("rag_serve", "curation_mix")
END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms")]
PER_LAYER = [("op.self_ms", "ms"), ("op.build_ms", "ms"), ("op.plan_ms", "ms"),
             ("op.execute_ms", "ms"), ("spark.job_ms", "ms"), ("spark.stage_ms", "ms"),
             ("spark.plan_ms", "ms"), ("spark.jobs", "count"), ("spark.stages", "count"),
             ("spark.tasks", "count"), ("spark.sched_wait_ms", "ms"), ("spark.task_s", "s"),
             ("spark.gc_s", "s"), ("spark.shuffle_mb", "MiB"), ("spark.spill_mb", "MiB"),
             ("spark.scan_mb", "MiB"), ("spark.storage_mb", "MiB"), ("io.files_read", "count"),
             ("io.rows_scanned", "count"), ("io.index_rows_scanned", "count"),
             ("trace.overhead_pct", "%")]
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def sources_stamp():
    """Newest modification time among the sources the build reads."""
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build(deadline):
    """Compile the engine and the harness (once per checkout) and return
    the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) > sources_stamp():
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = env.get("SBT_OPTS") or " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
                            "compile", "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                           capture_output=True, text=True, timeout=max(60, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = [ln for ln in p.stdout.splitlines() if "perfbench/harness/target" in ln and ":" in ln]
    if not cp:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    log(f"build done in {time.time() - t0:.0f} s")
    return cp[-1].strip()


def java_cmd(classpath, tmp):
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file in the system temp directory
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for m in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def run_jvm(classpath, args, work, deadline):
    cmd = java_cmd(classpath, os.path.join(work, "tmp")) + ["perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            code = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("the JVM ran past the run's time limit and was stopped")
    if code != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = [ln for ln in f.read().splitlines() if "INFO" not in ln][-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"the JVM exited with code {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check(workload, result, data_dir):
    import check as chk
    if workload == "curation_mix":
        return chk.curation(result, data_dir), {}
    return chk.rag(result, data_dir)


# the curation queries by engine module, for the per-query layer names
QUERY_LAYER = {"q199_greedy_coverage": "ops.Vocab.q199", "q52_dedup_clusters": "ops.Components.q52",
               "q268_weighted_minhash_lsh": "ops.Dedup.q268", "q142_passage_retrieval": "ops.Retrieval.q142"}


def end_to_end(workload, result, meta, ops):
    """End-to-end metrics from the measured operations, and the same
    numbers under the workload's own names (printed, not in the JSON)."""
    setup = next(o for o in result["ops"] if o["phase"] == "setup")
    ok = [o for o in ops if not o["error"]]
    session_s = (result["session_ready_ms"] - result["jvm_start_ms"]) / 1000.0
    values = {"setup_s": session_s + setup["wall_ms"] / 1000.0 + result["warmup_s"]}
    named = {"session_s": session_s, "warmup_s": result["warmup_s"], "samples": len(ok),
             "retained_storage_mb": result["retained_storage_mb"]}
    if ok:
        walls = [o["wall_ms"] for o in ok]
        spans = {s["id"]: s for s in result["spans"]}
        window_s = (spans[ops[-1]["span"]]["end_ns"] - spans[ops[0]["span"]]["start_ns"]) / 1e9
        values["op_p50_ms"] = statistics.median(walls)
        if workload == "rag_serve":
            tail = metrics.tail_percentile(len(walls))
            named.update(question_p50_ms=values["op_p50_ms"], questions_per_s=len(ops) / window_s,
                         pipeline_rows_per_s=meta["raw_rows"] / (setup["wall_ms"] / 1000.0))
            named[f"question_p{tail:g}_ms" if tail else "question_p90_ms"] = (
                metrics.percentile(walls, tail) if tail else f"n/a ({len(walls)} samples, needs 100)")
        else:
            named["curation_pass_s"] = values["op_p50_ms"] / 1000.0
    return values, named


def per_layer(workload, result, meta, ops, info, data_dir):
    """Per-layer metrics (medians over the traced operations) and the
    workload's own layer split: the set-up pipeline's steps, or the
    curation queries."""
    all_spans = result["spans"] + metrics.scheduler_spans(result)
    traced = [o for o in ops if o["phase"] == "traced" and o["counters_valid"] and not o["error"]]
    untraced = [o for o in ops if o["phase"] == "untraced" and not o["error"]]
    rows, steps, residue = [], {}, []
    for o in traced:
        layer, st, self_sum = metrics.op_layers(result, o, all_spans)
        rows.append(layer)
        residue.append(abs(self_sum - o["wall_ms"]))
        for name, v in st.items():
            steps.setdefault(name, []).append(v)
    values = {name: metrics.median_of(rows, name) for name, _ in PER_LAYER}
    # GC comes in bursts a few questions apart: the mean per op, not the median
    values["spark.gc_s"] = statistics.mean(r["spark.gc_s"] for r in rows) if rows else 0.0
    t = statistics.median([o["wall_ms"] for o in traced]) if traced else 0.0
    u = statistics.median([o["wall_ms"] for o in untraced]) if untraced else 0.0
    values["trace.overhead_pct"] = 100.0 * (t - u) / u if u else 0.0
    named = {"traced_ops": len(traced), "untraced_ops": len(untraced),
             "invalid_counter_ops": sum(1 for o in result["ops"] if not o["counters_valid"]),
             "max_self_time_residue_ms": max(residue) if residue else 0.0,
             "traced_p50_ms": t, "untraced_p50_ms": u}
    if workload == "rag_serve":
        named.update({"ops.Rag.build_ms": values["op.build_ms"], "ops.Rag.plan_ms": values["op.plan_ms"],
                      "ops.Rag.execute_ms": values["op.execute_ms"],
                      "ops.Rag.jobs_per_question": values["spark.jobs"],
                      "io.files_read_per_question": values["io.files_read"],
                      "ops.Similarity.rows_scanned_per_answer": values["io.index_rows_scanned"]})
        setup = next(o for o in result["ops"] if o["phase"] == "setup")
        if setup["counters_valid"] and not setup["error"]:
            layer, st, _ = metrics.op_layers(result, setup, all_spans)
            raw_bytes = sum(os.path.getsize(os.path.join(data_dir, f"{table}.parquet")) for table in
                            ("reddit_posts", "reddit_comments", "stack_posts", "stack_comments"))
            named.update({
                "setup.wall_s": setup["wall_ms"] / 1000.0,
                "ops.Pipeline.merge_step_s": st["merge"]["s"],
                "ops.Embed.index_step_s": st["index"]["s"],
                "ops.Embed.densityClusters_jobs": st["index"]["jobs"],
                "setup.spark.jobs": layer["spark.jobs"], "setup.spark.task_s": layer["spark.task_s"],
                "setup.spark.shuffle_mb": layer["spark.shuffle_mb"],
                "io.write_commit_ms": layer["io.write_commit_ms"], "io.write_mb": layer["io.write_mb"],
                "io.files_written": layer["io.files_written"],
                "io.write_amp": layer["io.write_mb"] * metrics.MIB / raw_bytes,
                "ops.Pipeline.kept_ratio": info["merged_rows"] / (
                    meta["rows"]["reddit_posts"] + meta["rows"]["stack_posts"])})
        named.update(result.get("probes", {}))
    else:
        for name, vs in steps.items():
            base = QUERY_LAYER.get(name, name)
            for k in ("s", "jobs", "task_s"):
                named[f"{base}_{k}"] = statistics.median(v[k] for v in vs)
    return values, named


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, a few operations")
    ap.add_argument("--bridge", action="store_true",
                    help="time the curation queries under count() and full output (see README)")
    a = ap.parse_args()
    start = time.time()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not next to perfbench/")
    os.makedirs(WORK, exist_ok=True)
    classpath = build(start + 850)
    run_start = time.time()

    import gen
    size = "smoke" if a.smoke else "full"
    data_dir = os.path.join(CACHE, "inputs", a.workload, gen.size_key(a.workload, size),
                            f"seed{a.seed}")
    meta = gen.generate(a.workload, a.seed, size, data_dir)

    if a.bridge:
        cmd = java_cmd(classpath, os.path.join(WORK, "tmp")) + ["perfbench.CountBridge", data_dir]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "tmp"))
        sys.exit(subprocess.run(cmd, cwd=WORK, env=env, stderr=subprocess.DEVNULL).returncode)
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm_args = ["--workload", a.workload, "--data", data_dir, "--work", work,
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.smoke:
        jvm_args += ["--max-ops", "4", "--warmup", "1"]
    try:
        result = run_jvm(classpath, jvm_args, work, run_start + 165)
        errors, check_info = check(a.workload, result, data_dir)
        ops = result["ops"]
        for o in ops:
            if o["error"]:
                errors.setdefault(o["i"], o["error"])
        for i, e in sorted(errors.items()):
            log(f"op {i} FAILED: {e}")
        for o in ops:
            o["error"] = errors.get(o["i"], "")
        measured = [o for o in ops if o["phase"] in ("untraced", "traced")]
        failed = sum(1 for o in ops if o["error"])
        if a.trace:
            values, extra = per_layer(a.workload, result, meta, measured, check_info, data_dir)
            names = PER_LAYER
        else:
            values, extra = end_to_end(a.workload, result, meta, measured)
            names = END_TO_END
        extra.update(check_info)
        extra["failed_frac"] = failed / len(ops)
        for k, v in extra.items():
            print(f"{a.workload}  {k} = {json.dumps(v)}")
        for name, unit in names:
            if name in values:
                print(f"{a.workload}  {name} = {values[name]:.6g} {unit}")
        missing = [n for n, _ in names if n not in values]
        out = {"correct": failed == 0 and not missing, "attempted": len(ops), "failed": failed,
               "metrics": {n: {"value": values[n], "unit": u} for n, u in names if n in values}}
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
