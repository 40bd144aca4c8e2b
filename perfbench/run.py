#!/usr/bin/env python3
"""The repo benchmark: one command that builds the library from this
checkout, generates a workload's inputs from a seed, runs the workload
in one local Spark JVM for a fixed time, checks every output, and prints
the metrics.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (why each exists is recorded
in BENCHMARK.json):

  odm_import  the paper's import path over a generated ODM corpus
              (gen_odm.py): OdmPipeline.exploded → gatedCommands →
              OdmIo.writeCommandLog → readCommandLog →
              CommandApply.sequenced → itemState → state written. Every
              pass is checked against the generator's independently
              computed expectations.
  query_mix   the TPC-H-shaped scan and aggregate q06, bound by driver
              planning and per-job fixed cost, then the near-duplicate text
              query l02, bound by executor expression CPU and built on a
              session memo, over generated star-schema tables
              (gen_tables.py). Outputs are checked
              against SparkEntry.oracleSql with tools/check_oracle.py; a
              query that fails its oracle stays in the workload and
              counts as failed.

Each workload is a closed loop with one client, every pass starting from
evicted memos and drained caches and every query result fully
materialised through the noop sink. Set-up (setup_s) is the session
build plus one untimed pass; then timed passes run back to back for at
least --seconds (and at least two). pass_s is their median.

--trace 0 prints the end-to-end metrics; --trace 1 alternates untraced
and traced passes and prints the per-layer metrics (each with the
end-to-end metric it should move), a self-time table per layer, and
writes the spans to .bench_build/work/<workload>/spans.jsonl.

Everything the run builds or writes stays under .bench_build/ in the
checkout. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import gen_odm  # noqa: E402
import gen_tables  # noqa: E402

# input sizes: chosen so one pass takes seconds on 4 cores and a run's
# passes fit in --seconds (see CHANGES.md for the sizing measurements)
TABLES_SF = 0.02
ODM_FILES, ODM_SUBJECTS = 4, 16
HEAP = "3g"
JVM_TIMEOUT_S = 170
# C1 only: with the C2 tier on 4 cores, passes kept getting faster (and
# process CPU per pass kept falling, 18.9 → 13.1 s) through every pass a
# run has time for, so timed passes never reached a steady state. C1 code
# is steady from the first pass after set-up; it is slower than C2 peak
# code, so optimisations that only C2 rewards are under-represented.
JIT = ["-XX:TieredStopAtLevel=1"]

# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def die(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def build() -> str:
    """Compile the library and the harness (one sbt build, perfbench/
    depending on the checkout's root project); reuse the classes while no
    source changed. Returns the runtime classpath."""
    srcs = [ROOT / "build.sbt", *sorted((ROOT / "project").glob("*.*")),
            *sorted((ROOT / "src" / "main").rglob("*")),
            HERE / "build.sbt", HERE / "project" / "build.properties",
            *sorted((HERE / "src").rglob("*"))]
    h = hashlib.sha256()
    for p in srcs:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    key = h.hexdigest()
    stamp, cp_file = BUILD / "build.key", BUILD / "classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == key:
        return cp_file.read_text()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building library and harness with sbt")
    t0 = time.time()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Djava.io.tmpdir={BUILD / 'tmp'}", "-J-XX:-UsePerfData",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=880)
    (BUILD / "sbt.log").write_text(r.stdout + r.stderr)
    cps = [ln for ln in r.stdout.splitlines() if str(HERE / "target") in ln and ":" in ln
           and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        die(f"sbt build failed (exit {r.returncode}); see {BUILD / 'sbt.log'}")
    cp_file.write_text(cps[-1].strip())
    stamp.write_text(key)
    log(f"build took {time.time() - t0:.1f} s")
    return cps[-1].strip()


def run_jvm(cp, workload, data, work, seconds, trace, cores, outputs=None):
    out = work / "record.json"
    args = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *JIT, *ADD_OPENS,
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", cp, "graftbench.Main", "--workload", workload, "--data", str(data),
            "--work", str(work), "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores), "--out", str(out)]
    if outputs:
        args += ["--outputs", str(outputs)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as jl:
        try:
            r = subprocess.run(args, stdout=jl, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; see {work / 'jvm.log'}")
    if r.returncode != 0 or not out.exists():
        die(f"benchmark JVM failed (exit {r.returncode}); see {work / 'jvm.log'}")
    return json.loads(out.read_text())


def check_oracle(data, outputs):
    """tools/check_oracle.py over the written outputs → {query id: ok}."""
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"),
                        str(data), str(outputs)], capture_output=True, text=True,
                       timeout=120)
    (outputs / "check_oracle.log").write_text(r.stdout + r.stderr)
    res = {}
    for ln in r.stdout.splitlines():
        parts = ln.split()
        if len(parts) >= 2 and parts[0] in ("OK", "FAIL", "MISSING-SPARK", "DUCK-ERR"):
            res[parts[1].rstrip(":")] = parts[0] == "OK"
    return res


def check_odm_pass(obs, exp):
    """Mismatches between one pass's observed import outputs and the
    generator's expectations."""
    bad = []
    if obs.get("cmds") != exp["cmds"]:
        bad.append(f"cmds {obs.get('cmds')} != {exp['cmds']}")
    if obs.get("state_rows") != exp["state_rows"]:
        bad.append(f"state_rows {obs.get('state_rows')} != {exp['state_rows']}")
    if int(obs.get("state_xor", -1)) != exp["state_xor"]:
        bad.append(f"state_xor {obs.get('state_xor')} != {exp['state_xor']}")
    return bad


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[max(0, min(len(s), math.ceil(q * len(s))) - 1)] if s else 0.0


# which end-to-end metric, on which workload, each per-layer metric should move
LAYER_MAP = {
    "spark.plan_ms": "query_p50_s @ query_mix", "spark.jobs": "query_p50_s @ query_mix",
    "spark.stages": "query_p50_s @ query_mix", "spark.tasks": "query_p50_s @ query_mix",
    "spark.driver_s": "query_p50_s @ query_mix", "spark.task_s": "pass_s @ query_mix",
    "spark.exec_util": "pass_s @ query_mix", "spark.shuffle_read_mb": "pass_s @ odm_import",
    "spark.shuffle_write_mb": "pass_s @ odm_import", "spark.spill_mb": "pass_s @ odm_import",
    "spark.storage_mb": "pass_s @ odm_import", "spark.gc_s": "pass_s, peak_rss_mb @ all",
    "spark.failed_tasks": "failed/attempted @ all", "odm.": "pass_s @ odm_import",
    "functions.uuid5_ns_per_row": "pass_s @ odm_import",
    "query.": "query_p50_s, pass_s @ query_mix", "operators.": "query_p50_s @ query_mix",
    "llm.": "pass_s @ query_mix", "memo.": "pass_s @ query_mix",
    "trace.overhead_ratio": "(tracing cost, no end-to-end metric)",
}


def layer_target(name):
    return next(v for k, v in LAYER_MAP.items() if name == k or (k.endswith(".")
                                                               and name.startswith(k)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["odm_import", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"{ROOT} is not a checkout of the library (no build.sbt / src/main/scala)")
    cores = len(os.sched_getaffinity(0))  # nproc
    cp = build()

    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    data = work / "input"
    t0 = time.time()
    odm = a.workload == "odm_import"
    if odm:
        exp = gen_odm.write(str(data), a.seed, ODM_FILES, ODM_SUBJECTS)
    else:
        exp = None
        gen_tables.write(str(data), a.seed, TABLES_SF)
    gen_s = time.time() - t0
    outputs = None if odm else work / "outputs"
    rec = run_jvm(cp, a.workload, data, work, a.seconds, a.trace, cores, outputs)

    ctx = rec["context"]
    log(f"context: workload={a.workload} seed={a.seed} nproc={cores} "
        f"xmx_mb={ctx['xmx_mb']} java={ctx['java']} spark={ctx['spark']} "
        f"loadavg_start='{ctx['loadavg_start']}' loadavg_end='{ctx['loadavg_end']}'")
    if odm:
        log(f"input: {ODM_FILES} ODM files x {ODM_SUBJECTS} subjects, {exp['xml_bytes']} bytes "
            f"of XML, {exp['items']} items, {exp['cmds_ungated']} commands ungated, "
            f"{exp['cmds_gated']} gated, {exp['state_rows']} live items; "
            f"generated in {gen_s:.1f} s")
    else:
        log(f"input: star-schema tables at sf {TABLES_SF}; generated in {gen_s:.1f} s")

    passes = rec["passes"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]

    # correctness: a failed operation, a failed oracle or a missed expectation
    # each count against the operations they affect
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(1 for p in passes for o in p["ops"] if not o["ok"])
    problems = [f"set-up pass {o['id']}: {o['error']}" for p in rec["setup_passes"]
                for o in p["ops"] if not o["ok"]]
    if odm:
        for p in rec["setup_passes"] + passes:
            bad = check_odm_pass(p["obs"], exp)
            if bad:
                problems.append(f"pass {p['idx']}: " + "; ".join(bad))
                failed += sum(1 for o in p["ops"] if o["ok"])
        checked = rec["setup_passes"] + passes
        log(f"expectations: {sum(not check_odm_pass(p['obs'], exp) for p in checked)}"
            f"/{len(checked)} passes match the generator's expected commands and state")
    else:
        ids = [o["id"] for o in passes[0]["ops"]]
        oracle = check_oracle(data, outputs)
        for qid in ids:
            if not oracle.get(qid, False):
                problems.append(f"{qid}: output does not match its oracle")
                failed += sum(1 for p in passes for o in p["ops"] if o["id"] == qid and o["ok"])
        log(f"oracle: {sum(oracle.get(q, False) for q in ids)}/{len(ids)} query outputs "
            f"match SparkEntry.oracleSql")
    for pr in problems:
        log(f"CHECK FAILED {pr}")

    walls = [p["wall_s"] for p in untraced]
    op_walls = [o["wall_s"] for p in untraced for o in p["ops"]]
    # the median query's latency: each query's median over the passes,
    # then the median over queries
    per_query = {}
    for p in untraced:
        for o in p["ops"]:
            per_query.setdefault(o["id"], []).append(o["wall_s"])
    log(f"passes: {len(untraced)} untraced, {len(traced)} traced in {rec['loop_s']:.1f} s; "
        f"untraced pass_s first={walls[0]:.3f} last={walls[-1]:.3f} "
        f"(drift {walls[-1] / walls[0] - 1:+.1%}) min={min(walls):.3f} max={max(walls):.3f}")
    e2e = {
        "setup_s": (rec["setup"]["setup_s"], "s"),
        "pass_s": (median(walls), "s"),
        "query_p50_s": (median([median(v) for v in per_query.values()]), "s"),
        "retained_heap_mb": (median([p["retained_heap_mb"] for p in untraced]), "MB"),
    }
    shown = dict(e2e)
    shown["peak_rss_mb"] = (rec["peak_rss_mb"], "MB")
    shown["pass_cpu_s"] = (median([p["cpu_s"] for p in untraced]), "s")
    shown["query_p90_s"] = (quantile(op_walls, 0.9), "s")
    shown["failed_ratio"] = (failed / max(attempted, 1), "fraction")
    if odm:
        shown["import_cmds_per_s"] = (exp["cmds_gated"] / median(walls), "cmd/s")
    for k, (v, u) in shown.items():
        n = f" (n={len(op_walls)})" if k == "query_p90_s" else ""
        log(f"metric {k} = {v:.6g} {u}{n}")
    setup_walls = " + ".join(f"{p['wall_s']:.2f}" for p in rec["setup_passes"])
    log(f"setup: session {rec['setup']['session_s']:.2f} s + set-up passes {setup_walls} s; "
        f"input generation {gen_s:.2f} s not included")

    metrics = e2e
    if a.trace:
        metrics = per_layer(rec, traced, untraced, exp)
        wall = sum(p["wall_s"] for p in traced)
        log("self time per layer over the traced passes (s, share of traced pass wall):")
        for layer, s in rec["self_time_s"].items():
            log(f"  {layer:<18} {s:9.3f}  {s / wall:6.1%}")
        cover = sum(o["wall_s"] for p in traced for o in p["ops"]) / wall
        log(f"  operation spans cover {cover:.1%} of traced pass wall; "
            f"{rec['spans']} spans in {work / 'spans.jsonl'}")
        for k, (v, u) in metrics.items():
            log(f"layer {k} = {v:.6g} {u}  -> {layer_target(k)}")
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def per_layer(rec, traced, untraced, exp):
    """Per-layer metrics: medians over the traced passes. A layer the
    workload does not run reports 0."""
    def med(f):
        return median([f(p) for p in traced])

    def op(p, name):
        return next(o for o in p["ops"] if o["id"] == name)

    m = {}
    for k, u in (("plan_ms", "ms"), ("jobs", "count"), ("stages", "count"),
                 ("tasks", "count"), ("driver_s", "s"), ("task_s", "s"),
                 ("exec_util", "ratio"), ("shuffle_read_mb", "MB"),
                 ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("storage_mb", "MB"),
                 ("gc_s", "s"), ("failed_tasks", "count")):
        m[f"spark.{k}"] = (med(lambda p: p[k]), u)
    odm = exp is not None

    def odm_med(f):
        return med(f) if odm else 0

    m["odm.explode_s"] = (odm_med(lambda p: op(p, "odm.explode")["wall_s"]), "s")
    for lvl in ("study", "subject", "study_event", "form", "item_group", "item"):
        m[f"odm.rows.{lvl}"] = (odm_med(lambda p: p["obs"]["rows"][lvl]), "count")
    m["odm.gate_s"] = (odm_med(lambda p: op(p, "odm.gate")["wall_s"]), "s")
    m["odm.emit_s"] = (odm_med(lambda p: op(p, "odm.log_write")["map_stage_s"]), "s")
    m["odm.cmds_ungated"] = (exp["cmds_ungated"] if odm else 0, "count")
    m["odm.cmds_gated"] = (exp["cmds_gated"] if odm else 0, "count")
    m["odm.gate_kept_ratio"] = (exp["cmds_gated"] / exp["cmds_ungated"] if odm else 0, "ratio")
    m["odm.log_write_s"] = (odm_med(lambda p: op(p, "odm.log_write")["wall_s"]), "s")
    m["odm.log_files"] = (odm_med(lambda p: p["obs"]["log_files"]), "count")
    m["odm.log_bytes_per_cmd"] = (
        odm_med(lambda p: p["obs"]["log_bytes"] / exp["cmds_gated"]), "B/cmd")
    m["odm.apply_s"] = (odm_med(lambda p: op(p, "odm.apply")["wall_s"]), "s")
    m["odm.state_rows"] = (odm_med(lambda p: p["obs"]["state_rows"]), "count")
    m["odm.import_cmds_per_s"] = (exp["cmds_gated"] / median([p["wall_s"] for p in untraced])
                                  if odm else 0, "cmd/s")
    m["functions.uuid5_ns_per_row"] = (odm_med(lambda p: p["obs"]["uuid5_ns_per_row"]), "ns/row")
    ran = {o["id"] for o in traced[0]["ops"]}
    for qid in rec["query_ids"]:
        for k in ("wall_s", "task_s"):
            m[f"query.{qid}.{k}"] = (med(lambda p: op(p, qid)[k]) if qid in ran else 0, "s")
    for layer, name in (("graft.operators", "operators"), ("graft.llm", "llm")):
        for k, u in (("task_s", "s"), ("plan_ms", "ms")):
            m[f"{name}.{k}"] = (med(lambda p: sum(o[k] for o in p["ops"]
                                                  if o["layer"] == layer)), u)
    m["memo.pre_hits"] = (med(lambda p: sum(o["memo_pre_hits"] for o in p["ops"])), "count")
    m["memo.cold_builds"] = (med(lambda p: p["memo_cold_builds"]), "count")
    m["trace.overhead_ratio"] = (med(lambda p: p["wall_s"]) /
                                 median([p["wall_s"] for p in untraced]), "ratio")
    return m


if __name__ == "__main__":
    main()
