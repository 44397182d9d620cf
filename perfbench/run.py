#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload ngs_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds graft plus the driver in
`perfbench/` with sbt (once per source change), generates the seeded
inputs (cached per seed), runs the driver JVM, checks every operation's
output against graft's oracle (tools/check_oracle.py: the DuckDB SQL or
the declared tolerance/recall gate) and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
Build output, inputs and run artifacts (result.json with each failure's
class and message, spans.jsonl, check.json) go under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# workload -> input fold over the base tables
FOLD = {"ngs_batch": 10, "corpus_ingest": 1}
END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
              "heap_live_mb": "MB"}
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        walk = [(os.path.dirname(r), [], [os.path.basename(r)])] if os.path.isfile(r) \
            else os.walk(r)
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("graft sources not found: run from the repository root")
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = sources_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("[perfbench] building with sbt")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        log(p.stdout)
        sys.exit(f"sbt build failed ({p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


def inputs(seed, factor):
    """Seeded inputs, generated once per (seed, factor)."""
    d = os.path.join(BUILD, "data", f"seed{seed}-x{factor}")
    done = os.path.join(d, "tables.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        stats = gen.generate(d, seed, factor)
        with open(done, "w") as f:
            json.dump(stats, f)
    return d


def check(data, run_dir, attempts, timed_errors):
    """Judge each timed operation's output with graft's oracle checker.
    Returns ({oracle key: verdict}, number of failed executions)."""
    report = os.path.join(run_dir, "check.json")
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), data,
                    os.path.join(run_dir, "check"), "--json", report],
                   stdout=sys.stderr, stderr=sys.stderr, timeout=120)
    with open(report) as f:
        rec = json.load(f)
    verdict = {}
    for key in attempts:
        r = rec.get(key)
        if r is None:
            verdict[key] = "missing"
        elif r.get("rows_only"):
            verdict[key] = "pass" if r.get("tolerance_pass") else "fail"
        else:
            verdict[key] = "pass" if r["rows_match"] and r["schema_match"] and r["hash_match"] else "fail"
    failed = sum(n if verdict[k] != "pass" else timed_errors.get(k, 0)
                 for k, n in attempts.items())
    return verdict, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(FOLD))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its children: sbt, the driver JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.time()

    classpath = build()
    data = inputs(a.seed, FOLD[a.workload])
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-Xms3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", a.workload, data, str(a.seconds),
              str(a.trace), run_dir])
    budget = RUN_LIMIT_S - (time.time() - started)
    cpu0 = cpu_times()
    jvm = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=run_dir)
    try:
        code = jvm.wait(timeout=max(budget, 1))
    finally:
        if jvm.poll() is None:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
    if code != 0:
        sys.exit(f"driver exited with code {code}")
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    # host contention during the run, for reading its spread
    d = [b - a for a, b in zip(cpu0, cpu_times())]
    res["cpu_steal_pct"] = 100.0 * d[7] / max(1, sum(d)) if len(d) > 7 else None

    t_check = time.time()
    verdict, failed = check(data, run_dir, res["op_attempts"], res["timed_errors"])
    res["verdict"] = verdict
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(res, f, indent=1)
    bad = sorted(k for k, v in verdict.items() if v != "pass")
    for k in bad:
        causes = [f"{x['phase']} {x['class']}: {x['message']}" for x in res["failures"]
                  if x["oracle"] == k]
        log(f"[perfbench] FAILED {k}: {verdict[k]} {causes[:1]}")
    attempted = res["op_samples"]
    log(f"[perfbench] oracle check {time.time() - t_check:.1f} s, run {time.time() - started:.1f} s")
    log(f"[perfbench] {a.workload}: {res['passes']} passes, {attempted} op samples, "
        f"failed_ratio {failed / attempted:.4f}, cpu steal {res['cpu_steal_pct']}%, "
        f"artifact {os.path.relpath(run_dir, ROOT)}/result.json")

    if a.trace:
        layers = dict(res["per_layer"], failed_ratio=failed / attempted)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    ok = (not bad and failed == 0 and res["setup_failures"] == 0
          and all(isinstance(m["value"], (int, float)) for m in metrics.values()))
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def cpu_times():
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("bytes") or name == "sources.bytes_written":
        return "bytes"
    if name.endswith(".s") or name.endswith("_s"):
        return "s"
    if name.endswith(("ratio", "amp", "skew", "overhead")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
