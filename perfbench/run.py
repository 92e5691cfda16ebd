#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

    python3 perfbench/run.py --workload lara_flagship --seed 1 --seconds 17 --trace 0

Run from the repository root. It compiles the engine and the harness from
source on first use (into .bench_build/), generates the seed's inputs,
runs one workload in one JVM (see src/Harness.scala), checks every result
against its reference, and prints each metric by name and unit. The last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). A traced run also
writes its spans to .bench_build/perfbench/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import verify  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(WORK, "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DEADLINE_S = 170
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the repository's build.sbt
    compiles against (`unmanagedBase`)."""
    jars = ""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.exists(os.path.join(ROOT, "build.sbt")):
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail(f"no Spark jars in {jars!r}; set SPARK_HOME to the Spark 4 install")
    return jars


def build(jars):
    """Compile the engine's main sources and the harness with scalac, once
    per source state."""
    sources = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not sources:
        fail(f"engine sources not found under {ENGINE_SRC}")
    sources += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(CLASSES, "STAMP")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        fail(f"scala compiler jars not found in {jars}")
    args_file = os.path.join(WORK, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    print("perfbench: compiling engine and harness", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def run_jvm(jars, args, run_dir, started):
    for d in ("tmp", "stage", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           # the JVM options of the repository's sbt runs (build.sbt), with
           # the heap capped lower: these inputs keep well under 1 GB live
           ["-Xmx4g", "-XX:ReservedCodeCacheSize=1g", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", CLASSES + ":" + os.path.join(jars, "*"), "perfbench.Harness"] + args)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=f"{run_dir}/stage",
               SPARK_LOCAL_DIRS=f"{run_dir}/local")
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            p.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {DEADLINE_S} s")
    if p.returncode != 0:
        with open(log_path) as f:
            print(f.read()[-4000:], file=sys.stderr)
        fail(f"harness exited with {p.returncode}")
    with open(os.path.join(run_dir, "records.json")) as f:
        return json.load(f)


def spans(rec):
    """The traced passes as spans: pass > query > build|plan|exec > job >
    stage, each [id, parent, name, start_ms, end_ms]."""
    out, traced = [], [p for p in rec["passes"] if p["traced"]]
    stage_t = {(s[0], s[1]): (s[2], s[3]) for s in rec["stages"]}
    for p in traced:
        n = p["pass"]
        pid = f"p{n}"
        out.append([pid, None, f"pass {n}", p["start"], p["start"] + p["wall_ms"]])
        for e in rec["executions"]:
            if e["pass"] != n or "t" not in e:
                continue
            qid = f"{pid}/{e['query']}"
            out.append([qid, pid, e["query"], e["t"][0], e["t"][3]])
            for i, ph in enumerate(("build", "plan", "exec")):
                out.append([f"{qid}/{ph}", qid, ph, e["t"][i], e["t"][i + 1]])
        for j in rec["jobs"]:
            if j[0] != n:
                continue
            parent = f"{pid}/{j[4]}/{j[5]}" if j[4] and j[5] else pid
            jid = f"{pid}/job{j[1]}"
            out.append([jid, parent, f"job {j[1]}", j[2], j[3]])
            for sid in j[6]:
                if (n, sid) in stage_t:
                    out.append([f"{jid}/stage{sid}", jid, f"stage {sid}", *stage_t[(n, sid)]])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=17)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    build(jars)
    started = time.time()
    with open(gen.__file__, "rb") as f:
        gen_version = hashlib.sha256(f.read()).hexdigest()[:12]
    data_dir = os.path.join(WORK, "data", f"{a.seed}-{gen_version}")
    gen.generate(data_dir, a.seed)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        rec = run_jvm(jars, [a.workload, str(a.seed), str(a.seconds), str(a.trace), data_dir,
                             run_dir], run_dir, started)
        checks = verify.verify(rec, data_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    bad = [c for c in checks if c[2] != "ok"]
    leaks = metrics.leaks(rec)
    for f in rec["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    for q, k, status, detail in bad:
        print(f"perfbench: VERIFY {status.upper()} {q} (set-up {k}): {detail}", file=sys.stderr)
    for leak in leaks:
        print(f"perfbench: LEAK {leak}", file=sys.stderr)
    attempted, failed = metrics.fail_counts(rec, checks)
    print(f"{a.workload} seed={a.seed} cores={rec['cores']}: {attempted} executions, {failed} failed, "
          f"{sum(1 for c in checks if c[2] == 'ok')}/{len(checks)} results verified")
    print(f"  fail_frac {failed / attempted:.4f} ratio")
    print(f"  set-ups {', '.join(f'{x:.3f}' for x in rec['setup_s'])} s, "
          f"codegen compiles {rec['setup_codegen_compiles']}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.trace:
        values = metrics.per_layer(rec)
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{a.workload}-{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "spans": spans(rec)}, f)
        print(f"  spans written to {os.path.relpath(trace_path, ROOT)}")
        traced = [p["wall_ms"] / 1000.0 for p in rec["passes"] if p["traced"]]
        print(f"  pass_s of the traced passes {metrics.median(traced):.6g} s")
    else:
        values, t = metrics.end_to_end(rec)
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        # printed, not bounded: too unsteady from run to run (perfbench/README.md)
        rank = f"p{t[1]:.1f} of {t[2]} executions" if t else "maximum of fewer than 11 executions"
        print(f"  job_s_tail {values['job_s_tail']:.6g} s ({rank})")
        print("  passes " + ", ".join(f"{p['wall_ms'] / 1000.0:.3f}" for p in rec["passes"]) + " s")
        for q in rec["queries"]:
            xs = [(e["t"][3] - e["t"][0]) / 1000.0 for e in rec["executions"]
                  if e["kind"] == "measured" and e["query"] == q and "t" in e]
            print(f"  {q} " + ", ".join(f"{x:.3f}" for x in xs) + " s")
        print(f"  cpu_s {values['cpu_s']:.6g} s")
    for name, unit in units.items():
        print(f"  {name} {values[name]:.6g} {unit}")
    result = {
        "correct": not bad and not rec["failures"] and not leaks,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
