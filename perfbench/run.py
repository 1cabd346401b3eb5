#!/usr/bin/env python3
"""Benchmark of the trace-export engine: one workload, one run.

    python3 perfbench/run.py --workload export_point --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the engine and this
harness with sbt (into `target/` directories and `.bench_build/`), and
generates the export workloads' trace table into `.bench_build/data`;
later runs reuse both. Each run starts one JVM (local[N], N = cores) that
sets up, runs the workload's op list with one client thread, and writes
what happened to a file. Then this script checks every op's output and
prints each metric by name and unit, and as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` gives the
end-to-end metrics; `--trace 1` adds a traced pass between two untraced ones
and gives the per-layer metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("export_point", "export_bulk", "corpus")
DEADLINE_S = 170  # every run ends within 180 s
CORPUS = dict(n_docs=5000, n_vecs=2000, seed=42)  # sf0.1 sizes
CORPUS_WARM = dict(n_docs=20, n_vecs=8, seed=43)

JAVA_OPTS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_logged(cmd, log, timeout, **kw):
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{cmd[0]} ran past {timeout:.0f} s; see {log}")


def classpath():
    """Builds the engine and the harness once per checkout."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    sources = [os.path.join(d, f) for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"))
               for d, _, fs in os.walk(top) for f in fs]
    sources += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    if os.path.exists(cp_file) and all(
            os.path.getmtime(f) <= os.path.getmtime(cp_file) for f in sources if os.path.exists(f)):
        return open(cp_file).read().strip()
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or not glob.glob(
            os.path.join(ROOT, "src", "main", "scala", "graft", "*.scala")):
        fail(f"no engine sources under {ROOT}: run from the root of a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           f"-Dsbt.ivy.home={os.path.join(BUILD, 'ivy2')}",
           "compile", "export Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    if run_logged(cmd, log, 840, cwd=HERE, env=env) != 0:
        fail(f"build failed; see {log}")
    cp = [l for l in open(log).read().splitlines() if l.strip()][-1]
    if "perfbench" not in cp:
        fail(f"no classpath in build output; see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def source_key(name):
    return hashlib.sha1(open(os.path.join(HERE, name), "rb").read()).hexdigest()[:12]


def java(cp, work, args, log, timeout):
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                  "-cp", cp, "perfbench.Main", f"work={work}"] + args
    return run_logged(cmd, log, timeout)


def prepare_inputs(workload, cp, data, work, t_end):
    """Inputs of the run: the trace table is generated once per checkout
    (it depends on no seed); the corpus is rewritten on every run."""
    if workload.startswith("export"):
        key = source_key("src/main/scala/perfbench/TraceTable.scala")
        table = os.path.join(data, f"trace-{key}")
        if not os.path.exists(table):
            tmp = table + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            log = os.path.join(BUILD, "make_trace_table.log")
            rc = java(cp, work, ["workload=make_trace_table", "seed=0", "seconds=0", "trace=0",
                                 f"data={tmp}", "out=none", "setup_start_ms=0"],
                      log, t_end - time.time())
            if rc != 0:
                fail(f"trace table generation failed; see {log}")
            os.rename(os.path.join(tmp, "trace"), table)
            shutil.rmtree(tmp, ignore_errors=True)
        return table
    datagen.write_corpus(os.path.join(data, "corpus"), **CORPUS)
    datagen.write_corpus(os.path.join(data, "corpus-warm"), **CORPUS_WARM)
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    t_setup = time.time()  # set-up starts after the build
    t_end = t_setup + DEADLINE_S
    data = os.path.join(BUILD, "data")
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    table = prepare_inputs(a.workload, cp, data, work, t_end)

    out = os.path.join(work, "result.json")
    log = os.path.join(BUILD, f"run-{a.workload}.log")
    args = [f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
            f"trace={a.trace}", f"data={data}", f"out={out}",
            f"setup_start_ms={t_setup * 1000:.3f}"]
    if table:
        args.append(f"table={table}")
    if java(cp, work, args, log, t_end - time.time()) != 0 or not os.path.exists(out):
        fail(f"run failed; see {log}")
    result = json.load(open(out))

    ops = result["ops"]
    checks.check_all(ops, os.path.join(data, "corpus"))
    failed = stats.failed(ops)
    for o in failed[:5]:
        print(f"FAILED op {o['id']} {o['name']}: {o.get('error') or o.get('why')}", file=sys.stderr)

    if a.trace:
        values, units = metrics.per_layer(result), dict(metrics.PER_LAYER)
    else:
        values, units = metrics.end_to_end(result), dict(metrics.END_TO_END)
    t = stats.tail([metrics.latency(o) for o in ops])
    print(f"# {a.workload} seed={a.seed} trace={a.trace} cores={result['cores']} "
          f"ops={len(ops)} passes={result['passes']} fail_ratio={stats.fail_ratio(ops):.4f} "
          f"tail=p{t[0]:.1f} of {t[2]} samples")
    print(f"# set-up: {(result['session_ms'] - t_setup * 1000) / 1e3:.2f} s to a session, "
          f"{(result['first_op_ms'] - result['session_ms']) / 1e3:.2f} s preparing")
    if len(ops) <= 20:
        for o in ops:
            print(f"# op {o['id']} {o['name']} {metrics.latency(o):.3f} s")
    if a.trace:
        v = values
        print(f"# traced wall {v['trace.wall_s']:.3f} s = residual {v['driver.residual_s']:.3f} s + "
              f"{v['trace.wall_s'] - v['driver.residual_s']:.3f} s in jobs, plan phases and fs metadata "
              f"(jobs {v['exec.job_busy_s']:.3f} s, plans {v['plans.analysis_s'] + v['plans.optimization_s'] + v['plans.planning_s']:.3f} s, "
              f"fs {v['fs.meta_s']:.3f} s); tracing overhead {v['trace.overhead_s']:.3f} s")
    for name, value in values.items():
        print(f"{name} {value:.6g} {units[name]}")
    with open(os.path.join(BUILD, "last-result.json"), "w") as f:
        json.dump(result, f)  # the raw spans and ops of the last run, for a closer look
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
