#!/usr/bin/env python3
"""graft's benchmark: three workloads through the engine's public entry points.

    python3 perfbench/run.py --workload {analyst,curation,ingest}
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the engine and this
harness from source with sbt (``perfbench/build.sbt``) and writes the
fixture twin (``gen.py``); later runs reuse both while the sources are
unchanged. Everything the benchmark writes stays under ``perfbench/.work``.

One run starts one JVM with ``local[<cores>]`` and one closed-loop client
thread. After set-up (session and calibration probe) it runs passes of the
workload's fixed work: the workload's minimum (two for ``analyst``, else
one), then more until ``--seconds`` have gone by. The first pass runs cold,
as a batch job or a fresh analysis session meets it, and every op's output
is checked. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` prints the per-layer metrics of a traced run, with its spans
and their self-time rollup written next to its result, and the trace
overhead against an untraced run of the same seed. The last line of stdout
is the result JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("analyst", "curation", "ingest")
# A fixed heap and young generation, so resident memory follows the data
# the engine retains, not the collector's sizing decisions.
HEAP_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn512m"]
BUILD_TIMEOUT_S = 840
# A run must end within 180 s once built; its harness JVMs share this.
RUN_DEADLINE_S = 170
# The JVM flags Spark needs on JDK 17 outside spark-submit (the engine's
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine and harness with sbt, once per source state, and
    returns the runtime classpath."""
    out = os.path.join(WORK, "build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    with open(log) as fh:
        lines = fh.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (sbt exit {rc}); log in {log}")
    cp = next(l for l in reversed(lines)
              if not l.startswith("[") and os.pathsep in l)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def fixtures():
    d = os.path.join(WORK, f"sf{gen.SF}")
    stamp = os.path.join(d, "VERSION")
    if not (os.path.exists(stamp) and open(stamp).read() == gen.FIXTURE_VERSION):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_fixtures(d)
        with open(stamp, "w") as f:
            f.write(gen.FIXTURE_VERSION)
    return d


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"no engine sources next to {HERE}; run from a full checkout")
    cp = build()
    sf = fixtures()
    n = cores()
    deadline = time.monotonic() + RUN_DEADLINE_S
    # A traced run is paired with an untraced run of the same seed, made
    # here, first: trace overhead is the ratio of their wall times.
    runs = [launch(a, cp, sf, n, t, deadline) for t in sorted({0, a.trace})]
    untraced, result = runs[0], runs[-1]
    ops = [o for r in runs for o in r["ops"]]
    failed = [o for o in ops if not o["ok"]]
    for o in failed:
        print(f"failed op: pass {o['pass']} {o['name']} rows={o['rows']}")
    e2e, diag = metrics.end_to_end(untraced)
    op_tail = diag["op_tail"]
    print(f"workload={a.workload} seed={a.seed} cores={n} client=1 closed-loop "
          f"passes={len(result['passes'])} ops={len(result['ops'])} "
          f"fail_ratio={len(failed) / len(ops):.4f} dump_bytes={result['dump_bytes']}")
    n_lat = len(untraced["ops"])
    print(f"op_p50_ms={diag['op_p50_ms']:.2f} (median of {n_lat} op latencies)")
    if op_tail is None:
        print(f"op_tail_ms: not resolvable from {n_lat} op latencies (the "
              f"highest percentile with {metrics.TAIL_BEYOND} samples above "
              f"is below p{metrics.TAIL_MIN_PCT:.0f})")
    else:
        print(f"op_tail_ms={op_tail[0]:.2f} at p{op_tail[1]:.1f} "
              f"({op_tail[2]} of {n_lat} samples above)")
    for r in runs:
        print(f"contention (trace {int(bool(r.get('traced_passes')))}): loadavg "
              f"{r['load_start']} -> {r['load_end']}; calibration s "
              f"{r['calib_start_s']} -> {r['calib_end_s']}")
    if a.trace:
        run_dir = result["run_dir"]
        with open(os.path.join(run_dir, "spans.jsonl")) as f:
            spans = [json.loads(l) for l in f if l.strip()]
        out = metrics.per_layer(result, spans, untraced)
        with open(os.path.join(run_dir, "rollup.json"), "w") as f:
            json.dump({k: {"value": v, "unit": u} for k, (v, u) in out.items()},
                      f, indent=1, sort_keys=True)
        print(f"trace: {len(spans)} spans in {run_dir}/spans.jsonl, "
              f"rollup in {run_dir}/rollup.json")
    else:
        out = e2e
    for k, (v, u) in out.items():
        print(f"{k}={v:.6g} {u}")
    print(json.dumps({
        "correct": not failed, "attempted": len(ops), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))


def run_dir_of(workload, seed, trace):
    return os.path.join(WORK, "runs", f"{workload}-seed{seed}-trace{trace}")


def launch(a, cp, sf, n, trace, deadline):
    """Runs the harness JVM once and returns its result record."""
    run_dir = run_dir_of(a.workload, a.seed, trace)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    dump = os.path.join(run_dir, "dump")
    dump_bytes = gen.write_ingest_dump(a.seed, dump) if a.workload == "ingest" else 0
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *HEAP_FLAGS, f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(trace),
            "--cores", str(n), "--fixtures", sf, "--dump", dump,
            "--goldens", os.path.join(HERE, "goldens.tsv"),
            "--work", run_dir, "--out", run_dir]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log = os.path.join(run_dir, "jvm.log")
    t0 = time.monotonic()
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=fh,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                env=env)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness exited with {rc} after {time.monotonic() - t0:.0f} s; log in {log}")
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    result.update(run_dir=run_dir, dump_bytes=dump_bytes)
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return result

if __name__ == "__main__":
    main()
