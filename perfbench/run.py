#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. The launcher compiles graft's
sources and the benchmark's Scala program (cached by source hash), starts
one benchmark JVM over the input tables in `perfbench/data/` with Spark at
local[nproc], checks every result outside the timed window, prints a table
of the metrics with their units, appends the full record to
`.bench_build/perfbench/results/<workload>.jsonl`, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                     "perfbench")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave the checkout as it was

import digest  # noqa: E402

# scale of each workload's input tables; every workload warms up at 0.001,
# and --smoke runs everything there
SCALE = {"sql_mix": "0.1", "curation_batch": "0.01",
         "index_ingest_serve": "0.1"}
SMOKE_SCALE = "0.001"
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the repo's own build declares (`unmanagedBase`)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        fail("build.sbt not found: run from the root of a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""),
                                          "jars")
    if not glob.glob(os.path.join(d, "spark-core_*.jar")):
        fail(f"no Spark jars in {d}")
    return d


def sources():
    src = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                        "*.scala"), recursive=True))
    if not src:
        fail("src/main/scala has no sources: run from a graft checkout")
    return src + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(jars):
    """Compile graft + the benchmark's Scala program once per source hash."""
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(p.encode())
        h.update(open(p, "rb").read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".ok")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", out,
                        "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    open(os.path.join(out, ".ok"), "w").close()
    return out


def data(sf):
    """The repo's seed-42 test tables at scale `sf`, kept with the benchmark."""
    d = os.path.join(HERE, "data", f"sf{sf}")
    missing = [t for t in digest.TABLES
               if not os.path.isfile(os.path.join(d, t + ".parquet"))]
    if missing:
        fail(f"input tables missing in {d}: {missing}")
    return d


def run_jvm(classes, jars, args, log):
    tmp = os.path.join(BUILD, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap: G1 does not shrink it after the pre-window GC; no
    # hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss16m"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--t0-ms", str(int(time.time() * 1000))] + args)
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                             cwd=BUILD, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s; see {log}")
    if rc != 0:
        fail(f"benchmark JVM exited with {rc}; see {log}")


def reference(name, sql, sf):
    """Stored DuckDB digest of a curation gate's oracle, if it is current."""
    path = os.path.join(HERE, "reference_digests.json")
    ref = json.load(open(path)).get(f"{name}@sf{sf}") if os.path.isfile(path) else None
    if ref and sql and ref["oracle_sha256"] == hashlib.sha256(sql.encode()).hexdigest():
        return ref["rows"], ref["digest"]
    return None


def check_results(res, data_dir, sf):
    """Fill in the checks the JVM left to the launcher; return failed names."""
    con = None
    bad = set()
    for c in res["checks"]:
        if c["ok"] is None:
            try:
                got = digest.of_parquet(c["dump"])
                exp = reference(c["name"], c["oracle"], sf) if res["workload"] == "curation_batch" else None
                if exp is None:
                    if not c["oracle"]:
                        raise ValueError("no oracle SQL")
                    if con is None:
                        con = digest.duck(data_dir)
                    exp = digest.of_frame(con.sql(c["oracle"]).df())
                c["ok"] = got == exp
                c["detail"] = f"rows/digest {got} vs oracle {exp}"
            except Exception as e:  # a check that cannot run is a failed check
                c["ok"] = False
                c["detail"] = f"{type(e).__name__}: {e}"
        if not c["ok"]:
            bad.update(c["ops"])
            print(f"[perfbench] check failed: {c['name']}: {c['detail']}",
                  file=sys.stderr)
    return bad


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description="graft benchmark run")
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 inputs, at most three passes: for the benchmark's tests")
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    section = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    classes = build(jars)
    sf = SMOKE_SCALE if a.smoke else SCALE[a.workload]
    data_dir = data(sf)
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(BUILD, "work", tag + ".json")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    run_jvm(classes, jars, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data_dir, "--warm", data(SMOKE_SCALE), "--work", work,
        "--out", out,
        "--cpus", str(cpus), "--smoke", "1" if a.smoke else "0"],
        os.path.join(logs, tag + ".log"))
    res = json.load(open(out))
    bad = check_results(res, data_dir, sf)
    ops = res["ops"]
    threw = res["threw"]
    failed = len(threw) + sum(n for k, n in ops.items() if k in bad) - \
        sum(1 for k in threw if k in bad)
    attempted = res["attempted"]
    m = dict(res["metrics"])
    m["error_rate"] = failed / attempted if attempted else 1.0

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "seconds": a.seconds, "scale": sf, "git_commit": git_commit(),
              "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "env": res["env"], "phases_s": res["phases_s"],
              "passes": res["passes"], "attempted": attempted,
              "failed": failed, "latency_tail_pct": res["latency_tail_pct"],
              "latency_tail_beyond": res["latency_tail_beyond"],
              "metrics": {k: {"value": v, "unit": units.get(k, "")}
                          for k, v in m.items()},
              "checks": [{k: c[k] for k in ("name", "ok", "detail")}
                         for c in res["checks"]]}
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, a.workload + ".jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    env = res["env"]
    print(f"{a.workload} seed={a.seed} trace={a.trace} scale=sf{sf} "
          f"cpus={env['cpus']} spark={env['spark_version']} "
          f"java={env['java_version']} commit={record['git_commit'][:12]} "
          f"load={env['loadavg_before']:.2f}->{env['loadavg_after']:.2f} "
          f"others_cpu_s={env['others_cpu_s']:.1f}")
    missing = [x["name"] for x in section if x["name"] not in m]
    if missing:
        fail(f"metrics not measured: {missing}")
    shown = [x["name"] for x in section]
    if not a.trace:  # the index-store and correctness numbers beside them
        shown += ["build_s", "append_p50_s", "compact_s", "space_amp",
                  "error_rate"]
    for k in shown:
        note = ""
        if k == "latency_tail_s":
            note = (f"  (p{res['latency_tail_pct']:.1f}, "
                    f"{res['latency_tail_beyond']} samples beyond)")
        print(f"  {k:<36} {m[k]:>14.6g} {units[k]}{note}")
    print(json.dumps({
        "correct": failed == 0 and all(c["ok"] for c in res["checks"]),
        "attempted": attempted, "failed": failed,
        "metrics": {x["name"]: {"value": m[x["name"]], "unit": x["unit"]}
                    for x in section}}))


if __name__ == "__main__":
    main()
