#!/usr/bin/env python3
"""Benchmark runner: build, generate inputs, run one workload, check, report.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and the
benchmark from source into ``.bench_build/`` (sbt, offline); later runs reuse
the build while the sources are unchanged. The workload runs in one JVM on
one local Spark session with as many cores as the machine has, as a closed
loop: each op starts when the previous one ends.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` when ``--trace 0``, the per-layer ones when ``--trace 1``.
A record of the run (environment, raw samples, checks, per-span counters)
is written to ``.bench_out/``.
"""

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import acordos  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 540
HEAP = "3g"

# Inputs per workload. A batch refresh lands BATCH_ROWS rows; a daily pass
# lands DAYS days of DAY_ROWS rows each (the reference's sheet is
# O(10^2-10^3) rows, so a day is reference-sized).
BATCH_ROWS = 50_000
DAYS = 5
DAY_ROWS = 2_000

# Tail percentile per workload (nearest rank); see BENCHMARK.json.
TAIL = {"medallion_batch": 1.00, "medallion_daily": 0.75, "registry_mix": 0.75}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_digest():
    """Digest of every file the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java_cmd(home, jar, tmp, archive_flag):
    """The benchmark JVM's command line, up to the main class."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if archive_flag:
        cmd.append(archive_flag)
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{jar}:{os.path.join(home, 'jars')}/*", "perfbench.Main"]


def build(home):
    """Compiles and packages the engine with the benchmark, then records a
    class-data-sharing archive of the classes a medallion run loads, so
    every run starts its JVM the same way. Returns (jar, archive or None)."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    jar = os.path.join(BUILD, "sbt", "perfbench.jar")
    archive = os.path.join(BUILD, "classes.jsa")
    if not (os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(jar)):
        os.makedirs(BUILD, exist_ok=True)
        for f in (stamp, archive):
            if os.path.exists(f):
                os.remove(f)
        env = dict(os.environ, SPARK_HOME=home)
        env.setdefault("COURSIER_MODE", "offline")
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as lf:
            rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                             BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT)
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"build failed (exit {rc}); log in {log}")
        dump = os.path.join(BUILD, "cds")
        shutil.rmtree(dump, ignore_errors=True)
        make_inputs("medallion_daily", 0, os.path.join(dump, "in"), None, days=2)
        os.makedirs(os.path.join(dump, "tmp"))
        with open(os.path.join(BUILD, "cds.log"), "w") as lf:
            run_bounded(java_cmd(home, jar, os.path.join(dump, "tmp"),
                                 f"-XX:ArchiveClassesAtExit={archive}") +
                        ["--workload", "medallion_daily", "--seconds", "0", "--trace", "0",
                         "--in", os.path.join(dump, "in"), "--work", os.path.join(dump, "work"),
                         "--out", os.path.join(dump, "result.json")],
                        RUN_TIMEOUT_S, cwd=BUILD, stdout=lf, stderr=subprocess.STDOUT)
        shutil.rmtree(dump, ignore_errors=True)
        with open(stamp, "w") as f:
            f.write(digest)
    return jar, (archive if os.path.exists(archive) else None)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def make_inputs(workload, seed, in_dir, mix, days=DAYS):
    """Writes the workload's inputs under in_dir; returns the expectation."""
    if workload == "medallion_batch":
        os.makedirs(os.path.join(in_dir, "landing"))
        table, exp = acordos.batch(seed, BATCH_ROWS)
        acordos.write(table, os.path.join(in_dir, "landing", "part-0.parquet"))
        return exp
    if workload == "medallion_daily":
        os.makedirs(os.path.join(in_dir, "days"))
        tables, exp = acordos.days(seed, days, DAY_ROWS)
        for d, t in enumerate(tables):
            acordos.write(t, os.path.join(in_dir, "days", f"day-{d:04d}.parquet"))
        return exp
    # registry_mix reads the pinned table directory; the seed sets the order
    order = [e["name"] for e in mix["entries"]]
    random.Random(seed).shuffle(order)
    return {"order": order}


def nearest_rank(xs, p):
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def check(workload, res, exp, mix):
    """Returns a list of failed output checks (empty when all pass)."""
    c = res["check"]
    bad = []
    if workload in ("medallion_batch", "medallion_daily"):
        for o in ("acordos", "hier", "pais", "org"):
            if c.get(f"gld_{o}") != exp[o]:
                bad.append(f"gld_{o}: {c.get(f'gld_{o}')} rows, expected {exp[o]}")
            if workload == "medallion_daily" and c.get(f"gld_{o}_equals_batch") is not True:
                bad.append(f"gld_{o}: incremental output differs from the batch run")
        if workload == "medallion_batch" and c.get("cached_rdds_after_unpersist") != 0:
            bad.append("gold frame still cached after unpersist")
    else:
        for e in mix["entries"]:
            got = c.get(e["name"], {})
            if got.get("rows") != e["rows"] or got.get("hash") != e["hash"]:
                bad.append(f"{e['name']}: got {got}, expected rows={e['rows']} hash={e['hash']}")
        if c.get("warm_build_s", 0) > 0:
            bad.append(f"a warm pass ran builds ({c['warm_build_s']:.3f}s)")
    return bad


def latencies(workload, res):
    """The op latencies behind op_p50_s, op_tail_s and ops_per_s."""
    if workload == "registry_mix":
        # one per entry: its median over the timed passes, so a pass the
        # host slowed down does not move it
        return [statistics.median(xs) for xs in res["info"]["warm_entry_s"].values() if xs]
    return res["ops"]


def metrics(workload, res, spec, trace):
    if trace:
        layers = json.load(open(os.path.join(HERE, "layers.json")))["groups"]
        out = {}
        for m in spec["per_layer"]:
            name = m["name"]
            if name in res["layers"]:
                v = res["layers"][name]
            else:
                group = next((g for g in layers if name.startswith(g["prefix"])), None)
                if group is None or workload in group["on"]:
                    fail(f"per-layer metric {name} was not measured on {workload}", 3)
                v = 0.0  # a layer this workload makes no call into
            out[name] = {"value": v, "unit": m["unit"]}
        return out
    ops = latencies(workload, res)
    values = {
        "setup_s": statistics.median(res["setup_s"]),
        "op_p50_s": statistics.median(ops),
        "op_tail_s": nearest_rank(ops, TAIL[workload]),
        "ops_per_s": len(ops) / sum(ops),
        "cold_s": res["cold_s"],
        "stored_bytes_per_input_byte": res["stored_bytes"] / res["input_bytes"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of an engine checkout (src/main/scala/graft not found)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    mix = json.load(open(os.path.join(HERE, "registry_mix.json")))
    home = spark_home()
    jar, archive = build(home)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, work, tmp = (os.path.join(run_dir, d) for d in ("in", "work", "tmp"))
    for d in (in_dir, work, tmp):
        os.makedirs(d)
    try:
        exp = make_inputs(a.workload, a.seed, in_dir, mix)
        result = os.path.join(run_dir, "result.json")
        cmd = java_cmd(home, jar, tmp, archive and f"-XX:SharedArchiveFile={archive}") + [
            "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--in", in_dir, "--work", work, "--out", result]
        if a.workload == "registry_mix":
            cmd += ["--data", os.path.join(HERE, mix["data"]), "--entries", ",".join(exp["order"])]
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        if rc != 0 or not os.path.exists(result):
            sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
            fail(f"benchmark JVM exited with {rc}", 3)
        res = json.load(open(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    bad = check(a.workload, res, exp, mix)
    for b in bad:
        print(f"perfbench: check failed: {b}", file=sys.stderr)
    # an op whose output check fails counts as failed
    attempted = res["attempted"]
    failed = min(attempted, res["failed"] + len(bad))
    m = metrics(a.workload, res, spec, a.trace)

    env = dict(res["env"], seed=a.seed, seconds=a.seconds, trace=a.trace, heap=HEAP,
               class_data_archive=archive is not None,
               git_commit=git_commit(), source_sha256=source_digest(),
               samples={"ops": len(res["ops"]), "passes": len(res["passes"]),
                        "setups": len(res["setup_s"]),
                        "tail_percentile": TAIL[a.workload],
                        "tail_over": len(latencies(a.workload, res))})
    if a.workload == "medallion_batch":
        env["batch_rows_per_s"] = exp["rows"] * len(res["ops"]) / sum(res["ops"])
        env["landing_rows"] = exp["rows"]
    elif a.workload == "medallion_daily":
        env["days_per_pass"], env["landed_rows"] = DAYS, exp["rows"]
    record = dict(res, env=env, expected=exp, bad_checks=bad)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": not bad and res["failed"] == 0, "attempted": attempted,
                      "failed": failed, "metrics": m}))


if __name__ == "__main__":
    main()
