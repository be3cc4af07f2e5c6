#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload migrate|engine \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run in a checkout compiles
the program and the harness (perfbench/harness) with sbt and prepares
the corpora under .perfbench/; later runs reuse both. Each run starts a
fresh JVM (local[4], one client, one operation at a time), times its
set-up, one cold pass and steady passes for S seconds, checks every
output, and prints one JSON line last. With --trace 0 the line carries
the end-to-end metrics, with --trace 1 the per-layer metrics.

Both workloads read a two-fold GenScale copy of the sf0.01 fixture the
repository's TESTDATA.md lists. Each run links the corpus under a fresh
path, so every one-time artifact the program publishes for it is built
cold, and removes those artifacts afterwards.
"""
import argparse
import hashlib
import json
import os
import re
import selectors
import shutil
import signal
import subprocess
import sys
import time

import checks
import metrics

WORKLOADS = ("migrate", "engine")
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(ROOT, "perfbench", "harness")
# the program publishes its one-time artifacts as graft_* under /tmp
ARTIFACT_DIR = "/tmp"
# a run ends within 180 s; the JVM gets all but the checks' share of it
RUN_LIMIT_S = 170
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [opt for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for opt in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_hash():
    """Digest of everything the build compiles, so a changed tree
    rebuilds and an unchanged one reuses the build."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/harness"]
    for top in tops:
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base)
            if "target" not in os.path.relpath(d, ROOT).split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".sbt", ".scala", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the whole group if
    it outlives timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode


def build():
    """Compiles program and harness; returns the runtime classpath."""
    cp_file = os.path.join(STATE, f"classpath-{source_hash()}")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    os.makedirs(STATE, exist_ok=True)
    log("building program and harness with sbt")
    out = os.path.join(STATE, "build.log")
    with open(out, "w") as f:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], 600, cwd=HARNESS,
                       env=sbt_env(), stdout=f, stderr=subprocess.STDOUT)
    with open(out) as f:
        lines = [l.strip() for l in f if l.strip().endswith(".jar")]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {out}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def fixture(sf):
    """The fixture directory of scale factor sf, as TESTDATA.md lists it."""
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"^\|\s*" + re.escape(sf) + r"\s*\|\s*`([^`]+)`", f.read(), re.M)
    except OSError:
        m = None
    d = m.group(1).rstrip("/") if m else None
    if not d or not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        fail(f"no sf{sf} fixture directory found ({d})")
    return d


def java(cp, args, work):
    """Command and keyword arguments that run a JVM whose scratch files
    all land in work."""
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}", "-cp", cp] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    return cmd, {"cwd": work, "env": env}


def prepare_corpus(cp):
    """GenScale's two-fold copy of the sf0.01 fixture, written as
    multi-file tables, so that scans split into several tasks."""
    corpus = os.path.join(STATE, "corpus", "sf0.01x2")
    if not os.path.isdir(corpus):
        log("generating the corpus")
        work = os.path.join(STATE, "gen")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        cmd, kw = java(cp, ["graft.GenScale", fixture("0.01"), corpus + ".tmp", "2"], work)
        with open(os.path.join(work, "gen.log"), "w") as f:
            if run_group(cmd, 600, stdout=f, stderr=subprocess.STDOUT, **kw) != 0:
                fail("GenScale failed; see .perfbench/gen/gen.log")
        os.rename(corpus + ".tmp", corpus)
        shutil.rmtree(work)
    return corpus


def link_tree(src, dst):
    """Hard-link copy: a fresh path for the same files."""
    for d, _, fs in os.walk(src):
        out = os.path.join(dst, os.path.relpath(d, src))
        os.makedirs(out, exist_ok=True)
        for f in fs:
            os.link(os.path.join(d, f), os.path.join(out, f))


def artifacts():
    try:
        return {n for n in os.listdir(ARTIFACT_DIR) if n.startswith("graft_")}
    except OSError:
        return set()


def remove_artifacts(names):
    for n in names:
        p = os.path.join(ARTIFACT_DIR, n)
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.remove(p)
            except OSError:
                pass


def host_stamp():
    with open("/proc/stat") as f:
        cpu = next(l for l in f if l.startswith("cpu "))
    return {"loadavg": list(os.getloadavg()), "steal_ticks": int(cpu.split()[8])}


def wait_ready(p, t0, deadline):
    """Seconds from spawn until the JVM reports its session ready."""
    sel = selectors.DefaultSelector()
    sel.register(p.stdout, selectors.EVENT_READ)
    seen = b""
    while time.perf_counter() < deadline:
        if sel.select(timeout=1.0):
            chunk = os.read(p.stdout.fileno(), 4096)
            if not chunk:
                break
            seen += chunk
            if b"PERFBENCH_READY\n" in seen:
                return time.perf_counter() - t0
    raise RuntimeError("harness ended or stalled before its session was ready")


def one_run(args, cp, corpus_src, run_dir):
    corpus = os.path.join(run_dir, "corpus")
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    link_tree(corpus_src, corpus)
    deadline = time.perf_counter() + RUN_LIMIT_S

    record_path = os.path.join(work, "record.json")
    t0 = time.perf_counter()
    cmd, kw = java(cp, ["graft.perfbench.Harness", args.workload, corpus, work,
                        str(args.seed), str(args.seconds), str(args.trace), record_path], work)
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                             start_new_session=True, **kw)
        try:
            setup_s = wait_ready(p, t0, deadline)
            p.communicate(timeout=max(1.0, deadline - time.perf_counter()))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if p.returncode != 0 or not os.path.isfile(record_path):
        raise RuntimeError(f"harness exited {p.returncode}")
    with open(record_path) as f:
        record = json.load(f)
    if args.workload == "migrate":
        results = checks.check_migration(record["checks"])
    else:
        results = checks.check_keys(record["checks"], corpus)
    return record, setup_s, results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    units = metric_units("per_layer" if args.trace else "end_to_end")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (build.sbt and src/ not found)")

    cp = build()
    corpus = prepare_corpus(cp)
    runs = os.path.join(STATE, "runs")
    shutil.rmtree(runs, ignore_errors=True)  # leftovers of a killed run
    run_dir = os.path.join(runs, f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    before = artifacts()
    stamp_before = host_stamp()
    try:
        record, setup_s, results = one_run(args, cp, corpus, run_dir)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        try:
            with open(os.path.join(run_dir, "work", "jvm.log"), errors="replace") as f:
                sys.stderr.writelines(f.readlines()[-20:])
        except OSError:
            pass
        fail(f"run failed: {e}")
    finally:
        stamp_after = host_stamp()
        remove_artifacts(artifacts() - before)
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = [o for p in record["passes"] for o in p["ops"]]
    failures = record["failures"] + [f"{n}: {e}" for n, e in results if e]
    attempted = len(ops) + len(results)
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for _, e in results if e)
    for f in failures:
        log(f"FAILED {f}")

    if args.trace:
        modules = metrics.source_modules(os.path.join(ROOT, "src", "main", "scala", "graft"))
        modules.update({"Harness": "perfbench", "Trace": "perfbench"})
        values = metrics.per_layer(record, modules)
    else:
        values = metrics.end_to_end(record)
        values["setup_s"] = setup_s
    info = {"error_rate": failed / attempted, "steady_passes": len(record["passes"]) - 1}
    p50 = metrics.microbatch_p50_ms(record)
    if p50 is not None:
        info["microbatch_p50_ms"] = p50
    print("[perfbench] " + " ".join(f"{k}={v}" for k, v in info.items()), flush=True)

    os.makedirs(os.path.join(STATE, "records"), exist_ok=True)
    rec_name = f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(STATE, "records", rec_name), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "trace": args.trace,
                   "nproc": len(os.sched_getaffinity(0)), "host_before": stamp_before,
                   "host_after": stamp_after, "setup_s": setup_s,
                   "metrics": values, "info": info, "failures": failures,
                   "run": record}, f)

    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}))


def metric_units(section):
    """Metric name -> unit, for one section of BENCHMARK.json."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return {m["name"]: m["unit"] for m in json.load(f)[section]}
    except (OSError, KeyError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")


if __name__ == "__main__":
    main()
