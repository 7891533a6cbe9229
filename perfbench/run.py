#!/usr/bin/env python3
"""Runs one benchmark run of the graft engine and prints its result.

Usage (from the repository root):
    python3 perfbench/run.py --workload <interactive|pipeline|dml_mixed>
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the benchmark from
source (sbt, offline), generates the sf0.1 tables, derives the sf0.3 tier
with the engine's own `graft.tools.MakeBenchTier`, checks both against
the digests recorded in `perfbench/tiers.json`, and records DuckDB's
answers for the pipeline queries. Everything it writes stays under
`.bench_build/` in the checkout. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}.
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
WORKLOADS = ("interactive", "pipeline", "dml_mixed")
TIER_FACTOR = 3
RUN_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg: str) -> None:
    log(msg)
    sys.exit(2)


def source_stamp() -> str:
    """Digest of every source the benchmark's classpath is built from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def tree_hash(d: str) -> str:
    """Tier fingerprint in the manner of graft.Bench (MD5 over each file's
    relative path and size plus its first and last 4 KB), taken over the
    parquet data region only: Spark writes footer fields in an order that
    can differ between JVMs, so the footer is left out."""
    files = []
    for base, _, fs in os.walk(d):
        files += [os.path.join(base, f) for f in fs]
    md = hashlib.md5()
    for p in sorted(files, key=lambda p: os.path.relpath(p, d)):
        size = os.path.getsize(p)
        md.update(f"{os.path.relpath(p, d)}:{size}:".encode())
        with open(p, "rb") as fh:
            end = size
            if size >= 12:
                fh.seek(size - 8)
                tail = fh.read(8)
                if tail[4:] == b"PAR1":
                    end = size - 8 - int.from_bytes(tail[:4], "little")
            fh.seek(0)
            md.update(fh.read(min(4096, end)))
            if end > 4096:
                fh.seek(max(4096, end - 4096))
                md.update(fh.read(end - max(4096, end - 4096)))
    return md.hexdigest()[:16]


_children = []


def _stop_children(*_):
    """Kill every process group this script started, wait, and leave."""
    for p in _children:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    sys.exit(3)


def call(cmd, out, cwd=None, env=None, timeout=None) -> int:
    """Run `cmd` in its own process group, both output streams to the file
    object `out`; on timeout the whole group is killed and waited for."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    _children.append(p)
    try:
        p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    finally:
        _children.remove(p)
    return p.returncode


def sh(cmd, cwd=None, env=None, timeout=None) -> None:
    log("$ " + " ".join(cmd[:6]) + (" ..." if len(cmd) > 6 else ""))
    logf = os.path.join(BUILD, "logs", "prep.log")
    with open(logf, "a") as out:
        rc = call(cmd, out, cwd=cwd, env=env, timeout=timeout)
    if rc != 0:
        fail(f"command failed ({rc}): {' '.join(cmd[:4])}; see {logf}")


def build_classpath() -> str:
    """Compile engine + benchmark once per source state; return the
    runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = source_stamp()
    if (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                       " -Dsbt.server.forcestart=false").strip()
    out = os.path.join(BUILD, "logs", "sbt-export.txt")
    with open(out, "w") as fh:
        rc = call(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], fh, cwd=HERE, env=env,
                  timeout=700)
    lines = open(out).read().splitlines()
    if rc != 0 or not lines:
        fail(f"sbt build failed; see {out}")
    cp = lines[-1].strip()
    if "perfbench" not in cp:
        fail(f"unexpected sbt output; see {out}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def java_cmd(cp: str, main: str, args, work: str, heap: str = "4g"):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens + [
        # fixed heap and the throughput collector: GC sizing heuristics
        # otherwise differ between runs of the same work
        f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dderby.system.home={work}", "-cp", cp, main] + list(args))


def prepare_data(cp: str) -> dict:
    """sf0.1 and sf0.01 tables, the sf0.3 tier and DuckDB's expected
    answers; each made once per checkout, the data checked against the
    recorded digests."""
    want = json.load(open(os.path.join(HERE, "tiers.json")))
    data = os.path.join(BUILD, "data")
    os.makedirs(data, exist_ok=True)

    def generated(sf: str) -> str:
        d = os.path.join(data, f"sf{sf}")
        if not os.path.isdir(d) or tree_hash(d) != want[f"sf{sf}"]:
            shutil.rmtree(d, ignore_errors=True)
            shutil.rmtree(d + ".tmp", ignore_errors=True)
            sh([sys.executable, os.path.join(HERE, "gen_data.py"), d + ".tmp", sf])
            os.replace(d + ".tmp", d)
        got = tree_hash(d)
        if got != want[f"sf{sf}"]:
            fail(f"sf{sf} tables hash {got}, recorded {want[f'sf{sf}']}: refusing to run")
        return d

    sf01, warm = generated("0.1"), generated("0.01")
    tier = os.path.join(data, "sf0.3")
    # answers are recorded per source state: the query set may change
    expected = os.path.join(data, f"expected-sf0.3-{source_stamp()}.tsv")
    if not os.path.isdir(tier) or tree_hash(tier) != want["sf0.3"]:
        shutil.rmtree(tier, ignore_errors=True)
        work = os.path.join(BUILD, "work", "tier")
        shutil.rmtree(work, ignore_errors=True)
        env = dict(os.environ, SPARK_GRAFT_CPUS="4")
        os.makedirs(work)
        sh(java_cmd(cp, "graft.tools.MakeBenchTier",
                    [sf01, tier + ".tmp", str(TIER_FACTOR)], work),
           cwd=work, env=env, timeout=600)
        canonicalize(tier + ".tmp")
        os.replace(tier + ".tmp", tier)
        shutil.rmtree(work, ignore_errors=True)
    got = tree_hash(tier)
    if got != want["sf0.3"]:
        fail(f"sf0.3 tier hash {got}, recorded {want['sf0.3']}: refusing to run")
    if not os.path.exists(expected):
        sqls = os.path.join(data, "oracle-sql")
        shutil.rmtree(sqls, ignore_errors=True)
        work = os.path.join(BUILD, "work", "prep")
        os.makedirs(work, exist_ok=True)
        sh(java_cmd(cp, "perfbench.Prep", [sqls], work, heap="1g"),
           cwd=work, timeout=300)
        sh([sys.executable, os.path.join(HERE, "oracle.py"), tier, sqls, expected],
           timeout=600)
        shutil.rmtree(work, ignore_errors=True)
    return {"data": sf01, "warm": warm, "tier": tier, "expected": expected,
            "tier_hash": got, "data_hash": want["sf0.1"]}


def canonicalize(d: str) -> None:
    """Spark names part files with a per-write UUID; rename them to their
    part index and drop marker files so the tier's bytes and names are
    the same on every generation."""
    for base, _, fs in os.walk(d):
        for f in fs:
            p = os.path.join(base, f)
            if f.startswith(".") or f == "_SUCCESS":
                os.remove(p)
            elif f.startswith("part-"):
                os.rename(p, os.path.join(base, f[:10] + ".parquet"))


def git_sha() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run(args, cp: str, prep: dict) -> dict:
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res_path = os.path.join(results, tag + ".json")
    cmd = java_cmd(cp, "perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", prep["data"], "--warm", prep["warm"], "--tier", prep["tier"],
        "--expected", prep["expected"], "--out", res_path], work)
    logf = os.path.join(BUILD, "logs", tag + ".log")
    with open(logf, "w") as out:
        rc = call(cmd, out, cwd=work, timeout=RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if rc == -1:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; see {logf}")
    lines = [l for l in open(logf).read().splitlines()
             if l.startswith("PERFBENCH ")]
    if rc != 0 or not lines:
        fail(f"benchmark exited {rc}; see {logf}")
    result = json.loads(lines[-1][len("PERFBENCH "):])
    full = json.load(open(res_path))
    full["provenance"].update({
        "tier_hash": prep["tier_hash"], "data_hash": prep["data_hash"],
        "git_sha": git_sha(), "source_stamp": source_stamp()})
    with open(res_path, "w") as fh:
        json.dump(full, fh, indent=1)
    print(json.dumps({"provenance": full["provenance"],
                      "detail": full["detail"]}, sort_keys=True))
    return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    for d in ("logs", "work"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    t0 = time.time()
    cp = build_classpath()
    prep = prepare_data(cp)
    log(f"prepared in {time.time() - t0:.1f} s; running {args.workload}")
    result = run(args, cp, prep)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
