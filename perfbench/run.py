#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first call builds the harness
(perfbench/build.sbt compiles perfbench/src on top of the root build's
project), makes the scaled data set, and runs the oracle gate for every
workload; all three are cached under .bench_build/ and reused while the
sources, build files and data stay the same.

The last line of standard output is one JSON object: correct, attempted,
failed and metrics. With --trace 0 the metrics are the end-to-end ones
named in BENCHMARK.json, with --trace 1 the per-layer ones. The lines
before it name every metric with its unit and sample count. The full run
record (stamps, every execution, spans when traced) is written under
.bench_build/records/ for compare.py.
"""
import argparse
import contextlib
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = os.path.join(HERE, "workloads.json")
ENGINE = os.path.join(ROOT, "src", "main")
CHECK_ORACLE = os.path.join(ROOT, "tools", "check_oracle.py")
MAKE_SCALED = os.path.join(ROOT, "tools", "make_scaled_sf.py")
TESTDATA_DOC = os.path.join(ROOT, "TESTDATA.md")

JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600
GATE_TIMEOUT_S = 600
# java.base packages Spark needs opened on JDK 17 (as in the root build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sha256_of(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def files_under(*dirs):
    out = []
    for d in dirs:
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names]
    return sorted(out)


def nproc():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """Max heap as the Tier-1 command derives SPARK_DRIVER_MEM: half of
    physical memory in whole GiB, clamped to [2, 8]."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return "%dg" % min(8, max(2, kb // 2097152))


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) CPU ticks of the whole machine since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


# process groups of the children running now, killed if this run is
CHILDREN = set()


def stop_children(signum, frame):
    """Kill every child process group, then exit: a stopped run leaves
    no JVM behind."""
    for pgid in list(CHILDREN):
        with contextlib.suppress(ProcessLookupError):
            os.killpg(pgid, signal.SIGKILL)
    sys.exit(128 + signum)


def run_cmd(cmd, timeout, cwd=None, env=None, log_path=None):
    """Run `cmd` in its own process group; kill the group on timeout.
    Returns (exit code, combined output)."""
    out = open(log_path, "w+") if log_path else subprocess.PIPE
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, text=True,
                         start_new_session=True)
    CHILDREN.add(p.pid)
    try:
        text, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError("timed out after %ds: %s" % (timeout, " ".join(cmd[:3])))
    finally:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(p.pid, signal.SIGKILL)
        CHILDREN.discard(p.pid)
    if log_path:
        out.seek(0)
        text = out.read()
        out.close()
    return p.returncode, text


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g"]))
    return env


def built(cp_file):
    """A classpath was exported for these sources and its harness classes
    are still there."""
    if not os.path.exists(cp_file):
        return False
    with open(cp_file) as f:
        classes = f.read().split(":")[0]
    return os.path.exists(os.path.join(classes, "perfbench", "Harness.class"))


def build_files(base):
    """The sbt build definition of the build at `base`."""
    proj = os.path.join(base, "project")
    return [os.path.join(base, "build.sbt")] + sorted(
        os.path.join(proj, n) for n in os.listdir(proj)
        if n.endswith((".sbt", ".scala", ".properties")))


def build():
    """Compile the harness with the engine; return its runtime classpath."""
    stamp = sha256_of(files_under(ENGINE, os.path.join(HERE, "src"))
                      + build_files(ROOT) + build_files(HERE))
    cp_file = os.path.join(BUILD, "classpath-%s.txt" % stamp)
    if not built(cp_file):
        t0 = time.time()
        code, out = run_cmd(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, cwd=HERE,
            env=sbt_env())
        cps = [l for l in out.splitlines()
               if not l.startswith("[") and "classes" in l and ":" in l]
        if code != 0 or not cps:
            sys.stderr.write(out[-4000:])
            raise BenchError("harness build failed (exit %d)" % code)
        with open(cp_file, "w") as f:
            f.write(cps[-1].strip())
        log("built harness in %.1fs" % (time.time() - t0))
    with open(cp_file) as f:
        return stamp, f.read().strip()


def java_cmd(cp, tmp, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    return (["java"] + opens +
            ["-Xmx" + driver_mem(), "-Xmn2g",
             "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, main] + args)


# scaled copies of the source tables: scale name -> copies of sf0.1. x4
# puts the trading graph (1.17M edges at sf0.1) above the 4M-edge gate of
# the driver-local graph replays.
SCALES = {"sf0.1": 1, "sf0.4": 4}


def source_tables():
    """The read-only sf0.1 tables every scale here derives from: the
    directory TESTDATA.md lists for sf 0.1, unless PERFBENCH_TESTDATA names
    another."""
    if os.environ.get("PERFBENCH_TESTDATA"):
        return os.environ["PERFBENCH_TESTDATA"]
    with open(TESTDATA_DOC) as f:
        m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    if not m:
        raise BenchError("TESTDATA.md lists no sf 0.1 directory")
    return m.group(1).rstrip("/")


def dataset(scale):
    """Directory of the tables at `scale`: the source tables themselves, or
    a copy made by tools/make_scaled_sf.py once and keyed by the hashes of
    the source files and the script."""
    src = source_tables()
    if not os.path.isdir(src):
        raise BenchError("source tables not found: %s" % src)
    if scale not in SCALES:
        raise BenchError("unknown scale %s" % scale)
    if SCALES[scale] == 1:
        return src
    key = sha256_of(files_under(src) + [MAKE_SCALED])
    dst = os.path.join(BUILD, "data", "%s-%s" % (scale, key))
    if not os.path.isdir(dst):
        tmp = dst + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        code, out = run_cmd([sys.executable, MAKE_SCALED, src, tmp,
                             str(SCALES[scale])], 600)
        if code != 0:
            sys.stderr.write(out[-4000:])
            raise BenchError("make_scaled_sf.py failed")
        os.rename(tmp, dst)
        with open(dst + ".json", "w") as f:
            json.dump({"generate_s": time.time() - t0}, f)
        log("generated %s in %.1fs" % (scale, time.time() - t0))
    return dst


def data_generate_s(scale):
    """Seconds it took to make the scaled copy (none for the source data);
    recorded, never charged to setup_s."""
    meta = dataset(scale) + ".json"
    if not os.path.exists(meta):
        return None
    with open(meta) as f:
        return json.load(f)["generate_s"]


VERIFY_FAILED = re.compile(r"^\[verify\] (\S+) failed: (.*)$")
ORACLE_OK = re.compile(r"^ok\s+(\S+) \((\d+) rows\)$")
ORACLE_FAIL = re.compile(r"^FAIL (\S+): (.*)$")
ORACLE_SUMMARY = re.compile(r"^(\d+) ok, (\d+) fail")


def parse_gate(verify_out, oracle_out, queries):
    """Expected row counts of the queries that passed, and the reasons of
    those that failed. Verify and check_oracle.py both exit 0 when a query
    fails, so their output is what tells."""
    failed = {}
    for line in verify_out.splitlines():
        m = VERIFY_FAILED.match(line.strip())
        if m:
            failed[m.group(1)] = "Verify: " + m.group(2)[:200]
    expected, oracle_failed, summary = {}, set(), None
    for line in oracle_out.splitlines():
        line = line.strip()
        ok, bad, total = (ORACLE_OK.match(line), ORACLE_FAIL.match(line),
                          ORACLE_SUMMARY.match(line))
        if ok:
            expected[ok.group(1)] = int(ok.group(2))
        elif bad:
            oracle_failed.add(bad.group(1))
            failed.setdefault(bad.group(1), "oracle: " + bad.group(2)[:200])
        elif total:
            summary = (int(total.group(1)), int(total.group(2)))
    if summary != (len(expected), len(oracle_failed)):
        raise BenchError("check_oracle.py summary %s does not match its %d ok "
                         "and %d FAIL lines" % (summary, len(expected),
                                                len(oracle_failed)))
    for q in queries:
        if q not in expected:
            failed.setdefault(q, "no oracle result")
    return {q: n for q, n in expected.items() if q not in failed}, failed


def gate(name, wl, cp, stamp):
    """Run graft.Verify and tools/check_oracle.py over the workload's
    queries at its scale; cache the oracle-checked row counts."""
    sf = dataset(wl["scale"])
    key = hashlib.sha256(json.dumps([stamp, sf, wl["queries"]]).encode()).hexdigest()[:16]
    cache = os.path.join(BUILD, "gate", "%s-%s.json" % (name, key))
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    work = os.path.join(BUILD, "gate", "%s-work" % name)
    shutil.rmtree(work, ignore_errors=True)
    tmp, out = os.path.join(work, "tmp"), os.path.join(work, "out")
    os.makedirs(tmp)
    try:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
        t0 = time.time()
        code, vout = run_cmd(java_cmd(cp, tmp, "graft.Verify",
                                      [sf, out, ",".join(wl["queries"])]),
                             GATE_TIMEOUT_S, cwd=work, env=env,
                             log_path=os.path.join(work, "verify.log"))
        if code != 0:
            sys.stderr.write(vout[-4000:])
            raise BenchError("graft.Verify exited %d" % code)
        t1 = time.time()
        env = dict(os.environ, GRAFT_DUCKDB_TEMPDIR=os.path.join(work, "duckdb"),
                   GRAFT_DUCKDB_MEMLIMIT="4GB", GRAFT_DUCKDB_TEMPMAX="8GB")
        code, oout = run_cmd([sys.executable, CHECK_ORACLE, sf, out, "--only",
                              ",".join(wl["queries"])], GATE_TIMEOUT_S,
                             cwd=work, env=env)
        if code != 0:
            sys.stderr.write(oout[-4000:])
            raise BenchError("check_oracle.py exited %d" % code)
        expected, failed = parse_gate(vout, oout, wl["queries"])
        result = {"expected_rows": expected, "failed": failed,
                  "verify_s": t1 - t0, "oracle_s": time.time() - t1}
        for q, why in sorted(failed.items()):
            log("oracle gate: %s fails: %s" % (q, why))
        log("oracle gate %s: %d ok, %d fail (%.0fs)"
            % (name, len(expected), len(failed), time.time() - t0))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(cache, "w") as f:
        json.dump(result, f)
    return result


def launch(cp, tmp, args, out):
    t0_us = time.time_ns() // 1000
    code, text = run_cmd(
        java_cmd(cp, tmp, "perfbench.Harness",
                 args + ["--t0-us", str(t0_us), "--out", out,
                         "--cores", str(nproc()), "--local-dir", tmp]),
        JVM_TIMEOUT_S, cwd=tmp, log_path=os.path.join(tmp, "jvm.log"))
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(text[-4000:])
        raise BenchError("harness JVM exited %d" % code)
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    with open(out) as f:
        return json.load(f)


def source_stamp():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "tree:" + sha256_of(files_under(ENGINE))


def measure(name, wl, args, cp, gate_result):
    sf = dataset(wl["scale"])
    tag = "%s-s%d-t%d-%d" % (name, args.seed, args.trace, os.getpid())
    tmp = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    expect = os.path.join(BUILD, "runs", tag + ".expect")
    with open(expect, "w") as f:
        for q, n in sorted(gate_result["expected_rows"].items()):
            f.write("%s %d\n" % (q, n))
    common = ["--sf", sf, "--queries", ",".join(wl["queries"])]
    load0, started_us, ticks0 = loadavg(), time.time_ns() // 1000, cpu_ticks()
    try:
        record = launch(cp, tmp, ["--expect", expect,
                                  "--seed", str(args.seed),
                                  "--seconds", str(args.seconds),
                                  "--trace", str(args.trace),
                                  "--settle-passes", str(wl["settle_passes"]),
                                  "--min-passes", str(wl["min_passes"])] + common,
                        os.path.join(tmp, "run.json"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(FileNotFoundError):
            os.remove(expect)
    steal = [b - a for a, b in zip(ticks0, cpu_ticks())]
    record["stamps"].update({
        "source": source_stamp(), "workload": name, "scale": wl["scale"],
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": nproc(), "loadavg_start": load0, "loadavg_end": loadavg(),
        # CPU time the hypervisor gave to other guests while this run ran
        "steal_frac": steal[0] / steal[1] if steal[1] else 0.0,
        "data_generate_s": data_generate_s(wl["scale"]),
        "gate_verify_s": gate_result["verify_s"],
        "gate_oracle_s": gate_result["oracle_s"],
        "started_us": started_us})
    return record


def summarise(name, record, args, gate_result, spec):
    execs = record["executions"]
    attempted = len(execs)
    failed = sum(1 for e in execs if not e["ok"])
    problems = ["%s failed the oracle gate: %s" % kv
                for kv in sorted(gate_result["failed"].items())]
    if args.trace:
        metrics, per_query, trace_problems = stats.per_layer(record)
        problems += trace_problems
        record["per_query_layers"] = per_query
        wanted = [m["name"] for m in spec["per_layer"]]
    else:
        metrics = stats.end_to_end(record)
        wanted = [m["name"] for m in spec["end_to_end"]]
    missing = [m for m in wanted if metrics.get(m, (None,))[0] is None]
    if missing:
        problems.append("metrics not measured: " + ", ".join(missing))
    correct = failed == 0 and not problems
    record["metrics"] = {k: {"value": v, "unit": u, "n": n}
                         for k, (v, u, n) in metrics.items()}
    record["failed_frac"] = failed / attempted
    record["problems"] = problems
    record["correct"] = correct
    record["claim"] = None
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    path = os.path.join(BUILD, "records", "%s-s%d-t%d-%d.json" % (
        name, args.seed, args.trace, int(time.time() * 1000)))
    with open(path, "w") as f:
        json.dump(record, f)
    for p in problems:
        log("problem: " + p)
    print("# %s seed=%d trace=%d steal=%.3f record=%s" % (
        name, args.seed, args.trace, record["stamps"]["steal_frac"],
        os.path.relpath(path, ROOT)))
    print("# failed_frac %.4f (%d of %d executions)" % (
        record["failed_frac"], failed, attempted))
    for k, (v, u, n) in metrics.items():
        print("# %-28s %14s %-8s n=%d" % (k, "%.6g" % v if v is not None else "-", u, n))
    line = {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]}
                        for k in wanted if metrics[k][0] is not None}}
    print(json.dumps(line), flush=True)
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop_children)
    for need in (SPEC, WORKLOADS, ENGINE, CHECK_ORACLE, MAKE_SCALED, TESTDATA_DOC):
        if not os.path.exists(need):
            log("missing %s: run from the root of a full source checkout"
                % os.path.relpath(need, ROOT))
            return 2
    with open(SPEC) as f:
        spec = json.load(f)
    with open(WORKLOADS) as f:
        workloads = json.load(f)
    if args.workload not in workloads:
        log("unknown workload %s (have %s)" % (args.workload, ", ".join(workloads)))
        return 2
    os.makedirs(BUILD, exist_ok=True)
    try:
        # build, data and every workload's gate are made once, under a lock,
        # by whichever run comes first
        with open(os.path.join(BUILD, ".lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            stamp, cp = build()
            gates = {n: gate(n, w, cp, stamp) for n, w in workloads.items()}
        wl = workloads[args.workload]
        record = measure(args.workload, wl, args, cp, gates[args.workload])
        return summarise(args.workload, record, args, gates[args.workload], spec)
    except BenchError as e:
        log("error: %s" % e)
        return 1


if __name__ == "__main__":
    sys.exit(main())
