#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload wide_read --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
runner from source with sbt (outputs under .bench_build/); later runs
reuse the build while the sources are unchanged. The runner JVM runs
Spark at local[<cores>]; its record is checked against DuckDB and turned
into metrics. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones.
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
sys.path.insert(0, HERE)

from benchlib import report, stats, verify  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
# the pipeline's tables: a copy of the repository's sf0.001 test data
DATA = os.path.join(HERE, "data", "sf0.001")
WORKLOADS = ("wide_read", "pipeline")
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            if os.path.basename(d) == "target":
                continue
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, log_path, timeout, env=None):
    """Run `cmd` with output to `log_path`; kill its process group on
    timeout and always wait for it to end."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def ensure_built():
    """Classpath of the runner, building it when the sources changed."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("fingerprint") == fp:
            return s["classpath"]
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], HERE, log, BUILD_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(tail(log))
        fail("build failed" if rc is not None else "build timed out", 3)
    with open(log) as f:
        lines = [ln.strip() for ln in f if "scala-2.13" in ln and os.pathsep in ln]
    if not lines:
        fail("build did not report a classpath", 3)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1], "build_s": time.time() - t0}, f)
    return lines[-1]


def heap_size():
    """A quarter of physical memory, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    gib = max(2, min(6, kb // (4 << 20)))
    return f"{gib}g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, a, work):
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    env.pop("GRAFT_WORK_DIR", None)
    cmd = ["java", "-cp", classpath]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    heap = heap_size()
    # a fixed heap size, so that the heap growing does not read as warm-up
    cmd += [f"-Xms{heap}", f"-Xmx{heap}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--data", DATA, "--cpus", str(cores()), "--out", out]
    log = os.path.join(work, "jvm.log")
    rc = run_bounded(cmd, work, log, JVM_TIMEOUT_S, env)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(tail(log))
        fail("runner failed" if rc is not None else "runner timed out", 4)
    with open(out) as f:
        return json.load(f)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not (stats.valid_name(m["name"]) and stats.valid_unit(m["unit"])):
            fail(f"invalid metric {m}")
    return spec


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def _terminate(signum, frame):
    # unwind through run_bounded, which kills and reaps the child
    raise SystemExit(128 + signum)


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    spec = load_spec()
    classpath = ensure_built()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record = run_jvm(classpath, a, work)
        con = verify.connect(os.path.join(work, "tmp"))
        if a.workload == "pipeline":
            verify.register_tables(con, record["describe"]["tables"])
        checker = verify.Checker(con, record["describe"])
        acct = report.check_ops(record, checker)
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        if a.trace:
            values = report.per_layer(record, [m["name"] for m in wanted], checker)
            notes = {}
        else:
            values, notes = report.end_to_end(record)
        con.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {a.workload} seed {a.seed}: {acct.attempted} operations, "
          f"{acct.failed} failed, failed_frac = {acct.frac:.6g}")
    for r in acct.reasons[:20]:
        print(f"  FAILED {r}")
    metrics = {}
    for m in wanted:
        v = values[m["name"]]
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        note = f"  ({notes[m['name']]})" if m["name"] in notes else ""
        print(f"{m['name']} = {fmt(v)} {m['unit']}{note}")
    if a.trace:
        print("self time per pass (span minus its children):")
        for layer in report.SPAN_LAYERS:
            print(f"  {layer:<12} {values[f'self.{layer}_ms']:10.2f} ms")
        print(f"tracing overhead: {values['trace.overhead_ms']:.2f} ms per pass "
              f"({values['trace.overhead_pct']:.2f}%), operation spans cover "
              f"{100 * values['trace.op_coverage']:.2f}% of the traced phase")
    print(json.dumps({"correct": acct.failed == 0, "attempted": acct.attempted,
                      "failed": acct.failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
