#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload lms_nightly --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the product sources
together with the benchmark (sbt, in perfbench/); later runs reuse the
build while no source changed. Human-readable lines come first; the last
line of standard output is the JSON result:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics, with --trace 1 the per-layer metrics.
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
from pathlib import Path

WORKLOADS = ("lms_nightly", "stream_ingest")
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PRODUCT = ROOT / "src" / "main" / "scala"
WORK = BENCH / "work"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "perfbench.stamp"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = sorted(PRODUCT.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, cwd, log, timeout, env=None):
    """Run cmd in its own process group; kill the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
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
        return "".join(Path(path).read_text(errors="replace").splitlines(True)[-n:])
    except OSError:
        return ""


def build(digest):
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return
    log = WORK / "build.log"
    rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], BENCH, log,
                   BUILD_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(tail(log))
        fail("build failed" if rc is not None else "build timed out")
    STAMP.write_text(digest)


def git_rev():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def cpu_times():
    """The aggregate `cpu` line of /proc/stat as integers, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (PRODUCT / "graft").is_dir():
        fail(f"product sources not found under {PRODUCT}")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (Path(spark_home) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark distribution with a jars/ directory")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    WORK.mkdir(parents=True, exist_ok=True)
    digest = source_digest()
    build(digest)

    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    result = run_dir / "result.json"
    cp = os.pathsep.join([str(CLASSES), str(Path(spark_home) / "jars" / "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap, so that collections do not follow the moments
    # the heap grows
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", *opens, "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dderby.system.home={run_dir / 'derby'}",
           f"-Dderby.stream.error.file={run_dir / 'derby.log'}",
           # Derby 10.16 shares one compiled MERGE plan across connections
           # and loses or duplicates rows when they run it concurrently;
           # without a statement cache each connection compiles its own
           "-Dderby.language.statementCacheSize=0",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--work", str(run_dir), "--result", str(result),
           "--launch-ms", str(int(time.time() * 1000))]
    log = WORK / "run.log"
    cpu0 = cpu_times()
    rc = run_group(cmd, ROOT, log, RUN_TIMEOUT_S)
    cpu1 = cpu_times()
    if rc != 0 or not result.is_file():
        sys.stderr.write(tail(log))
        fail(f"benchmark process {'timed out' if rc is None else f'exited with {rc}'}")
    out = json.loads(result.read_text())
    spans = out["info"].pop("spans_file", None)
    if spans:
        shutil.copy(spans, WORK / "spans.json")
    shutil.rmtree(run_dir, ignore_errors=True)

    info = dict(out["info"])
    info["git_rev"] = git_rev()
    info["source_sha256"] = digest[:16]
    info["workload"] = args.workload
    info["trace"] = int(args.trace)
    if cpu0 and cpu1 and len(cpu0) > 7:
        # share of the box's cpu time the hypervisor gave to other guests
        # while the run lasted: drift of the box, next to env.control_s
        delta = [b - a for a, b in zip(cpu0, cpu1)]
        info["env.steal_pct"] = round(100.0 * delta[7] / max(sum(delta[:8]), 1), 2)
    for k, v in out["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(f"error_rate = {info.get('error_rate', 1.0):.6g} ratio "
          f"({out['failed']} failed of {out['attempted']} attempted)")
    if "peak_rss_mb" in info:
        print(f"peak_rss_mb = {info['peak_rss_mb']:.6g} MB (VmHWM: mostly how much of the fixed heap was touched)")
    if "recall" in info:
        print(f"recall = {info['recall']:.6g} ratio")
    if "batch_p50_s" in info:
        print(f"batch_p50_s = {info['batch_p50_s']:.6g} s (processing time per micro-batch, "
              f"{info['batch_samples']} batches)")
        print(f"batch_tail_s = {info['batch_tail_s']:.6g} s "
              f"(p{info['batch_tail_percentile']:g}, the highest percentile with 10 batches beyond it; "
              f"p50 when under 20 batches)")
    print("provenance " + json.dumps(info, sort_keys=True))
    print(json.dumps({k: out[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
