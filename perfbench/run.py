#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <ingest_live|registry>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the pipeline and
the benchmark program with sbt; later runs reuse the build while the
sources are unchanged. Every run is one JVM with `local[nproc]` and a
heap derived from /proc/meminfo. All files a run writes live under
`.bench_tmp/` in the checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 1` the run also writes its spans and a per-layer report next
to its scratch files, and prints where.
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

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics as M  # noqa: E402
import layers  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("ingest_live", "registry")
JVM_TIMEOUT_S = 170
GRAFT_ENV = "SPARK_GRAFT_"
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when it is not launched by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, for the rebuild fingerprint."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += [p for p in d.glob("*") if p.suffix in (".properties", ".sbt", ".scala")]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha1()
    for p in files:
        st = p.stat()
        h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles the pipeline and the benchmark; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("perfbench: no pipeline sources next to the benchmark "
                         "(run from the root of a full checkout)")
    stamp = BENCH / "target" / "perfbench-build.json"
    fp = fingerprint(sources())
    if stamp.is_file():
        s = json.loads(stamp.read_text())
        if s.get("fingerprint") == fp:
            return s["classpath"]
    log("building with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        stdout, _ = proc.communicate()
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    stamp.parent.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"fingerprint": fp, "classpath": cp}))
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def host():
    """nproc, heap, load and other live JVMs at the start of the run, and
    the SPARK_GRAFT_* variables set in the caller's environment, which the
    benchmark JVM does not inherit."""
    nproc = len(os.sched_getaffinity(0))
    gib = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                gib = min(8, max(2, int(line.split()[1]) // 2097152))
    me = os.getpid()
    jvms = 0
    for d in Path("/proc").iterdir():
        if d.name.isdigit() and int(d.name) != me:
            try:
                cmd = (d / "cmdline").read_bytes().split(b"\0")[0]
            except OSError:
                continue
            if cmd.endswith(b"java"):
                jvms += 1
    return {"nproc": nproc, "heap": f"{gib}g", "load_avg_1m": os.getloadavg()[0],
            "other_jvms": jvms,
            "dropped_env": sorted(k for k in os.environ if k.startswith(GRAFT_ENV))}


def run_jvm(cp, args, tmp, h):
    """Runs the benchmark JVM; returns its raw measurement object."""
    out = tmp / "raw.json"
    # -XX:-UsePerfData: no hsperfdata file in /tmp
    cmd = (["java", f"-Xmx{h['heap']}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={tmp / 'spark-local'}",
              f"-Dspark.sql.warehouse.dir={tmp / 'spark-warehouse'}",
              f"-Djava.io.tmpdir={tmp / 'jtmp'}", f"-Dderby.system.home={tmp}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(h["nproc"]), "--tmp", str(tmp), "--out", str(out),
              "--data", str(BENCH / "data" / "sf0.01"),
              "--registry", str(BENCH / "registry.tsv")])
    # GraftSession reads SPARK_GRAFT_MASTER, _SHUFFLE, _BYPASS, ... from the
    # environment; without them every run is local[nproc] with defaults
    env = {k: v for k, v in os.environ.items() if not k.startswith(GRAFT_ENV)}
    (tmp / "jtmp").mkdir(parents=True, exist_ok=True)
    with open(tmp / "jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdin=subprocess.DEVNULL, stdout=jlog,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    for line in (tmp / "jvm.log").read_text(errors="replace").splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if code != 0 or not out.is_file():
        sys.stderr.write("\n".join((tmp / "jvm.log").read_text(errors="replace")
                                   .splitlines()[-60:]) + "\n")
        raise SystemExit(f"perfbench: benchmark JVM failed ({code})")
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    h = host()
    tmp = ROOT / ".bench_tmp" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        raw = run_jvm(cp, args, tmp, h)
    finally:
        for d in ("work", "spark-local", "jtmp", "spark-warehouse", "metastore_db"):
            shutil.rmtree(tmp / d, ignore_errors=True)

    e2e, e2e_info = layers.end_to_end(args.workload, raw)
    failed, attempted, _ = M.failed_share(raw["checks"])
    history = ROOT / ".bench_tmp" / "untraced.jsonl"
    if args.trace:
        per_layer, report = layers.per_layer(args.workload, args.seconds, raw, e2e, e2e_info, history)
        (tmp / "spans.json").write_text(json.dumps(raw["spans"]))
        (tmp / "report.json").write_text(json.dumps({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "host": h,
            "checks": raw["checks"], "end_to_end": e2e, "info": e2e_info, "layers": report},
            indent=1))
        out_metrics = per_layer
        log(f"spans and per-layer report in {tmp}")
    else:
        with open(history, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                "seconds": args.seconds, "end_to_end": e2e}) + "\n")
        out_metrics = {k: e2e[k] for k in layers.END_TO_END}

    print(json.dumps({"host": h, "workload": args.workload, "seed": args.seed}))
    for c in raw["checks"]:
        verdict = "pass" if c["failed"] == 0 else "FAIL"
        print(f"check {c['name']}: {verdict} ({c['failed']} of {c['attempted']} failed) {c['detail']}")
    for name, (value, unit) in out_metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out_metrics.items()},
    }))


if __name__ == "__main__":
    main()
