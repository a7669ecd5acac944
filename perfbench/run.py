#!/usr/bin/env python3
"""Layered benchmark of the engine: one closed-loop client, one process per run.

    python3 perfbench/run.py --workload elt_pipeline --seed 1 --seconds 16 --trace 0

Builds the engine and the harness from the checkout (sbt, offline), sizes the
JVM to the host (cores from nproc; heap half of MemTotal, clamped to 2-8 GB),
runs `perfbench.Main` over the reference tables in perfbench/data/ with a
per-run scratch directory as `java.io.tmpdir` and `SPARK_LOCAL_DIRS`, and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. The exit code is non-zero when any op fails, times out or
returns a wrong result. The run's full record (seed, per-op checksums,
failures) and, when traced, its spans are kept under perfbench/out/.

Other modes:
  --pin          record this run's checksums as the pinned ones for --scale
  --oracle-check run graft.Verify on the workload's queries over the
                 reference tables, then scripts/check.py (the DuckDB oracle
                 compare), and report the members' verdicts
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = os.path.join(HERE, "workloads.json")
# Limit of the measured process alone; the build has its own.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the repository root."""
    for r in ["build.sbt", "project", "src/main", "perfbench/build.sbt",
              "perfbench/project", "perfbench/src"]:
        p = os.path.join(ROOT, r)
        if os.path.isfile(p):
            yield r
        for d, dirs, files in os.walk(p):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            for f in files:
                yield os.path.relpath(os.path.join(d, f), ROOT)


def fingerprint():
    h = hashlib.sha256()
    for rel in sorted(set(source_files())):
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    return env


def build():
    """Compile engine + harness with sbt when sources changed; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources (build.sbt, src/main/scala) not found next to perfbench/")
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(l for l in lines if not l.startswith("/"))[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(fp)
    return cp


def host():
    cores = len(os.sched_getaffinity(0))
    gb = 2
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        gb = min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        pass
    return cores, gb


def java_cmd(cp, work, main, args):
    cores, heap_gb = host()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [
        "java", *opens, f"-Xmx{heap_gb}g", f"-XX:ActiveProcessorCount={cores}",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, main, *args,
    ], dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_CPUS=str(cores))


def run_java(cmd, env, log, limit):
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, cwd=ROOT)
        try:
            return p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def tail(path, n=30):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def inputs(sf):
    """The reference tables at scale `sf`, as shipped in perfbench/data/."""
    data = os.path.join(DATA, scale_key(sf))
    if not os.path.isdir(data):
        fail(f"no reference tables for {scale_key(sf)} in {os.path.relpath(DATA, ROOT)}/")
    return data


def scale_key(sf):
    return f"sf{sf:g}"


def load_expected(sf):
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as fh:
        return json.load(fh).get(scale_key(sf), {})


def pin(sf, checksums):
    data = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as fh:
            data = json.load(fh)
    table = data.setdefault(scale_key(sf), {})
    table.update({k: v for k, v in checksums.items() if not k.startswith("replay_day")})
    data[scale_key(sf)] = dict(sorted(table.items()))
    with open(EXPECTED, "w") as fh:
        json.dump(dict(sorted(data.items())), fh, indent=1)
        fh.write("\n")


def oracle_check(cp, workload, members, sf, work):
    """graft.Verify then scripts/check.py, both unmodified, on the members."""
    data, out = inputs(sf), os.path.join(work, "verify")
    cmd, env = java_cmd(cp, work, "graft.Verify", [data, out, *members])
    if run_java(cmd, env, os.path.join(work, "verify.log"), 1800) is None:
        fail("graft.Verify timed out")
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"), data, out],
                       capture_output=True, text=True)
    verdicts = {}
    for line in p.stdout.splitlines():
        if line.startswith("[") and "] " in line:
            status, rest = line[1:].split("] ", 1)
            verdicts[rest.split(":", 1)[0]] = (status, rest[:300])
    bad = 0
    for m in members:
        status, text = verdicts.get(m, ("FAIL", f"{m}: not reported"))
        bad += status != "PASS"
        print(f"[{status}] {text}")
    print(f"oracle check {workload} at {scale_key(sf)}: {len(members) - bad}/{len(members)} pass")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, help="input scale factor (default: the workload's)")
    ap.add_argument("--warmup-passes", type=int, default=2)
    ap.add_argument("--min-passes", type=int, default=3)
    ap.add_argument("--max-passes", type=int, default=1000)
    ap.add_argument("--expected", help="pinned checksums (flat JSON) instead of expected.json")
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--oracle-check", action="store_true")
    a = ap.parse_args()
    with open(WORKLOADS) as fh:
        workloads = json.load(fh)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r} (known: {', '.join(workloads)})")
    spec = workloads[a.workload]
    sf = a.scale if a.scale is not None else spec["scale"]

    cp = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.oracle_check:
            return oracle_check(cp, a.workload, spec["queries"], sf, work)
        args = ["--workload", a.workload, "--queries", ",".join(spec["queries"]),
                "--replay-days", str(spec["replay_days"]), "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", inputs(sf),
                "--work", work, "--out", os.path.join(work, "result.json"),
                "--warmup-passes", str(a.warmup_passes), "--min-passes", str(a.min_passes),
                "--max-passes", str(a.max_passes)]
        if not a.pin:
            expected = a.expected or os.path.join(work, "expected.json")
            if not a.expected:
                with open(expected, "w") as fh:
                    json.dump(load_expected(sf), fh)
            args += ["--expected", expected]
        cmd, env = java_cmd(cp, work, "perfbench.Main", args)
        log = os.path.join(work, "jvm.log")
        code = run_java(cmd, env, log, RUN_LIMIT_S)
        os.makedirs(OUT, exist_ok=True)
        stem = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        shutil.copy(log, stem + ".log")
        result_file = os.path.join(work, "result.json")
        if code is None or not os.path.exists(result_file):
            sys.stderr.write(tail(log))
            fail("run did not finish" if code is None else f"run failed (exit {code})", 3)
        with open(result_file) as fh:
            result = json.load(fh)
        detail = result.pop("detail")
        if a.trace:  # what the process left behind in its temp and warehouse dirs
            left = sum(os.path.getsize(os.path.join(d, f))
                       for sub in ("tmp", "warehouse")
                       for d, _, files in os.walk(os.path.join(work, sub)) for f in files)
            result["metrics"]["sink.leftover_mb"] = {"value": left / 1e6, "unit": "MB"}
        with open(stem + ".json", "w") as fh:
            json.dump(dict(detail, result=result, scale=scale_key(sf)), fh, indent=1)
        if a.trace:
            shutil.copy(os.path.join(work, "trace.jsonl"), stem + ".spans.jsonl")
        if a.pin:
            pin(sf, detail["checksums"])
        for f in detail["failures"]:
            print(f"perfbench: FAILED {f}", file=sys.stderr)
        print(f"perfbench: workload={a.workload} seed={a.seed} scale={scale_key(sf)} "
              f"cores={detail['cores']} passes={detail['passes']} "
              f"ops_per_pass={detail['ops_per_pass']} op_samples={detail['op_samples']} "
              f"beyond_p90={detail['op_samples_beyond_p90']} failed_frac={detail['failed_frac']:.4f}")
        for k, m in result["metrics"].items():
            print(f"perfbench: {k} = {m['value']} {m['unit']}")
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
