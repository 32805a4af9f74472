#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and the benchmark program from the checkout's sources
(once; later runs reuse the build while the sources are unchanged),
writes the workload's inputs from the seed, runs the program in a fresh
JVM, checks its answers and prints one JSON object as the last line of
standard output. Workloads: ingest_maintain, batch_gates.
Everything is written under `.bench_build/` at the checkout root.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import benchlib  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["ingest_maintain", "batch_gates"]
RUN_LIMIT_S = 170
JDK17_OPENS = [
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


def source_files():
    files = sorted((ROOT / "src" / "main").rglob("*"))
    files += sorted((HERE / "src").rglob("*"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    return [f for f in files if f.is_file()]


def build():
    """Compiles library + benchmark with sbt; returns the classpath and the
    stamp of the sources it was built from."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: no library sources (build.sbt, src/main/scala) "
                         f"at {ROOT}; run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath"
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    # compile against the Spark jars the library's own build names
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                     (ROOT / "build.sbt").read_text())
    if not jars:
        raise SystemExit("perfbench: the library's build.sbt names no unmanagedBase")
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Dperfbench.sparkJars={jars.group(1)}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building library and benchmark (first run only)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime / fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    (BUILD / "build.log").write_text(p.stdout + p.stderr)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and ":" in ln
             and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: build failed, see {BUILD / 'build.log'}")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1], stamp


def heap_size():
    """Driver heap: half the host memory in GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(cp, args, work, deadline):
    cmd = ["java", f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={work}/tmp"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:  # timed out or interrupted
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def duck():
    import duckdb
    return duckdb.connect(config={"autoinstall_known_extensions": False,
                                  "autoload_known_extensions": False})


def prepare_star(cp, stamp):
    """Generates the batch workload's fixed star schema and computes each
    gate's oracle answer over it with DuckDB, once per build."""
    star = BUILD / "star"
    stamp += hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()
    if (star / "stamp").is_file() and (star / "stamp").read_text() == stamp:
        return star
    shutil.rmtree(star, ignore_errors=True)
    log("generating the batch workload's input and oracle answers")
    gen.generate_star(str(star / "data"))
    (star / "oracle").mkdir()
    sql_file = star / "oracle_sql.json"
    p = subprocess.run(["java", "-cp", cp, "perfbench.Oracles", str(sql_file)] + gen.GATES,
                       capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise SystemExit(f"perfbench: could not read the gate oracles: {p.stderr[-2000:]}")
    con = duck()
    for t in gen.GATE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star}/data/{t}.parquet')")
    for name, sql in json.loads(sql_file.read_text()).items():
        con.execute(sql).df().to_pickle(star / "oracle" / f"{name}.pkl")
    (star / "stamp").write_text(stamp)
    return star


def check_gates(raw, star):
    """Each gate output against its oracle answer, and the set-up rewrite
    against the generated rows. Returns the names of failed checks and
    the number of checks made."""
    import pandas as pd
    con = duck()
    failed, n = [], 0
    for t in gen.GATE_TABLES:
        # the multi-file rewrite must hold exactly the generated rows
        n += 1
        a = f"read_parquet('{star}/data/{t}.parquet')"
        b = f"read_parquet('{raw['input_dir']}/{t}.parquet/*.parquet')"
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}))"
            f" + (SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))"
        ).fetchone()[0]
        if diff:
            failed.append(f"rewrite:{t}")
    for name, out_dir in sorted(raw["gate_outputs"].items()):
        n += 1
        try:
            issues = benchlib.compare_frames(pd.read_parquet(out_dir),
                                             pd.read_pickle(star / "oracle" / f"{name}.pkl"))
        except Exception as e:  # a missing output fails the gate
            issues = [f"{type(e).__name__}: {e}"]
        if issues:
            log(f"gate {name} mismatch: {issues[:3]}")
            failed.append(f"gate:{name}")
    return failed, n


def main():
    # a terminated run still stops its JVM (see run_jvm) and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    cp, stamp = build()
    star = prepare_star(cp, stamp)
    deadline = time.time() + RUN_LIMIT_S
    run_dir = BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = run_dir / "data", run_dir / "work"
    work.mkdir(parents=True)
    try:
        plan = gen.generate(a.workload, a.seed, str(data))
        if a.workload == "batch_gates":
            plan["star"] = str(star / "data")
            (data / "plan.json").write_text(json.dumps(plan))
        out = run_dir / "raw.json"
        rc = run_jvm(cp, [
            "--workload", a.workload, "--data", str(data), "--work", str(work),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(min(4, os.cpu_count() or 4)),
            "--out", str(out)], work, deadline)
        if rc != 0 or not out.is_file():
            shutil.copy(work / "jvm.log", BUILD / "last_failure.log")
            raise SystemExit(f"perfbench: program {'timed out' if rc is None else f'exited {rc}'}"
                             f", see {BUILD / 'last_failure.log'}")
        raw = json.loads(out.read_text())
        failed_checks = benchlib.check_answers(raw.get("checks", []))
        n_checks = len(raw.get("checks", []))
        if a.workload == "batch_gates":
            f2, n2 = check_gates(raw, star)
            failed_checks += f2
            n_checks += n2
        for name in failed_checks:
            log(f"check failed: {name}")
        op_errors = [o for o in raw["ops"] if o["error"]]
        for o in op_errors[:5]:
            log(f"op {o['kind']} failed: {o['error']}")
        attempted = len(raw["ops"]) + n_checks
        failed = len(op_errors) + len(failed_checks)
        if raw.get("unattributed"):
            log(f"jobs outside any span: {sorted(set(raw['unattributed']))}")
        if a.trace:
            metrics = benchlib.per_layer(raw, sorted(gen.GATES), failed, attempted)
        else:
            metrics = benchlib.end_to_end(raw, plan["ops_per_block"])
        # hypervisor steal explains a run that landed in a noisy window
        steal = [o["steal"] for o in raw["ops"]]
        log(f"{len(raw['ops'])} ops in {raw['timed_s']:.1f} s "
            f"(cpu steal {100 * sum(steal) / len(steal):.0f}%), session {raw['session_s']} s, "
            f"setup {raw['setup_s']}, "
            f"total {time.time() - t_start:.1f} s")
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        print(json.dumps(result))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
