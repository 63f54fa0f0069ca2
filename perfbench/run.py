#!/usr/bin/env python3
"""Run one workload of the layered benchmark and print its result.

    python3 perfbench/run.py --workload pipeline|ingest \
        --seed N --seconds S --trace 0|1

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). The full report of the run, and with --trace 1 its span file, go
to .bench_build/results/<build>/, one directory per build of the sources.
Everything the run writes (generated inputs, layout
and index directories, Spark local, checkpoint and warehouse directories)
lives under one temporary directory in .bench_build/tmp/, deleted at exit.

Maintenance modes:
    --record-fingerprints   rewrite perfbench/fingerprints.json from this run
    --dump-data DIR --sf X  write the generated tables at scale X to DIR
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

RESULT_TAG = "GRAFTBENCH_RESULT "
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def run_jvm(classes, args, root):
    """Run the harness JVM in `root`; return (exit code, result line)."""
    env = dict(os.environ,
               SPARK_GRAFT_LAYOUT_DIR=str(root / "layouts"),
               SPARK_LOCAL_DIRS=str(root / "spark-local"))
    (root / "tmp").mkdir()
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={root / 'tmp'}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", f"{classes}:{build.SPARK_JARS}/*", "graftbench.Main", *args]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    out = ""
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"[perfbench] run exceeded {JVM_TIMEOUT_S}s, killed\n")
        code = 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    result = None
    for line in out.splitlines():
        if line.startswith(RESULT_TAG):
            result = line[len(RESULT_TAG):].strip()
        else:
            sys.stderr.write(line + "\n")
    return code, result


def add_trace_overhead(results, workload, seed):
    """Traced wall_s minus the untraced wall_s of the same build and seed,
    written into the traced report; absent when that untraced run has not
    been made."""
    traced_path = results / f"{workload}-seed{seed}-trace1.json"
    traced = json.loads(traced_path.read_text())
    base = results / f"{workload}-seed{seed}-trace0.json"
    if base.exists():
        untraced = json.loads(base.read_text())["end_to_end"]["wall_s"]
        traced["trace_overhead_s"] = traced["end_to_end"]["wall_s"] - untraced
        traced["trace_overhead_base"] = base.name
    else:
        traced["absent"]["trace_overhead_s"] = (
            f"no untraced run of this build with seed {seed}; run --trace 0 --seed {seed} first")
    traced_path.write_text(json.dumps(traced) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["pipeline", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-fingerprints", action="store_true")
    ap.add_argument("--dump-data")
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    if not a.workload and not a.dump_data:
        ap.error("--workload is required")

    classes = build.build()
    results = ROOT / ".bench_build" / "results" / classes.name
    results.mkdir(parents=True, exist_ok=True)
    tmp_base = ROOT / ".bench_build" / "tmp"
    tmp_base.mkdir(parents=True, exist_ok=True)
    root = pathlib.Path(tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=tmp_base))
    if a.dump_data:
        args = ["--root", str(root), "--dump-data", os.path.abspath(a.dump_data), "--sf", str(a.sf)]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--root", str(root), "--out", str(results),
                "--fingerprints", str(HERE / "fingerprints.json")]
        if a.record_fingerprints:
            args.append("--record")
    try:
        code, result = run_jvm(classes, args, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if a.dump_data:
        return code
    if code != 0 or result is None:
        sys.stderr.write(f"[perfbench] harness failed (exit {code})\n")
        return 1
    if a.trace:
        add_trace_overhead(results, a.workload, a.seed)
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
