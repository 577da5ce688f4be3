#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 layerbench/run.py --workload lifecycle --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds: it compiles the
repository's `src/main/scala` together with `layerbench/src` into one jar
in `.bench_build/`, writes the input tables there with `gen_data.py`, and
records a class-data-sharing archive from one smoke run. Later runs reuse
all three while the sources are unchanged.

`--smoke` runs every op of the workload once on the sf0.001 tables, with
no warm-up; `test_bench.py` uses it.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SPARK_HOME = os.environ.get("SPARK_HOME") or (
    shutil.which("spark-submit") and str(Path(shutil.which("spark-submit")).resolve().parent.parent))
SPARK_JARS = Path(SPARK_HOME or ".") / "jars"
SCALE = {False: "sf0.1", True: "sf0.001"}
TIME_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[layerbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    if not SPARK_JARS.is_dir():
        fail("no Spark jars found; set SPARK_HOME or put spark-submit on PATH")
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        fail(f"no program sources at {program}; run from the root of a checkout")
    return sorted(program.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark into one jar, unless the
    sources are unchanged, and records a class-data-sharing archive from a
    smoke run, so each run's JVM starts without re-parsing Spark's classes."""
    srcs = sources()
    jar, archive, marker = BUILD / "layerbench.jar", BUILD / "layerbench.jsa", BUILD / "build.stamp"
    want = stamp(srcs)
    if marker.exists() and marker.read_text() == want:
        return jar, archive
    classes = BUILD / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cp = f"{SPARK_JARS}/*"
    done = subprocess.run(
        ["java", "-Xss16m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
         "-classpath", cp, "-nowarn", "-d", str(classes), f"@{argfile}"],
        stdout=sys.stderr)
    if done.returncode != 0:
        fail("build failed")
    with zipfile.ZipFile(jar, "w") as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    archive.unlink(missing_ok=True)
    scratch = BUILD / "training_digests.tsv"
    scratch.unlink(missing_ok=True)
    run_java(jar, [f"-XX:ArchiveClassesAtExit={archive}"], "lifecycle", 0, 0, "0",
             smoke=True, record=scratch)
    if not archive.exists():
        fail("no class-data-sharing archive was written")
    marker.write_text(want)
    return jar, archive


def tables(smoke):
    """Writes the input tables for the run's scale unless they exist."""
    scale = SCALE[smoke]
    out, marker = BUILD / "data" / scale, BUILD / "data" / f"{scale}.stamp"
    want = stamp([HERE / "gen_data.py"])
    if not (marker.exists() and marker.read_text() == want):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, str(HERE / "gen_data.py"), scale[2:], str(out)],
                       check=True, stdout=sys.stderr)
        marker.write_text(want)
    return out


def check_names(result, trace):
    """Every printed metric is declared in BENCHMARK.json with its unit, and
    every metric declared for this kind of run is printed."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    if printed != declared:
        fail(f"metrics differ from BENCHMARK.json: printed {sorted(printed.items())}, "
             f"declared {sorted(declared.items())}")


def run_java(jar, jvm_flags, workload, seed, seconds, trace, smoke, record=None):
    """Runs one workload in its own JVM; returns its stdout lines."""
    data = tables(smoke)
    run_dir = ROOT / ".bench_run" / f"{workload}-{os.getpid()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    census = ROOT / ".bench_out" / f"census_{workload}_seed{seed}_trace{trace}.jsonl"
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-Xlog:disable", *jvm_flags,
           *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={run_dir / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           "-cp", f"{jar}:{SPARK_JARS}/*", "layerbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", trace, "--data", str(data), "--expected", str(HERE / "expected_digests.tsv"),
           "--census", str(census), "--smoke", "1" if smoke else "0"]
    if record:
        cmd += ["--record", str(Path(record).resolve())]
    log = run_dir / "stderr.log"
    try:
        with open(log, "w") as err:
            proc = subprocess.run(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err,
                                  text=True, timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {TIME_LIMIT_S} s")
    finally:
        errors = log.read_text() if log.exists() else ""
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print("\n".join(errors.splitlines()[-40:]), file=sys.stderr)
        print(proc.stdout, end="", file=sys.stderr)
        fail(f"{workload} exited with {proc.returncode}")
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", help="write result digests to this file instead of checking")
    a = ap.parse_args()

    jar, archive = build()
    lines = run_java(jar, [f"-XX:SharedArchiveFile={archive}"], a.workload, a.seed,
                     a.seconds, a.trace, a.smoke, a.record)
    if not a.record:
        check_names(json.loads(lines[-1]), a.trace == "1")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
