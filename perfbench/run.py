#!/usr/bin/env python3
"""Benchmark of the graft engine: three seeded workloads, traced by layer.

Run from the repository root:

    python3 perfbench/run.py --cores 4 --heap 4g --sf 0.1 \
        --workload corpus_mining --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/src/main/scala/perfbench/Workload.scala):
  corpus_mining  closed loop over iterative trainers (construction-bound)
  stream_ingest  open-loop document stream through StreamingIngestPipeline
  news_extract   closed loop over a cross-section of the news-extraction
                 queries (not in BENCHMARK.json: see CHANGES.md)

The first run in a checkout builds the harness with sbt (the graft project
is a source dependency); later runs reuse the build until a source file
changes. Engine settings come from the command line, never from the
environment: local[--cores] through SPARK_GRAFT_CPUS, -Xmx--heap, and the
--sf tables at the location TESTDATA.md gives (SPARK_GRAFT_SF_DIR overrides).

Prints human-readable `metric`/`layer` lines, then, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). A traced run also
writes its spans under the build directory and reports the tracing overhead
against the untraced run of the same workload and seed, when there was one.

--record rewrites perfbench/fingerprints.txt from the run's outputs; use it
only after checking the outputs against the DuckDB oracle.
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

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("news_extract", "corpus_mining", "stream_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
FINGERPRINTS = BENCH / "fingerprints.txt"
# Spark on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def data_dir(sf):
    """The tables for scale factor `sf`: SPARK_GRAFT_SF_DIR, as for
    graft.Bench, or else the directory TESTDATA.md lists for `sf`."""
    if "SPARK_GRAFT_SF_DIR" in os.environ:
        return os.environ["SPARK_GRAFT_SF_DIR"]
    doc = ROOT / "TESTDATA.md"
    rows = doc.read_text().splitlines() if doc.is_file() else []
    for row in rows:
        m = re.match(r"\|\s*([0-9.]+)\s*\|\s*`([^`]+)`", row)
        if m and m.group(1) == sf:
            return m.group(2).rstrip("/")
    fail(f"no sf {sf} directory in {doc}; set SPARK_GRAFT_SF_DIR")


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    d = (ROOT / d if not d.is_absolute() else d) / "perfbench"
    d.mkdir(parents=True, exist_ok=True)
    return d


def sources():
    """Every file the harness build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    return files


def classpath(out):
    """Builds the harness unless the stamped build is current; returns
    the runtime classpath."""
    stamp = hashlib.sha256()
    for f in sources():
        stamp.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = stamp.hexdigest()
    cp_file, stamp_file = out / "classpath.txt", out / "stamp.txt"
    if stamp_file.exists() and stamp_file.read_text() == stamp and cp_file.exists():
        return cp_file.read_text().strip()
    log = out / "build.log"
    print("perfbench: building the harness (sbt) ...", file=sys.stderr)
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=fh, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def run_java(cp, args, data, out):
    cmd = ["java", f"-Xmx{args.heap}", "-XX:+UseG1GC",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={out / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(args.cores), "--sf", args.sf,
           "--data", data, "--out", str(out), "--expected", str(FINGERPRINTS)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(args.cores))
    # scratch a killed run may have left behind
    for d in [out / "tmp", out / "spark-local", out / "warehouse", *out.glob("stream-*")]:
        shutil.rmtree(d, ignore_errors=True)
    (out / "tmp").mkdir()
    log = out / f"{args.workload}.stderr.log"
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{args.workload} did not finish in {RUN_TIMEOUT_S} s (log: {log})")
    if p.returncode != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"{args.workload} exited with {p.returncode} (log: {log})")
    return stdout.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--cores", default=4, type=int, help="Spark local[] cores")
    ap.add_argument("--heap", default="4g", help="JVM -Xmx")
    ap.add_argument("--sf", default="0.1", help="scale factor of the tables")
    ap.add_argument("--record", action="store_true",
                    help="store this run's output fingerprints as the expected ones")
    args = ap.parse_args()
    if args.seconds < 1 or args.cores < 1:
        fail("--seconds and --cores must be at least 1")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no graft sources next to the benchmark (looked in {ROOT})")
    data = data_dir(args.sf)
    if not Path(data, "documents.parquet").is_file():
        fail(f"no sf {args.sf} tables in {data} (set SPARK_GRAFT_SF_DIR)")

    out = build_dir()
    cp = classpath(out)
    t0 = time.time()
    lines = run_java(cp, args, data, out)
    results = [l for l in lines if l.startswith("result ")]
    if not results:
        fail("the harness printed no result")
    for l in lines:
        if not l.startswith("result "):
            print(l)
    result = json.loads(results[-1][len("result "):])

    if args.record:
        fps = {}
        if FINGERPRINTS.exists():
            for l in FINGERPRINTS.read_text().splitlines():
                if l.strip() and not l.startswith("#"):
                    k, v = l.split(None, 1)
                    fps[k] = v
        for l in lines:
            if l.startswith("fingerprint "):
                _, k, v = l.split(None, 2)
                fps[k] = v
        FINGERPRINTS.write_text(
            "# <output> <rows> <sum of murmur3 row hashes> <sum of high xxhash64 halves>\n"
            + "".join(f"{k} {fps[k]}\n" for k in sorted(fps)))
        print(f"recorded {len(fps)} fingerprints in {FINGERPRINTS.relative_to(ROOT)}")

    # tracing overhead: traced minus untraced wall_s, same workload and seed
    walls = out / "untraced_wall_s.json"
    known = json.loads(walls.read_text()) if walls.exists() else {}
    key = f"{args.workload}:{args.seed}:{args.seconds}"
    wall = next((float(l.split()[2]) for l in lines if l.startswith("metric wall_s ")), None)
    if args.trace == 0 and wall is not None:
        known[key] = wall
        walls.write_text(json.dumps(known))
    elif wall is not None and key in known:
        print(f"trace_overhead_s {wall - known[key]:.4f} "
              f"(traced wall_s {wall:.4f} - untraced {known[key]:.4f})")
    elif wall is not None:
        print("trace_overhead_s unknown: no untraced run of this workload and seed yet")
    print(f"harness_s {time.time() - t0:.1f}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
