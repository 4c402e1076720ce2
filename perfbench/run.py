"""Extraction benchmark launcher.

    python3 perfbench/run.py --workload crawl_mixed --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Builds the program and the benchmark from
source (perfbench/build.py), then runs one workload in one JVM on a local[4]
Spark session. Workloads: crawl_mixed, office_hot_host, warc_resume (see
BENCHMARK.json for why each exists).

Standard output gets exactly one line: a JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1). Logs go to stderr. The full report
(sample counts, pass statuses, host facts, workload mix, check details) goes
to stderr as one `[perfbench] report` JSON line and to
.bench_build/perfbench/reports/; a traced run also writes its spans there.
Everything the run writes stays under .bench_build/perfbench.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
# A fixed young generation makes every pass see several collections, so
# heap_peak_mb has a sample in each pass.
HEAP = "1g"
YOUNG = "160m"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def expected_metrics(trace):
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def source_id(digest):
    try:
        sha = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if sha.returncode == 0:
            return sha.stdout.strip()
    except OSError:
        pass
    return f"sources-sha256:{digest[:16]}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    try:
        classpath, digest = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2

    work = build.OUT / "work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    reports = build.OUT / "reports"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    reports.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Xmn{YOUNG}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--out", str(reports), "--source-id", source_id(digest)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=None, text=True,
                            cwd=str(work), start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S}s; killed")
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    result = report = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("PERFBENCH_REPORT "):
            report = line[len("PERFBENCH_REPORT "):]
        elif line.strip():
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        log(f"benchmark JVM exited with {proc.returncode} and no result")
        return 4
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    if report is not None:
        (reports / f"{name}.json").write_text(report + "\n")
        log(f"report {report}")

    missing = [m for m in expected_metrics(args.trace) if m not in result["metrics"]]
    extra = [m for m in result["metrics"] if m not in expected_metrics(args.trace)]
    if missing or extra:
        log(f"metric names differ from BENCHMARK.json: missing {missing}, extra {extra}")
        return 5
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
