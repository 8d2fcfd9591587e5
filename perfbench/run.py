"""graft end-to-end benchmark.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload request --seed 1 --seconds 10 --trace 0

Workloads: `request` and `corpus_night` (listed in BENCHMARK.json), and
`backfill` (run by hand: one cycle takes minutes). Builds graft and the
benchmark program from source on first use (see build.py), then runs one JVM with a
SparkSession on local[nproc] and a single client thread in a closed loop.

The last stdout line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when --trace 0 and the per-layer metrics
when --trace 1. The line before it is a report with sample counts,
environment, failures by error class and the output-check results; the
same report, and the spans of a traced run, are written under
.bench_work/results/.

Input data: the sf0.1 tables named by $SPARK_GRAFT_SF_DIR, or
testdata/sf0.1 under the home directory (TESTDATA.md). The Spark driver
heap is fixed at 3g, so runs compare like with like.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(BENCH_DIR))
import build  # noqa: E402

WORKLOADS = ("request", "corpus_night", "backfill")
# the listed workloads must finish within 180 s; a backfill takes minutes
JVM_TIMEOUT_S = {"request": 170, "corpus_night": 170, "backfill": 1800}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def expected_metrics(root: Path, trace: bool):
    spec = root / "BENCHMARK.json"
    if not spec.is_file():
        return None
    b = json.loads(spec.read_text())
    return [m["name"] for m in b["per_layer" if trace else "end_to_end"]]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = Path.cwd()
    try:
        classes = build.build(root)
        jars = build.spark_jars()
    except RuntimeError as e:
        fail(f"build failed: {e}")
    sf_dir = Path(os.environ.get("SPARK_GRAFT_SF_DIR", Path.home() / "testdata" / "sf0.1"))
    if not (sf_dir / "lineitem.parquet").exists():
        fail(f"input tables not found in {sf_dir}; set SPARK_GRAFT_SF_DIR")

    work_root = root / ".bench_work"
    work = work_root / f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={BENCH_DIR / 'log4j2.properties'}",
        "-cp", f"{classes}{os.pathsep}{jars / '*'}",
        "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--sf-dir", str(sf_dir), "--work-dir", str(work),
        "--results-dir", str(work_root / "results"),
    ]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=root,
                              timeout=JVM_TIMEOUT_S[a.workload])
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {JVM_TIMEOUT_S[a.workload]} s")
    shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    result = None
    for ln in lines:
        try:
            obj = json.loads(ln)
        except ValueError:
            continue
        if isinstance(obj, dict) and "correct" in obj:
            result = obj
        elif isinstance(obj, dict) and "report" in obj:
            print(ln)
    if result is None:
        fail(f"no result line (exit {proc.returncode})")
    if proc.returncode != 0 or not result["correct"]:
        print(json.dumps(result))
        fail("output checks failed (see CHECK FAILED lines above)")
    want = expected_metrics(root, bool(a.trace))
    if want is not None and sorted(want) != sorted(result["metrics"]):
        fail("metrics do not match BENCHMARK.json: "
             f"missing {sorted(set(want) - set(result['metrics']))}, "
             f"extra {sorted(set(result['metrics']) - set(want))}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
