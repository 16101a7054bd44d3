"""Fast self-test of the benchmark (a few minutes, 1,000-sequence input).

    python3 perfbench/selftest.py

Checks that:

* each workload, untraced and traced, prints every metric that
  BENCHMARK.json names, with its unit, and passes its output checks;
* a deliberately wrong expected answer is counted as a failed operation;
* the event-log reader returns non-zero scan, exchange and MapInArrow
  metrics for a tiny known plan;
* without the engine package next to it, the benchmark exits non-zero
  and prints no result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work", "selftest")
N_SEQ = 1000
RUN = [sys.executable, os.path.join(HERE, "run.py")]

#: Run inside a child process: the oracle's rollup answers lose a row.
_WRONG_ANSWER = """
import sys
sys.path.insert(0, {here!r})
import oracle, run
real = oracle.Oracle.rollup
oracle.Oracle.rollup = lambda self, *a, **k: real(self, *a, **k).slice(1)
sys.exit(run.main(sys.argv[1:]))
"""

#: Run inside a child process with the event log on: one scan, one
#: exchange, and the pack/encode MapInArrow UDFs, then the reader.
_PROBE = """
import os, sys
sys.path.insert(0, {here!r}); sys.path.insert(0, {root!r})
import inputs, tracing
from pyreshaper_spark.session import get_spark
from pyreshaper_spark.operators.encode import encode_series_table
from pyreshaper_spark.operators.transpose import transpose_to_series
work = {work!r}
inp = inputs.generate(os.path.join(work, "input"), 1000, 10)
spark = get_spark("perfbench-probe")
tracer = tracing.Tracer()
with tracer.op("probe"):
    seq = spark.read.parquet(inp.dir)
    seq.groupBy("source").count().collect()
    encode_series_table(transpose_to_series(seq, 2, 4, pack=True)).count()
app_id = spark.sparkContext.applicationId
spark.stop()
sp = tracing.spark_layers(
    tracing.read_event_log(os.path.join(work, "eventlog"), app_id),
    tracer.windows, inp.dir)
arrow = sp["arrow"]
checks = {{
    "scan rows": sp["scan_rows"], "scan files": sp["scan_files"],
    "input bytes scanned": sp["input_bytes_scanned"],
    "shuffle bytes": sp["tasks"].get("sh_bytes", 0),
    "pack bytes sent": arrow["_pack_batches"]["bytes_sent"],
    "encode bytes returned": arrow["_encode_partition"]["bytes_returned"],
}}
print(checks)
sys.exit(0 if all(checks.values()) else 1)
"""


def _last_json(stdout: str):
    lines = [line for line in stdout.strip().splitlines() if line.startswith("{")]
    return json.loads(lines[-1]) if lines else None


def _run(name, args):
    out = subprocess.run(RUN + args + ["--work", os.path.join(WORK, name)],
                         cwd=ROOT, capture_output=True, text=True, timeout=600)
    return out.returncode, out.stdout, out.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    failures = []

    def check(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in spec["workloads"]:
        for trace in (0, 1):
            name = f"{w['name']}-trace{trace}"
            rc, out, err = _run(name, [
                "--workload", w["name"], "--seed", "7", "--seconds", "0",
                "--trace", str(trace), "--n-seq", str(N_SEQ)])
            res = _last_json(out)
            check(rc == 0 and res is not None, f"{name}: exits 0 with a result")
            if res is None:
                print(err[-3000:])
                continue
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{name}: result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{name}: outputs match DuckDB")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want[trace], f"{name}: every metric with its unit")
            if trace == 0:
                check(all(v["value"] > 0 for v in res["metrics"].values()),
                      f"{name}: end-to-end metrics non-zero")

    wrong = os.path.join(WORK, "wrong")
    out = subprocess.run(
        [sys.executable, "-c", _WRONG_ANSWER.format(here=HERE), "--workload",
         "query_mix", "--seed", "7", "--seconds", "2", "--n-seq", str(N_SEQ),
         "--work", wrong], cwd=ROOT, capture_output=True, text=True, timeout=600)
    res = _last_json(out.stdout)
    check(res is not None and res["failed"] >= 1 and not res["correct"],
          "a wrong expected answer counts as a failed op")

    probe = os.path.join(WORK, "probe")
    os.makedirs(os.path.join(probe, "eventlog"))
    os.makedirs(os.path.join(probe, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", PYTHONPATH=ROOT,
               SPARK_LOCAL_DIRS=os.path.join(probe, "spark-local"),
               TMPDIR=os.path.join(probe, "tmp"))
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={probe}/tmp "
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{probe}/eventlog pyspark-shell")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(here=HERE, root=ROOT, work=probe)],
        cwd=ROOT, capture_output=True, text=True, env=env, timeout=600)
    print(out.stdout.strip())
    check(out.returncode == 0,
          "event-log reader: non-zero scan, exchange and MapInArrow metrics")

    bare = os.path.join(WORK, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "full_build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180)
    check(out.returncode != 0 and _last_json(out.stdout) is None,
          "without the engine: non-zero exit, no result")

    shutil.rmtree(WORK, ignore_errors=True)
    print("selftest:", "FAILED " + "; ".join(failures) if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
