"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 10 --trace 0

Run from the repository root (the engine package `pyreshaper_spark`
must sit next to `perfbench/`). The benchmark generates its input,
builds the Spark session through `pyreshaper_spark.session.get_spark`,
runs one workload from a single closed-loop client, checks every
output against DuckDB, and prints one JSON result as its last line.
`--trace 1` runs the same operations with the event log and the layer
wrappers switched on and reports per-layer metrics instead. See
`perfbench/README.md`.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracle as orc  # noqa: E402

#: 100,000 sequences (5.4M tokens) in 100 files: a fifth of the
#: `bench.py` input, so that set-up plus a warm operation fits the
#: per-run time budget on a 4-core box (see README.md).
N_SEQ = 100_000
WORKLOADS = ("full_build", "query_mix")
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "stored_bytes_per_input_byte": "ratio",
}
TIERS = (("1m", 60), ("10m", 600), ("1h", 3600), ("1d", 86400))
WARMUP_DECKS = 2
#: query_mix times whole rounds of this many decks, spread over ~20 s
TIMED_DECKS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--n-seq", type=int, default=N_SEQ,
                    help="input size (a multiple of 100)")
    ap.add_argument("--work", default=os.path.join(ROOT, ".perfbench_work"),
                    help="scratch directory, emptied first")
    return ap.parse_args(argv)


# ---- host --------------------------------------------------------------------

def _proc_tree_rss() -> int:
    """Summed RSS of this process and all its descendants (the JVM and
    the Python workers it forks)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [os.getpid()]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def host_facts() -> dict:
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) * 1024
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem / 2**30, 1),
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


def _code_key(n_seq: int) -> str:
    """Digest of the engine's and the input generator's source, and the
    input size: what the cached base catalog depends on."""
    h = hashlib.sha256(str(n_seq).encode())
    files = glob.glob(os.path.join(ROOT, "pyreshaper_spark", "**", "*.py"),
                      recursive=True)
    for path in sorted(files) + [os.path.join(HERE, "inputs.py")]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value): the highest percentile, at most p90, with at least
    ten samples above it; None when that would not be above the median
    (fewer than 20 samples)."""
    v = sorted(values)
    n = len(v)
    if n < 20:
        return None
    p = min(90.0, math.floor(100.0 * (n - 10) / n))
    k = (n - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, n - 1)
    return p, v[lo] + (v[hi] - v[lo]) * (k - lo)


# ---- workloads -------------------------------------------------------------

class Bench:
    def __init__(self, args, spark, inp, oracle, tracer):
        self.args, self.spark, self.inp = args, spark, inp
        self.oracle, self.tracer = oracle, tracer
        self.pending = inputs.pending_files(inp.files)
        self.work = args.work
        self.stored_ratios: list[float] = []
        self.round = 1  # operations per round; query_mix sends whole decks
        self.warmup_walls: list[float] = []
        self.peak_rss = 0
        self.op_log: list[dict] = []  # per op: kind, wall, ok, extras

    def _traced(self, kind):
        return self.tracer.op(kind) if self.tracer else nullcontext()

    def _cfg(self, input_dir, out):
        """The `RunConfig` defaults, building into an empty catalog."""
        from pyreshaper_spark.config import RunConfig

        return RunConfig(input_path=input_dir, output_path=out, write_mode="overwrite")

    # -- full_build ------------------------------------------------------------
    def setup_full_build(self):
        from pyreshaper_spark.plans import pipeline

        o = self.oracle
        keys = ("source", "bucket_s")
        self.expected = {}
        for name, w in TIERS:
            self.expected[f"tier_{name}"] = (
                orc.digest(o.tier_table(w, base=False), orc.TIER_TABLE_COLS, keys),
                orc.TIER_TABLE_COLS, keys)
        for name, w in TIERS[1:]:
            self.expected[f"tier_{name}_filled"] = (
                orc.digest(o.filled_table(w, base=False), orc.FILLED_COLS, keys),
                orc.FILLED_COLS, keys)
        self.expected["meta_source"] = (
            orc.digest(o.meta(base=False), orc.META_COLS, ("source",)),
            orc.META_COLS, ("source",))
        self.expected_decode = orc.digest(
            o.decode_sums(base=False), orc.DECODE_SUM_COLS, ("source",))
        # warm-up: the first build in a fresh JVM is ~2x slower
        out = os.path.join(self.work, "warmup")
        pipeline.run_pipeline(self.spark, self._cfg(self.inp.dir, out + "/catalog"),
                              out + "/checkpoint.json")
        shutil.rmtree(out)
        self.n_ops = 0
        self.input_dir = self.inp.dir

    def op_full_build(self, check=True):
        from pyreshaper_spark.plans import pipeline

        out = os.path.join(self.work, f"build{self.n_ops}")
        self.n_ops += 1
        cfg = self._cfg(self.inp.dir, out + "/catalog")
        with self._traced("full_build"):
            t0 = time.perf_counter()
            res = pipeline.run_pipeline(self.spark, cfg, out + "/checkpoint.json")
            wall = time.perf_counter() - t0
        ok = self.check_build(cfg.output_path) if check else True
        self.stored_ratios.append(_du(cfg.output_path) / self.inp.bytes)
        shutil.rmtree(out)
        return wall, ok, {"step_wall_s": res.step_wall_s}

    def check_build(self, catalog_root) -> bool:
        from pyspark.sql import functions as F

        from pyreshaper_spark.operators import encode
        from pyreshaper_spark.sources.catalog import get_catalog

        cat = get_catalog(catalog_root)
        ok = True
        for table, (want, cols, keys) in self.expected.items():
            got = orc.digest(cat.read(self.spark, table).toArrow(), cols, keys)
            if got != want:
                print(f"perfbench: {table} differs from DuckDB", file=sys.stderr)
                ok = False
        checksum = F.aggregate(
            F.transform("tokens", lambda x, i: x.cast("long") * (i + 1)),
            F.lit(0).cast("long"), lambda a, b: a + b)
        sums = (
            encode.decode_series_table(cat.read(self.spark, "series_enc"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("sum_n_tok"),
                 F.sum(checksum).alias("tok_checksum"),
                 F.sum("event_s").alias("sum_event_s"))
        )
        if orc.digest(sums.toArrow(), orc.DECODE_SUM_COLS, ("source",)) != self.expected_decode:
            print("perfbench: decoded series_enc differs from DuckDB", file=sys.stderr)
            ok = False
        return ok

    # -- query_mix ---------------------------------------------------------------
    def setup_query_mix(self):
        from pyreshaper_spark.plans import pipeline
        from pyreshaper_spark.sources.catalog import get_catalog

        drop = self.input_dir = os.path.join(self.work, "drop")
        base_bytes = inputs.link(
            [f for f in self.inp.files if f not in self.pending], drop)
        # The base catalog is the same for every seed, so it is built
        # once per checkout and engine version, then only read. The
        # build's lineage names the drop's files, which every run
        # regenerates byte for byte at the same paths.
        cache = self.args.work + ".cache"
        key = os.path.join(cache, _code_key(self.args.n_seq))
        self.cfg = self._cfg(drop, os.path.join(key, "catalog"))
        if not os.path.exists(os.path.join(key, "complete")):
            shutil.rmtree(cache, ignore_errors=True)
            os.makedirs(key)
            pipeline.run_pipeline(self.spark, self.cfg,
                                  os.path.join(key, "checkpoint.json"))
            open(os.path.join(key, "complete"), "w").close()
        self.stored_ratios.append(_du(self.cfg.output_path) / base_bytes)
        # the pending files arrive after the build: real-time reads merge them
        inputs.link(self.pending, drop)
        self.cat = get_catalog(self.cfg.output_path)
        self.queries = inputs.query_stream(self.args.seed)
        self.round = TIMED_DECKS * len(inputs.DECK)
        # warm-up: query latency keeps falling over the first decks
        warm = inputs.query_stream(self.args.seed + 1_000_003)
        for _ in range(WARMUP_DECKS * len(inputs.DECK)):
            t0 = time.perf_counter()
            self._query(next(warm))
            self.warmup_walls.append(time.perf_counter() - t0)

    def _query(self, q):
        """Send one query; returns (wall, answer, plan_s)."""
        from pyspark.sql import functions as F

        from pyreshaper_spark import sql
        from pyreshaper_spark.operators import encode

        t0 = time.perf_counter()
        if q.kind == "rehydrate":
            (src,) = q.sources

            def stats(st, src=src):
                lo, hi = st.get("source", (src, src))
                return lo <= src <= hi

            chunks = self.cat.read(self.spark, "series_enc", stats_filter=stats)
            df = encode.decode_series_table(
                chunks.filter(F.col("source") == src)).select(*orc.DOC_COLS)
        else:
            df = sql.read_rollup(
                self.spark, self.cfg, q.width_s, list(q.sources), q.t_min, q.t_max,
                realtime=q.kind == "realtime")
        t1 = time.perf_counter()
        answer = df.toArrow()
        return time.perf_counter() - t0, answer, t1 - t0

    def op_query_mix(self, check=True):
        q = next(self.queries)
        with self._traced(q.kind):
            wall, answer, plan_s = self._query(q)
        ok = True
        if check:
            if q.kind == "rehydrate":
                want = self.oracle.docs(q.sources[0], base=True)
                cols, keys = orc.DOC_COLS, ("doc_id",)
            else:
                want = self.oracle.rollup(q.width_s, q.kind == "tier", q.sources,
                                          q.t_min, q.t_max)
                cols, keys = orc.TIER_COLS, ("source", "bucket_s")
            ok = orc.digest(answer, cols, keys) == orc.digest(want, cols, keys)
            if not ok:
                print(f"perfbench: answer to {q} differs from DuckDB", file=sys.stderr)
        return wall, ok, {"kind": q.kind, "rows": answer.num_rows,
                          "plan_s": plan_s, "exec_s": wall - plan_s}


def timed_loop(bench, op, seconds, check=True):
    """Closed loop: send the next operation when the last one returns,
    until the operations' walls add up to ``seconds``, in whole rounds
    of ``bench.round`` operations (at least one round)."""
    spent, attempted, failed, walls = 0.0, 0, 0, []
    while attempted == 0 or spent < seconds or attempted % bench.round:
        attempted += 1
        t0 = time.perf_counter()
        try:
            wall, ok, extra = op(check=check)
        except Exception:
            traceback.print_exc()
            failed += 1
            spent += time.perf_counter() - t0
            continue
        # sampled between operations, so it costs the timed walls nothing
        bench.peak_rss = max(bench.peak_rss, _proc_tree_rss())
        spent += wall
        bench.op_log.append({"wall_s": wall, "ok": ok, **extra})
        if ok:
            walls.append(wall)
        else:
            failed += 1
    return attempted, failed, walls


# ---- main ----------------------------------------------------------------------

def _env(work: str, trace: bool) -> str:
    """Environment for the JVM and the Python workers; returns the
    event-log directory (traced runs only)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)
    submit = [f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"]
    evdir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(evdir)
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{evdir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return evdir


def _wait_for_jvm():
    """Shut down the JVM PySpark launched and wait until it has exited;
    it exits when its stdin closes, and its Python workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def _restart(spark):
    from pyreshaper_spark.session import get_spark

    spark.stop()
    return get_spark("perfbench")


def _spark_conf(spark) -> dict:
    skip = ("spark.driver.host", "spark.driver.port", "spark.app.id",
            "spark.app.startTime", "spark.app.submitTime")
    return {k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
            if k not in skip}


def _gorilla(inp) -> dict:
    """In-process Gorilla kernel rates on the workload's own series:
    per source, event times in order and their n_tok values."""
    import numpy as np
    import pyarrow.parquet as pq

    from pyreshaper_spark.functions import gorilla

    t = pq.read_table(inp.files, columns=["source", "event_s", "n_tok"]).to_pandas()
    series = [
        (g["event_s"].to_numpy(np.int64), g["n_tok"].to_numpy(np.float64))
        for _, g in t.sort_values(["source", "event_s"]).groupby("source")
    ]
    pts = sum(len(ts) for ts, _ in series)
    enc, t_enc, t_dec, reps = [], 0.0, 0.0, 0
    while t_enc + t_dec < 0.5:
        t0 = time.perf_counter()
        enc = [gorilla.encode_series(ts, v) for ts, v in series]
        t1 = time.perf_counter()
        for e in enc:
            gorilla.decode_series(e)
        t_enc += t1 - t0
        t_dec += time.perf_counter() - t1
        reps += 1
    nbytes = sum(len(e.ts_payload) + len(e.val_payload) for e in enc)
    return {"encode_pts_per_s": pts * reps / t_enc,
            "decode_pts_per_s": pts * reps / t_dec,
            "bytes_per_point": nbytes / pts}


def run(args) -> dict:
    work = os.path.abspath(args.work)
    args.work = work
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    evdir = _env(work, bool(args.trace))
    load_before = os.getloadavg()
    phases = {"imports": time.perf_counter() - T_START}

    def phase(name, t0):
        phases[name] = time.perf_counter() - t0

    t0 = time.perf_counter()
    inp = inputs.generate(os.path.join(work, "input"), args.n_seq)
    pending = inputs.pending_files(inp.files)
    phase("input", t0)
    t0 = time.perf_counter()
    oracle = orc.Oracle(inp.files, [f for f in inp.files if f not in pending])
    phase("oracle_load", t0)

    from pyreshaper_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    phase("session", t0)
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
    bench = Bench(args, spark, inp, oracle, tracer)
    t0 = time.perf_counter()
    getattr(bench, f"setup_{args.workload}")()
    phase("workload_setup", t0)
    op = getattr(bench, f"op_{args.workload}")
    setup_s = time.perf_counter() - T_START

    if tracer:
        # traced and untraced phases each start on a new SparkContext in
        # the warm JVM, so trace_overhead compares like with like
        bench.spark = spark = _restart(spark)
        tracer.install()
    attempted, failed, walls = timed_loop(bench, op, args.seconds)
    if tracer:
        tracer.uninstall()
    conf = _spark_conf(spark)
    versions = {"spark": spark.version}

    report = {}
    if args.trace:
        report = traced_report(args, bench, tracer, spark, inp, evdir, walls, op)
    else:
        spark.stop()
    _wait_for_jvm()
    oracle.close()
    load_after = os.getloadavg()

    import duckdb
    import pyarrow

    versions.update(pyarrow=pyarrow.__version__, duckdb=duckdb.__version__)
    tail = tail_percentile(walls)
    metrics = {}
    if walls and not args.trace:
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(walls),
            "stored_bytes_per_input_byte": statistics.median(bench.stored_ratios),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    elif walls:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in report.pop("layers").items()}

    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {**host_facts(), "loadavg_before": load_before,
                 "loadavg_after": load_after},
        "comparability": "BENCH_r01-r05 were measured on a 32-core host with "
                         "bench.py's own session settings; they are not "
                         "comparable with these numbers.",
        "versions": versions,
        "spark_conf": conf,
        "input": {"sequences": inp.n_seq, "tokens": inp.n_tok,
                  "files": len(inp.files), "bytes": inp.bytes,
                  "pending_files": [os.path.basename(p) for p in pending]},
        # JVM heap growth makes this vary 3-9 GB between identical runs,
        # too widely to bound, so it is reported here and not as a metric
        "peak_rss_mb": bench.peak_rss / 2**20,
        "setup_phases_s": phases,
        "ops": {"attempted": attempted, "failed": failed,
                "ops_failed_ratio": failed / attempted,
                "log": bench.op_log,
                "warmup_walls_s": bench.warmup_walls},
        **workload_figures(args.workload, inp, walls, bench, tail),
        **report,
    }
    return {
        "details": details,
        "result": {"correct": failed == 0, "attempted": attempted,
                   "failed": failed, "metrics": metrics},
    }


def workload_figures(workload, inp, walls, bench, tail) -> dict:
    """The end-to-end figures under their workload-specific names
    (`seq_per_s`, `query_p50_s`, ...), for the report line."""
    if not walls:
        return {}
    if workload == "full_build":
        return {"seq_per_s": inp.n_seq / statistics.median(walls),
                "run_wall_s": statistics.median(walls)}
    by_kind = {}
    for o in bench.op_log:
        by_kind.setdefault(o["kind"], []).append(o["wall_s"])
    out = {"query_p50_s": statistics.median(walls), "queries": len(walls),
           "query_p50_by_kind_s": {k: statistics.median(v) for k, v in by_kind.items()}}
    if tail:
        out[f"query_p{tail[0]:g}_s"] = tail[1]
    return out


def traced_report(args, bench, tracer, spark, inp, evdir, walls, op) -> dict:
    """Per-layer metrics of the traced operations, then the same
    operations again with tracing off for ``trace_overhead``."""
    import tracing as tr

    gor = _gorilla(inp)
    app_id = spark.sparkContext.applicationId
    # untraced reference: a new SparkContext in the same JVM, event log off
    spark.sparkContext._jvm.java.lang.System.setProperty("spark.eventLog.enabled", "false")
    bench.spark = _restart(spark)
    bench.tracer = None
    _, _, plain = timed_loop(bench, op, args.seconds, check=False)
    bench.spark.stop()

    sp = tr.spark_layers(tr.read_event_log(evdir, app_id), tracer.windows,
                         bench.input_dir)
    n = len(tracer.windows)
    per = 1.0 / n
    op_wall = sum(b - a for a, b, _ in tracer.windows) / 1e3
    steps = tracer.pipeline_steps
    step = lambda pred: sum(v for st in steps for k, v in st.items() if pred(k)) * per  # noqa: E731
    tiers_s = step(lambda k: k.startswith("tier_") and not k.endswith("_filled"))
    commits = tracer.commits
    rows = lambda pred: sum(c["rows"] for c in commits if pred(c["table"])) * per  # noqa: E731
    sparse_tier = lambda t: t.startswith("tier_") and not t.endswith("_filled")  # noqa: E731
    filled = {c["table"][: -len("_filled")] for c in commits if c["table"].endswith("_filled")}
    points = rows(sparse_tier)
    gap_out = rows(lambda t: t.endswith("_filled"))
    gap_sparse = rows(lambda t: t in filled)
    skews = [c["chunk_skew"] for c in commits if "chunk_skew" in c]
    ckpt_n, ckpt_s = tracer.span_total("checkpoint.save")
    read_n, read_s = tracer.span_total("catalog.read")
    t = sp["tasks"]
    enc_tokens = inp.n_tok * n if args.workload == "full_build" else 0
    arrow = sp["arrow"]
    sent_enc = arrow["_pack_batches"]["bytes_sent"] + arrow["_encode_partition"]["bytes_sent"]
    rollup_ops = [o for o in bench.op_log if o.get("kind") in ("tier", "realtime")]
    q_kinds = sp["by_kind"]
    q_scan_rows = sum(q_kinds.get(k, {}).get("scan_rows", 0) for k in ("tier", "realtime"))
    q_files = sum(q_kinds.get(k, {}).get("scan_files", 0) for k in ("tier", "realtime"))
    q_rows_out = sum(o["rows"] for o in rollup_ops)

    L = {
        "pipeline.validate_s": (step(lambda k: k == "validate"), "s"),
        "pipeline.meta_s": (step(lambda k: k == "meta_source"), "s"),
        "pipeline.tiers_s": (tiers_s, "s"),
        "pipeline.gapfill_s": (step(lambda k: k.endswith("_filled")), "s"),
        "pipeline.encode_s": (step(lambda k: k == "encode"), "s"),
        "pipeline.driver_gap_s": ((sum(tracer.pipeline_walls) * per - step(lambda k: True)), "s"),
        "checkpoint.saves": (ckpt_n * per, "count"),
        "checkpoint.save_s": (ckpt_s * per, "s"),
        "catalog.commits": (len(commits) * per, "count"),
        "catalog.write_call_s": (sum(c["wall_s"] for c in commits) * per, "s"),
        "catalog.read_calls": (read_n * per, "count"),
        "catalog.read_plan_s": (read_s * per, "s"),
        "catalog.files_written": (sum(c["files"] for c in commits) * per, "count"),
        "catalog.bytes_written": (sum(c["bytes"] for c in commits) * per, "bytes"),
        "catalog.log_bytes": (sum(c["log_bytes"] for c in commits) * per, "bytes"),
        "rollup.points": (points, "count"),
        "rollup.points_per_s": (points / tiers_s if tiers_s else 0.0, "points/s"),
        "agg.build_s": (sp["agg_build_s"] * per, "s"),
        "agg.peak_mem_mb": (sp["agg_peak_mb"], "MB"),
        "gapfill.rows_out": (gap_out, "count"),
        "gapfill.fill_ratio": ((gap_out - gap_sparse) / gap_sparse if gap_sparse else 0.0, "ratio"),
        "shuffle.bytes_written": (t.get("sh_bytes", 0) * per, "bytes"),
        "shuffle.records_written": (t.get("sh_records", 0) * per, "count"),
        "shuffle.write_s": (t.get("sh_write_s", 0) * per, "s"),
        "shuffle.fetch_wait_s": (t.get("fetch_wait_s", 0) * per, "s"),
        "sort.time_s": (sp["sort_time_s"] * per, "s"),
        "sort.peak_mem_mb": (sp["sort_peak_mb"], "MB"),
        "spill.bytes": (t.get("spill", 0) * per, "bytes"),
        "transpose.chunks": (rows(lambda t_: t_ == "series_enc"), "count"),
        "transpose.chunk_skew": (max(skews) if skews else 0.0, "ratio"),
    }
    for udf in tr.ARROW_UDFS:
        L[f"arrow.{udf}.bytes_sent"] = (arrow[udf]["bytes_sent"] * per, "bytes")
        L[f"arrow.{udf}.bytes_returned"] = (arrow[udf]["bytes_returned"] * per, "bytes")
        L[f"arrow.{udf}.python_s"] = (arrow[udf]["python_s"] * per, "s")
    L.update({
        "arrow.python_boot_s": (sp["arrow_boot_s"] * per, "s"),
        "encode.bytes_sent_per_token_byte": (sent_enc / (4 * enc_tokens) if enc_tokens else 0.0, "ratio"),
        "gorilla.encode_pts_per_s": (gor["encode_pts_per_s"], "points/s"),
        "gorilla.decode_pts_per_s": (gor["decode_pts_per_s"], "points/s"),
        "gorilla.bytes_per_point": (gor["bytes_per_point"], "bytes"),
        "sql.plan_s": (tracer.span_total("sql.read_rollup")[1] * per, "s"),
        "sql.exec_s": (sum(o["exec_s"] for o in rollup_ops) * per, "s"),
        "sql.files_scanned": (q_files * per, "count"),
        "sql.rows_scanned_per_row_returned": (q_scan_rows / q_rows_out if q_rows_out else 0.0, "ratio"),
        "scan.rows": (sp["scan_rows"] * per, "count"),
        "scan.bytes": (t.get("scan_bytes", 0) * per, "bytes"),
        "scan.time_s": (sp["scan_time_s"] * per, "s"),
        "scan.input_passes": (sp["input_bytes_scanned"] * per / inp.bytes, "ratio"),
        "tasks.count": (t.get("count", 0) * per, "count"),
        "tasks.run_s": (t.get("run_s", 0) * per, "s"),
        "tasks.cpu_s": (t.get("cpu_s", 0) * per, "s"),
        "tasks.gc_s": (t.get("gc_s", 0) * per, "s"),
        "tasks.failed": (t.get("failed", 0) * per, "count"),
        "tasks.straggler_ratio": (sp["straggler_ratio"], "ratio"),
        "jobs.count": (sp["jobs"] * per, "count"),
        "cpu_utilisation": (t.get("run_s", 0) / (op_wall * len(os.sched_getaffinity(0))), "ratio"),
        "trace_overhead": (statistics.median(walls) / statistics.median(plain) if walls and plain else 0.0, "ratio"),
    })
    spans = {}
    for sp_ in tracer.spans:
        c = spans.setdefault(sp_["name"], {"count": 0, "total_s": 0.0})
        c["count"] += 1
        c["total_s"] += sp_["t1"] - sp_["t0"]
    return {"layers": L, "traced_ops": n, "spans": spans,
            "untraced_walls_s": plain}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pyreshaper_spark")):
        print(f"perfbench: no engine package at {ROOT}/pyreshaper_spark; "
              "run from a full checkout", file=sys.stderr)
        return 2
    out = run(args)
    print(json.dumps(out["details"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
