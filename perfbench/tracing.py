"""Traced-run tooling: spans around the engine's public layer calls, and
a reader for Spark's event log.

Nothing here changes the engine. `Tracer` wraps public entry points
from outside (`run_pipeline`, `IcebergLite.overwrite/append/read`,
`Checkpoint.save`, `read_rollup`, `decode_series_table`) and records
time and counts only while an operation is being traced. Spark's own
per-task and per-operator metrics come from the event log, switched on
with `spark.eventLog.enabled` at JVM launch; `spark_layers` keeps the
jobs, tasks and SQL executions that started inside a traced
operation's wall-clock window and sums their metrics by operator.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

#: The MapInArrow UDFs of the encode path (pack, encode) and the read
#: path (decode); their names appear in the plan node's simpleString.
ARROW_UDFS = ("_pack_batches", "_encode_partition", "_decode_batches")


class Tracer:
    """Spans and counters around public layer calls.

    Wrappers record only inside :meth:`op`, so checks and set-up that
    run between traced operations are not counted.
    """

    def __init__(self):
        self.active = False
        self.windows: list[tuple[float, float, str]] = []  # epoch ms
        self.spans: list[dict] = []
        self.commits: list[dict] = []
        self.pipeline_steps: list[dict[str, float]] = []
        self.pipeline_walls: list[float] = []
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- operation windows ---------------------------------------------
    @contextmanager
    def op(self, kind: str):
        t0 = time.time() * 1e3
        self.active = True
        try:
            yield
        finally:
            self.active = False
            self.windows.append((t0, time.time() * 1e3, kind))

    # -- wrappers --------------------------------------------------------
    def install(self) -> None:
        from pyreshaper_spark import sql
        from pyreshaper_spark.operators import encode
        from pyreshaper_spark.plans import checkpoint, pipeline
        from pyreshaper_spark.sources import iceberglite

        cat = iceberglite.IcebergLite
        self._wrap(pipeline, "run_pipeline", self._pipeline)
        self._wrap(checkpoint.Checkpoint, "save", self._timed("checkpoint.save"))
        self._wrap(cat, "overwrite", self._catalog_write)
        self._wrap(cat, "append", self._catalog_write)
        self._wrap(cat, "read", self._timed("catalog.read"))
        self._wrap(sql, "read_rollup", self._timed("sql.read_rollup"))
        self._wrap(encode, "decode_series_table", self._timed("encode.decode_plan"))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()

    def _wrap(self, owner, name: str, make) -> None:
        orig = getattr(owner, name)
        self._undo.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def _span(self, name: str, t0: float, t1: float) -> None:
        with self._lock:
            self.spans.append({"name": name, "t0": t0, "t1": t1})

    def _timed(self, name: str):
        tracer = self

        def make(orig):
            def wrapper(*args, **kwargs):
                if not tracer.active:
                    return orig(*args, **kwargs)
                t0 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    tracer._span(name, t0, time.perf_counter())

            return wrapper

        return make

    def _pipeline(self, orig):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            res = orig(*args, **kwargs)
            t1 = time.perf_counter()
            tracer._span("pipeline.run", t0, t1)
            tracer.pipeline_walls.append(t1 - t0)
            tracer.pipeline_steps.append(dict(res.step_wall_s or {}))
            return res

        return wrapper

    def _catalog_write(self, orig):
        """Time the commit, and diff the table directory around it for
        the data files, rows and snapshot-log bytes it wrote."""
        tracer = self

        def wrapper(cat, name, df, *args, **kwargs):
            if not tracer.active:
                return orig(cat, name, df, *args, **kwargs)
            tdir = os.path.join(cat.root, name)
            before = _sizes(tdir)
            t0 = time.perf_counter()
            sid = orig(cat, name, df, *args, **kwargs)
            t1 = time.perf_counter()
            changed = {
                p: s for p, s in _sizes(tdir).items() if before.get(p) != s
            }
            meta = os.sep + "metadata" + os.sep
            data = [p for p in changed if p.endswith(".parquet") and meta not in p]
            commit = {
                "table": name,
                "wall_s": t1 - t0,
                "files": len(data),
                "bytes": sum(changed[p] for p in data),
                "log_bytes": sum(s for p, s in changed.items() if meta in p),
                "rows": sum(pq.ParquetFile(p).metadata.num_rows for p in data),
            }
            if name == "metrics" and data:
                n = pa.concat_arrays(
                    [pq.read_table(p, columns=["n"]).column(0).combine_chunks()
                     for p in data]
                ).to_numpy()
                if len(n):
                    commit["chunk_skew"] = float(n.max() / max(statistics.median(n), 1))
            with tracer._lock:
                tracer.commits.append(commit)
            tracer._span("catalog.write", t0, t1)
            return sid

        return wrapper

    # -- span summaries ---------------------------------------------------
    def span_total(self, name: str) -> tuple[int, float]:
        hits = [s["t1"] - s["t0"] for s in self.spans if s["name"] == name]
        return len(hits), sum(hits)


def _sizes(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


# ---- event log -------------------------------------------------------------

def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """The events of application ``app_id`` under ``log_dir``; Spark 4
    writes rolling, zstd-compressed ``eventlog_v2_<app>/events_*`` files.
    One application only: job and stage ids restart with every
    SparkContext, so another context's ids would collide."""
    def order(p):
        m = re.search(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0

    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*")),
                       key=order):
        if path.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(path), "zstd") as s:
                text = s.read().decode()
        else:
            with open(path) as f:
                text = f.read()
        events.extend(json.loads(line) for line in text.splitlines() if line)
    return events


_UNIT = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}
_UDF = re.compile(r"MapInArrow\s+(\w+)\(")


def _node_kind(node: dict) -> tuple[str, str]:
    name = node["nodeName"]
    if name.startswith("Scan"):
        return "scan", node.get("metadata", {}).get("Location", "")
    if name == "MapInArrow":
        m = _UDF.search(node["simpleString"])
        return "arrow", m.group(1) if m else "?"
    for kind in ("Exchange", "Sort", "HashAggregate", "ObjectHashAggregate"):
        if name == kind:
            return kind.replace("ObjectHash", "Hash").lower(), ""
    return "", ""


def spark_layers(events: list[dict], windows, input_dir: str) -> dict:
    """Sum Spark's metrics over the work started inside ``windows``.

    Returns totals keyed by layer metric, plus ``by_kind``: per
    operation kind (the window's label), the scan rows and files of
    its SQL executions.
    """
    def kind_at(ms):
        for a, b, kind in windows:
            if a <= ms <= b:
                return kind
        return None

    plans: dict[int, list[dict]] = defaultdict(list)
    exec_kind: dict[int, str] = {}
    driver_acc: dict[int, list] = defaultdict(list)
    stages: set[int] = set()
    n_jobs = 0
    tasks = []
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            if kind_at(e["Submission Time"]) is not None:
                n_jobs += 1
                stages.update(e["Stage IDs"])
        elif ev == "SparkListenerTaskEnd":
            tasks.append(e)
        elif ev.endswith("SQLExecutionStart"):
            k = kind_at(e["time"])
            if k is not None:
                exec_kind[e["executionId"]] = k
                plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif ev.endswith("DriverAccumUpdates"):
            driver_acc[e["executionId"]].extend(e["accumUpdates"])

    # accumulator id -> (kind, detail, metric name, unit scale, op kind)
    accs: dict[int, tuple] = {}
    for x, op_kind in exec_kind.items():
        stack = list(plans[x])
        while stack:
            node = stack.pop()
            stack.extend(node["children"])
            kind, detail = _node_kind(node)
            if not kind:
                continue
            for m in node["metrics"]:
                scale = _UNIT.get(m["metricType"])
                if scale is not None:
                    accs[m["accumulatorId"]] = (kind, detail, m["name"], scale, op_kind)

    total: dict[tuple, float] = defaultdict(float)
    peak: dict[tuple, float] = defaultdict(float)

    def add(acc_id, value):
        meta = accs.get(acc_id)
        if meta is None:
            return
        kind, detail, name, scale, op_kind = meta
        v = float(value) * scale
        total[(kind, detail, name, op_kind)] += v
        peak[(kind, name)] = max(peak[(kind, name)], v)

    t = defaultdict(float)
    durations: dict[int, list[float]] = defaultdict(list)
    for e in tasks:
        if e["Stage ID"] not in stages:
            continue
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        for a in info.get("Accumulables", []):
            add(a["ID"], a.get("Update", 0))
        t["count"] += 1
        t["failed"] += e["Task End Reason"].get("Reason") != "Success"
        t["run_s"] += m.get("Executor Run Time", 0) / 1e3
        t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        t["spill"] += m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics", {})
        t["sh_bytes"] += sw.get("Shuffle Bytes Written", 0)
        t["sh_records"] += sw.get("Shuffle Records Written", 0)
        t["sh_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
        t["fetch_wait_s"] += m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1e3
        t["scan_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        durations[e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
    for x in exec_kind:
        for acc_id, value in driver_acc.get(x, []):
            add(acc_id, value)

    def s(kind, name, detail=None, op_kinds=None):
        return sum(
            v for (k, d, n, o), v in total.items()
            if k == kind and n == name
            and (detail is None or d == detail)
            and (op_kinds is None or o in op_kinds)
        )

    input_loc = "file:" + os.path.abspath(input_dir)
    input_scanned = sum(
        v for (k, d, n, _), v in total.items()
        if k == "scan" and n == "size of files read" and d.split("[", 1)[-1].startswith(input_loc)
    )
    straggler = 0.0
    if durations:
        heavy = max(durations.values(), key=sum)
        straggler = max(heavy) / max(statistics.median(heavy), 1)
    out = {
        "jobs": n_jobs,
        "tasks": dict(t),
        "straggler_ratio": straggler,
        "input_bytes_scanned": input_scanned,
        "scan_rows": s("scan", "number of output rows"),
        "scan_time_s": s("scan", "scan time"),
        "scan_files": s("scan", "number of files read"),
        "sort_time_s": s("sort", "sort time"),
        "sort_peak_mb": peak[("sort", "peak memory")] / 2**20,
        "agg_build_s": s("hashaggregate", "time in aggregation build"),
        "agg_peak_mb": peak[("hashaggregate", "peak memory")] / 2**20,
        "arrow_boot_s": s("arrow", "time to start Python workers"),
        "arrow": {
            udf: {
                "bytes_sent": s("arrow", "data sent to Python workers", udf),
                "bytes_returned": s("arrow", "data returned from Python workers", udf),
                "python_s": s("arrow", "time to run Python workers", udf),
            }
            for udf in ARROW_UDFS
        },
        "by_kind": {},
    }
    for k in {o for *_, o in total}:
        out["by_kind"][k] = {
            "scan_rows": s("scan", "number of output rows", op_kinds={k}),
            "scan_files": s("scan", "number of files read", op_kinds={k}),
        }
    return out
