"""Session, spans, fingerprints and event-log parsing for the benchmark.

Everything here observes the engine from outside: spans are opened
around calls into the engine's public functions, each span tags the
Spark jobs it causes (job group + the ``perfbench.span`` local
property), and a traced session writes the Spark event log, which is
parsed after the session stops into per-span task metrics.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import tempfile
import time
from collections import defaultdict
from dataclasses import dataclass, field

CORES = 4
DRIVER_MEMORY = "3g"
SPAN_PROP = "perfbench.span"
# SQL metric of every Python-UDF plan node (PythonSQLMetrics.pythonTotalTime):
# wall milliseconds spent in the Python workers, Arrow (de)serialization included
UDF_TIME_METRIC = "time to run Python workers"


def du_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


@dataclass
class Bench:
    """One benchmark process: the Spark session plus the spans opened
    around engine calls. ``run_dir`` holds every file the run writes."""

    root: str
    run_dir: str
    traced: bool
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)
    spark: object = None

    def start(self) -> float:
        """Start the session; returns its start-up seconds."""
        t0 = time.perf_counter()
        for sub in ("local", "tmp", "eventlog", "sql-warehouse"):
            os.makedirs(os.path.join(self.run_dir, sub), exist_ok=True)
        # Python workers are forked by the JVM and import easyner_spark by
        # path: a run started outside the repository root needs the root on
        # the workers' PYTHONPATH. Spark, Java and Python scratch files stay
        # inside the run directory.
        paths = [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        tmp = os.path.join(self.run_dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        # no hsperfdata files under /tmp from the launcher or the driver JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "sql-warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if self.traced else "false",
            "spark.eventLog.dir": os.path.join(self.run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        from easyner_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    # ------------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str):
        """Time a block and tag every Spark job it starts with the span
        path (``parent/child``); restores the parent's tags on exit."""
        sc = self.spark.sparkContext
        self._stack.append(name)
        path = "/".join(self._stack)
        sc.setJobGroup(path, path)
        sc.setLocalProperty(SPAN_PROP, path)
        t0 = time.perf_counter()
        try:
            yield path
        finally:
            self.spans.append((path, time.perf_counter() - t0))
            self._stack.pop()
            parent = "/".join(self._stack) or None
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(parent, parent)
            sc.setLocalProperty(SPAN_PROP, parent)

    def span_seconds(self, prefix: str, leaf: str) -> float:
        """Summed seconds of spans under ``prefix`` whose last part is ``leaf``."""
        return sum(
            s for p, s in self.spans if p.startswith(prefix) and p.rsplit("/", 1)[-1] == leaf
        )

    # --------------------------------------------------------------- probes
    def jvm_peak_rss_mb(self) -> float:
        """VmHWM (peak resident set) of the Spark driver JVM."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def jvm_microbench(self) -> float:
        """The JVM window stamp of bench.py: one single-task codegen'd
        range sum on the live session (one repetition; bench.py keeps
        the min of three)."""
        t0 = time.perf_counter()
        self.spark.range(0, 1_000_000_000, 1, 1).selectExpr("sum(id) AS s").collect()
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers it forked) to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


def fingerprint(df) -> tuple:
    """Order-insensitive content fingerprint of a DataFrame: row count
    plus two independent folds of xxhash64 over every column. Computing
    it materializes every column, like a noop write."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(*))").alias("x"),
        F.expr("sum(cast(xxhash64(*) as decimal(38,0)))").alias("s"),
    ).first()
    return (int(r["n"]), int(r["x"] or 0), str(r["s"]))


# ------------------------------------------------------------- event log
@dataclass
class JobStats:
    span: str
    tasks: int = 0
    busy_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    udf_s: float = 0.0


def parse_event_log(log_dir: str) -> list[JobStats]:
    """Per-job task metrics from the (closed) event log of a stopped
    session. Tasks are credited to the first job that lists their stage."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    udf_ids: set[int] = set()
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = JobStats(props.get(SPAN_PROP) or "")
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if jid is None or not tm:
                    continue
                js = jobs[jid]
                js.tasks += 1
                js.busy_s += tm.get("Executor Run Time", 0) / 1000.0
                js.gc_s += tm.get("JVM GC Time", 0) / 1000.0
                js.shuffle_bytes += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                js.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in ev.get("Task Info", {}).get("Accumulables", []):
                    if acc.get("Name") == UDF_TIME_METRIC or acc.get("ID") in udf_ids:
                        udf_ids.add(acc["ID"])
                        js.udf_s += int(acc.get("Update", 0)) / 1000.0
    return list(jobs.values())


def layer_totals(jobs: list[JobStats], match) -> dict:
    """Sum job stats over the jobs whose span path satisfies ``match``."""
    out = defaultdict(float)
    for j in jobs:
        if match(j.span):
            out["jobs"] += 1
            out["tasks"] += j.tasks
            out["busy_s"] += j.busy_s
            out["gc_s"] += j.gc_s
            out["shuffle_bytes"] += j.shuffle_bytes
            out["spill_bytes"] += j.spill_bytes
            out["udf_s"] += j.udf_s
    return out


def has_part(part: str):
    return lambda path: part in path.split("/")
