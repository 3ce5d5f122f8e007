"""Harness shared by the workloads.

Session set-up, the span tracer that attributes Spark jobs to library
layers, the status-store job/stage reader, process-tree RSS sampling,
machine-state capture and the per-layer roll-up. Nothing here touches
the library's internals: spans wrap calls into its public functions,
and job attribution goes through ``setJobGroup`` plus Spark's status
store.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4


# --- small statistics ---------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


TAIL_Q = 0.75   # a 20 s window holds 10-12 warm DAG runs: p75 has 3 beyond it


def tail(xs, q=TAIL_Q):
    """Nearest-rank ``q`` quantile and how many samples lie beyond it."""
    if not xs:
        return 0.0, 0
    s = sorted(xs)
    rank = -(-round(q * 100) * len(s) // 100)   # ceil(q * n) without float error
    i = max(rank, 1) - 1
    return s[i], len(s) - 1 - i


# --- filesystem ---------------------------------------------------------------

def tree_bytes(path) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark/Hadoop side files
    (``_SUCCESS``, ``.crc``) are not data and are skipped."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def digest_files(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(str(p) for p in paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# --- machine state and memory -------------------------------------------------

def _cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def machine_state() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": os.cpu_count(), "master": MASTER, "loadavg": load}


def process_tree() -> list[int]:
    """This process and all its descendants (the driver JVM, the Python
    worker daemon and its workers)."""
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
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


class RssSampler:
    """Peak resident set of the process tree, sampled every 0.2 s, and
    of this (driver Python) process alone."""

    def __init__(self):
        self.peak = self.peak_self = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            total += rss
            if pid == os.getpid():
                self.peak_self = max(self.peak_self, rss)
        self.peak = max(self.peak, total)

    def _loop(self):
        while not self._stop.wait(0.2):
            self._sample()

    def stop(self) -> float:
        """Stop sampling; return the tree's peak in MB."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self._sample()
        return self.peak / 2**20


# --- session ------------------------------------------------------------------

def prepare_environment(workdir: Path) -> None:
    """Everything Spark and its Python workers need, set before the JVM
    starts: the repo root on PYTHONPATH so pickled functions resolve
    ``goetl_spark`` in workers whatever the cwd, and scratch space kept
    inside the work directory."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ.setdefault("PYSPARK_PYTHON", "python3")


def session_conf(workdir: Path) -> dict[str, str]:
    tmp = workdir / "tmp"
    return {
        "spark.local.dir": str(tmp),
        # a fixed 1 GB heap (-Xms = -Xmx): otherwise G1's heap growth
        # swings peak_rss_mb by hundreds of MB between identical runs
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms1g",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.sql.streaming.ui.enabled": "false",
    }


def warm(spark) -> None:
    """Engine-level warm-up: one small shuffle job, so the first
    operation does not also pay the scheduler's and codegen's first use."""
    spark.range(0, 20000, numPartitions=4).selectExpr("id % 13 AS k") \
        .groupBy("k").count().collect()


def setup_session(workdir: Path):
    """Start the session in a fresh JVM, then the warm-up. Returns the
    session and the two timings."""
    from goetl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS,
                      extra_conf=session_conf(workdir))
    t1 = time.perf_counter()
    warm(spark)
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1


# --- tracing ------------------------------------------------------------------

class Tracer:
    """Spans at layer boundaries. Each span sets a fresh Spark job group
    (thread-local), so every job started inside it is attributed to it;
    on exit the parent's group is restored. Off, ``call`` is a plain
    call and ``span`` a no-op."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op = None                   # current operation id
        self.stream_groups: dict[str, str] = {}   # query runId -> layer
        self._local = threading.local()
        self._n = 0

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        self._n += 1
        sid = f"pb-{self._n}"
        parent = stack[-1] if stack else None
        stack.append((sid, layer))
        self.sc.setJobGroup(sid, layer)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            if parent:
                self.sc.setJobGroup(parent[0], parent[1])
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append({"id": sid, "layer": layer, "start": t0,
                               "end": t1, "parent": parent and parent[0],
                               "op": self.op})

    def call(self, layer: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(layer):
            return fn(*args, **kwargs)

    def stream(self, query):
        """Attribute a streaming query's trigger jobs (Spark runs them
        under the query's runId as job group) to the ``streaming`` layer."""
        if self.enabled:
            self.stream_groups[str(query.runId)] = "streaming"
        return query


def _to_json(spark):
    """A function turning a JVM object into Python data (Jackson with
    the Scala module, serialized in the JVM)."""
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(jvm.com.fasterxml.jackson.module.scala,
                                  "DefaultScalaModule$").__getattr__("MODULE$"))
    return lambda obj: json.loads(mapper.writeValueAsString(obj))


def status_store(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and executed stages from Spark's status store (works
    with the UI disabled), serialized in the JVM in two calls."""
    to_json = _to_json(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = to_json(store.jobsList(None))
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    stages = to_json(store.stageList(None, *defaults))
    return jobs, {s["stageId"]: s for s in stages
                  if s["status"] in ("COMPLETE", "FAILED")}


# physical plan node name -> the operator layer a shuffle feeding it counts to
_CONSUMERS = (("Join", "join"), ("Aggregate", "groupby"), ("Window", "window"))
_UNITS = ["B", "KiB", "MiB", "GiB", "TiB"]


_SIZE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)\b")


def shuffle_by_operator(spark, t0: float, t1: float) -> dict:
    """Shuffle bytes written per consuming plan-node kind, over the SQL
    executions submitted in ``[t0, t1]``. Join, groupby and window
    return lazy plans, so their shuffles run in whichever job executes
    the plan; this finds them in the executed plan instead. Each
    ``Exchange`` node is followed up the plan graph to the first join,
    aggregate or window node. The attribution is by node kind, not by
    the library function that built the node. Bytes come from the
    exchange's SQL metric, which Spark formats to 0.1 of its unit."""
    to_json = _to_json(spark)
    sql = spark._jsparkSession.sharedState().statusStore()
    out = {op: 0.0 for _, op in _CONSUMERS}
    execs = sql.executionsList()
    for k in range(execs.size()):
        e = execs.apply(k)
        if not t0 * 1000 <= e.submissionTime() <= t1 * 1000:
            continue
        graph = to_json(sql.planGraph(e.executionId()))
        values = to_json(sql.executionMetrics(e.executionId()))
        nodes = {n["id"]: n for n in graph["allNodes"]}
        parent = {x["fromId"]: x["toId"] for x in graph["edges"]}
        for n in nodes.values():
            acc = [m["accumulatorId"] for m in n["metrics"]
                   if n["name"] == "Exchange" and m["name"] == "shuffle bytes written"]
            size = acc and _SIZE.search(values.get(str(acc[0]), ""))
            if not size:
                continue
            up = parent.get(n["id"])
            while up is not None:
                op = next((op for key, op in _CONSUMERS if key in nodes[up]["name"]), None)
                if op:
                    out[op] += float(size[1]) * 1024 ** _UNITS.index(size[2])
                    break
                up = parent.get(up)
    return out


def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# metric prefix -> the span layer (and job group) it rolls up
LAYERS = {
    "sources": "sources", "functions": "functions", "join": "operators.join",
    "groupby": "operators.groupby", "window": "operators.window",
    "quality": "quality", "text": "operators.text",
    "tokenizer": "operators.tokenizer", "sampling": "operators.sampling",
    "dedup": "operators.dedup", "bloom": "operators.bloom",
    "index": "streaming.index", "streaming": "streaming", "sinks": "sinks",
}


def layer_rollup(spark, tracer: Tracer, t0: float, t1: float, n_ops: int) -> dict:
    """Per-layer metrics, per operation: self time of each layer's spans,
    jobs attributed through job groups, and Spark-wide totals for the
    timed phase ``[t0, t1]`` (epoch seconds)."""
    jobs, stages = status_store(spark)
    jobs = [j for j in jobs
            if j.get("submissionTime") and t0 * 1000 <= j["submissionTime"] <= t1 * 1000]
    per = max(1, n_ops)
    spans = [s for s in tracer.spans if t0 <= s["start"] <= t1]
    child_s: dict[str, float] = {}
    for s in spans:
        if s["parent"]:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    group_layer = {s["id"]: s["layer"] for s in spans}
    group_layer.update(tracer.stream_groups)

    # each executed stage belongs to the first job that lists it
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])

    def job_s(j):
        end = j.get("completionTime") or t1 * 1000
        return (end - j["submissionTime"]) / 1000.0

    def own_stages(js):
        ids = {j["jobId"] for j in js}
        return [stages[s] for s, jid in owner.items() if jid in ids and s in stages]

    by_layer: dict[str, list] = {}
    for j in jobs:
        by_layer.setdefault(group_layer.get(j.get("jobGroup"), ""), []).append(j)

    out: dict[str, float] = {}
    for prefix, layer in LAYERS.items():
        ls = [s for s in spans if s["layer"] == layer]
        js = by_layer.get(layer, [])
        st = own_stages(js)
        out[f"{prefix}.build_s"] = sum(s["end"] - s["start"] - child_s.get(s["id"], 0.0)
                                       for s in ls) / per
        out[f"{prefix}.jobs"] = len(js) / per
        out[f"{prefix}.job_s"] = sum(job_s(j) for j in js) / per
        out[f"{prefix}.executor_run_s"] = sum(s["executorRunTime"] for s in st) / 1000 / per
    for op, nbytes in shuffle_by_operator(spark, t0, t1).items():
        out[f"{op}.shuffle_bytes"] = nbytes / per

    all_st = own_stages(jobs)
    # stage inputBytes undercounts local parquet reads in Spark 4 (a 3 MB
    # scan reports ~2 KB), so scan bytes come from the filesystem (the
    # workloads add sources.scan_bytes) and scan stages are found by rows
    scan = [s for s in all_st if s["inputRecords"] > 0]
    out["sources.scan_s"] = sum(s["executorRunTime"] for s in scan) / 1000 / per
    wall = t1 - t0
    out.update({
        "spark.jobs": len(jobs) / per,
        "spark.stages": len(all_st) / per,
        "spark.tasks": sum(s["numTasks"] for s in all_st) / per,
        "spark.job_s": sum(job_s(j) for j in jobs) / per,
        "spark.driver_gap_s": (wall - _union_s(
            (j["submissionTime"] / 1000, (j.get("completionTime") or t1 * 1000) / 1000)
            for j in jobs)) / per,
        "spark.executor_run_s": sum(s["executorRunTime"] for s in all_st) / 1000 / per,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in all_st) / 1e9 / per,
        "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in all_st) / per,
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in all_st) / per,
        "spark.spill_bytes": sum(s["diskBytesSpilled"] + s["memoryBytesSpilled"]
                                 for s in all_st) / per,
        "spark.failed_tasks": sum(s["numFailedTasks"] for s in all_st) / per,
    })
    return out


PER_LAYER = (
    ["session.start_s", "session.warm_s",
     "sources.build_s", "sources.jobs", "sources.scan_bytes", "sources.scan_s",
     "functions.build_s",
     "plans.tasks", "plans.overhead_s", "plans.retries"]
    + [f"{op}.{m}" for op in ("join", "groupby", "window")
       for m in ("build_s", "jobs", "job_s", "shuffle_bytes")]
    + ["quality.build_s", "quality.jobs", "quality.job_s"]
    + [f"{op}.{m}" for op in ("text", "tokenizer", "sampling")
       for m in ("build_s", "jobs", "job_s", "executor_run_s")]
    + ["dedup.build_s", "dedup.jobs", "dedup.job_s", "dedup.candidate_pairs",
       "dedup.verify_yield",
       "bloom.jobs", "bloom.job_s", "bloom.skip_frac",
       "index.build_s", "index.append_s", "index.jobs", "index.bytes_written",
       "index.space_amp"]
    + [f"streaming.{m}" for m in (
        "triggers", "trigger_s", "add_batch_s", "query_planning_s",
        "wal_commit_s", "commit_offsets_s", "latest_offset_s", "get_batch_s",
        "rows_per_trigger", "jobs_per_trigger")]
    + ["sinks.build_s", "sinks.jobs", "sinks.write_s", "sinks.bytes_written",
       "sinks.files_written"]
    + [f"spark.{m}" for m in (
        "jobs", "stages", "tasks", "job_s", "driver_gap_s", "executor_run_s",
        "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes", "failed_tasks")]
    + ["trace.op_p50_s"]
)


_PHASES = {"trigger_s": "triggerExecution", "add_batch_s": "addBatch",
           "query_planning_s": "queryPlanning", "wal_commit_s": "walCommit",
           "commit_offsets_s": "commitOffsets", "latest_offset_s": "latestOffset",
           "get_batch_s": "getBatch"}


def trigger_metrics(progress, trigger_jobs: float) -> dict:
    """Per-trigger streaming metrics from the queries' public
    ``recentProgress`` entries (``durationMs`` phases, input rows) and
    the number of jobs the triggers ran."""
    n = max(1, len(progress))
    out = {f"streaming.{k}": sum(p.durationMs.get(v, 0) for p in progress) / 1000 / n
           for k, v in _PHASES.items()}
    out["streaming.rows_per_trigger"] = sum(p.numInputRows for p in progress) / n
    out["streaming.jobs_per_trigger"] = trigger_jobs / n
    return out


# Layer times that every workload in BENCHMARK.json exercises. A time
# of a layer a workload never calls reads 0 on every run, so those stay
# in the run record (``layers``) and out of the result line; counts,
# bytes and ratios are printed for every layer.
SHARED_TIMES = {
    "session.start_s", "session.warm_s", "sources.build_s", "sources.scan_s",
    "functions.build_s", "join.build_s", "groupby.build_s", "quality.build_s",
    "quality.job_s", "sinks.build_s", "sinks.write_s", "spark.job_s",
    "spark.driver_gap_s", "spark.executor_run_s", "spark.executor_cpu_s",
    "trace.op_p50_s",
}


# These operators only build plans (a DataFrame or a Column) and start
# no job, so their job counts are 0 by construction; their jobs run
# under the consuming span, and their shuffles are in ``<op>.shuffle_bytes``.
LAZY_JOBS = {"join.jobs", "groupby.jobs", "window.jobs", "text.jobs", "tokenizer.jobs"}


def gated(name: str) -> bool:
    """Is ``name`` one of the per-layer metrics the result line prints?"""
    return name not in LAZY_JOBS and (unit_of(name) != "s" or name in SHARED_TIMES)


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if "bytes" in leaf:
        return "bytes"
    if "files" in leaf:
        return "files"
    for suffix, unit in (("_s", "s"), ("_frac", "ratio"),
                         ("_yield", "ratio"), ("_amp", "ratio")):
        if leaf.endswith(suffix):
            return unit
    return "count"


# --- the run record -----------------------------------------------------------

class Run:
    """One benchmark run: work directory, session, tracer, op records,
    and the final result line."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 max_ops: int | None = None):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.max_ops = trace, max_ops
        self.workdir = ROOT / ".bench_work" / f"{workload}-{seed}-{os.getpid()}"
        shutil.rmtree(self.workdir, ignore_errors=True)
        self.workdir.mkdir(parents=True)
        self.t_begin = time.perf_counter()
        self.rss = RssSampler()
        self.cpu0 = _cpu_times()
        self.attempted = 0
        self.failures: list[str] = []
        self.record: dict = {"workload": workload, "seed": seed,
                             "machine_start": machine_state()}
        prepare_environment(self.workdir)
        self.spark, start, warmed = setup_session(self.workdir)
        self.setup_s = start + warmed
        self.session = {"session.start_s": start, "session.warm_s": warmed}
        self.record.update(self.session)
        self.tracer = Tracer(self.spark, trace)

    def close(self) -> None:
        """Stop every streaming query and the session, end the JVM and
        wait until every process the run started has exited; delete the
        work dir."""
        for q in self.spark.streams.active:
            q.stop()
        started = set(process_tree()) - {os.getpid()}
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()    # the JVM exits at EOF on its stdin
        gateway.proc.wait(timeout=60)
        deadline = time.time() + 30      # workers outlive the JVM briefly
        while any(os.path.exists(f"/proc/{p}") for p in started) \
                and time.time() < deadline:
            time.sleep(0.1)
        shutil.rmtree(self.workdir, ignore_errors=True)

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def end_window(self) -> None:
        """The timed window is over: stop sampling memory, so the
        benchmark's own checks (DuckDB, pyarrow reads) do not count."""
        self.rss.stop()

    def deadline_passed(self, t_start: float, done: int) -> bool:
        if self.max_ops is not None:
            return done >= self.max_ops
        return time.perf_counter() - t_start >= self.seconds

    def finish(self, e2e: dict, per_layer: dict) -> int:
        """Print the run record and the result line; return the exit code."""
        cpu1 = _cpu_times()
        dt = max(1, cpu1[0] - self.cpu0[0])
        self.record.update({
            "machine_end": machine_state(),
            "steal_pct": 100.0 * (cpu1[1] - self.cpu0[1]) / dt,
            "failures": self.failures[:20],
        })
        e2e = dict(e2e, setup_s=(self.setup_s, "s"),
                   peak_rss_mb=(self.rss.stop(), "MB"))
        self.record["peak_rss_driver_py_mb"] = self.rss.peak_self / 2**20
        if self.trace:
            layers = {k: per_layer.get(k, 0.0) for k in PER_LAYER}
            layers.update(self.session)
            self.record["layers"] = layers
            spans = self.workdir.parent / f"spans-{self.workload}-{self.seed}.jsonl"
            spans.write_text("".join(json.dumps(s) + "\n" for s in self.tracer.spans))
            self.record["spans_file"] = str(spans.relative_to(ROOT))
            self.record["end_to_end_traced"] = {k: v[0] for k, v in e2e.items()}
            metrics = {k: (v, unit_of(k)) for k, v in layers.items() if gated(k)}
        else:
            metrics = e2e
        t_close = time.perf_counter()
        self.close()
        self.record["close_s"] = time.perf_counter() - t_close
        self.record["run_wall_s"] = time.perf_counter() - self.t_begin
        print("# run " + json.dumps(self.record, sort_keys=True))
        failed = min(len(self.failures), self.attempted)
        print(json.dumps({
            "correct": not self.failures,
            "attempted": max(1, self.attempted),
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in sorted(metrics.items())},
        }))
        return 0 if not self.failures else 1
