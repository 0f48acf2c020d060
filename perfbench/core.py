"""Shared run machinery: the Spark session, the timed closed loop, memory
high-water marks, TxnTable commit accounting and the metric assembly."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "op_latency_p50_s": "s", "ops_per_s": "1/s"}

# per-layer self-time shares of the timed ops: metric -> (layer, call or None)
LAYER_SHARES = {
    "sources.readers.self_share": ("sources.readers", None),
    "operators.coerce.self_share": ("operators.coerce", None),
    "plans.daily_sync.self_share": ("plans.daily_sync", None),
    "sources.txn_table.merge_share": ("sources.txn_table", "merge"),
    "sources.txn_table.read_share": ("sources.txn_table", "read"),
    "sources.txn_table.overwrite_share": ("sources.txn_table", "overwrite"),
    "sources.writers.self_share": ("sources.writers", None),
    "operators.validate.self_share": ("operators.validate", None),
    "streaming.cdc.self_share": ("streaming", None),
    "plans.driver_queries.build_share": ("plans.driver_queries", "build"),
    "plans.driver_queries.action_share": ("plans.driver_queries", "action"),
}
# Spark jobs launched inside a layer's spans, per op
LAYER_JOBS = {
    "sources.readers.jobs_per_op": ("sources.readers", None),
    "plans.daily_sync.jobs_per_op": ("plans.daily_sync", None),
    "sources.txn_table.merge_jobs_per_op": ("sources.txn_table", "merge"),
    "sources.txn_table.read_jobs_per_op": ("sources.txn_table", "read"),
    "plans.driver_queries.build_jobs_per_op": ("plans.driver_queries", "build"),
    "plans.driver_queries.action_jobs_per_op": ("plans.driver_queries", "action"),
}
# work counts the workloads record per op (0 where a layer is not on the
# workload's path)
LAYER_COUNTS = {
    "operators.coerce.nulled_values_per_op": "count",
    "operators.merge.rows_updated_per_op": "count",
    "operators.merge.rows_inserted_per_op": "count",
    "operators.merge.rows_kept_per_op": "count",
    "sources.txn_table.files_rewritten_per_op": "count",
    "sources.txn_table.rows_rewritten_per_op": "count",
    "sources.txn_table.bytes_written_per_op": "bytes",
    "sources.writers.upserted_rows_per_op": "count",
    "operators.validate.warnings_per_op": "count",
    "streaming.cdc.batches_per_op": "count",
    "streaming.cdc.rows_read_per_op": "count",
}
PER_LAYER = {
    "session.start_s": "s",
    "memory.peak_rss_mb": "MB",
    "memory.peak_heap_mb": "MB",
    "trace.overhead_share": "ratio",
    "trace.coverage": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    **{k: "ratio" for k in LAYER_SHARES},
    **{k: "count" for k in LAYER_JOBS},
    **LAYER_COUNTS,
    "sources.txn_table.write_amplification": "ratio",
    "sources.txn_table.live_files": "count",
    "sources.writers.upsert_rows_per_s": "rows/s",
    "streaming.cdc.useful_ratio": "ratio",
}


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _descendants(pid: int) -> list[int]:
    """Every live process under ``pid``, from /proc."""
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
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to end: SIGTERM, then SIGKILL after ``timeout_s``.
    Zombies are reaped where they are this process's own children."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + timeout_s
        for pid in pids:
            if _alive(pid):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        while any(_alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.05)
    for pid in pids:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass


@dataclass
class Loop:
    """What the timed closed loop produced."""

    latencies: list[float] = field(default_factory=list)
    op_ids: list[str] = field(default_factory=list)
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    wall_s: float = 0.0
    counts: dict = field(default_factory=dict)  # LAYER_COUNTS totals

    def add(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value


class Bench:
    """One run: session, tracer, work directory, timed loop, metrics."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.tracer: Tracer | None = None
        self.jvm_pid: int | None = None
        self.session_start_s = 0.0
        self._tmpdir: str | None = None

    # ------------------------------------------------------------ session --

    def start_session(self) -> None:
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        from etl_mssql_to_postgres_dailysync_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self._tmpdir = os.environ.get("TMPDIR")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        conf = {  # the product's memory settings; only the paths move into the work dir
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:  # the status store keeps every job/stage for the trace
            conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.args.cores}]",
                               shuffle_partitions=self.args.cores, extra_conf=conf)
        self.spark.range(1).count()
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.tracer = Tracer(self.spark, enabled=bool(self.args.trace))

    def span(self, name: str):
        return self.tracer.span(name)

    def heap_mb(self) -> dict:
        """The JVM heap's high-water: each heap pool's peak use, and their sum."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        peaks = {str(p.getName()): p.getPeakUsage().getUsed() / 2**20
                 for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"}
        return {"peak_by_pool": peaks, "peak": sum(peaks.values())}

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait until the JVM
        and every process under it have ended."""
        try:
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
                if self._tmpdir is None:
                    os.environ.pop("TMPDIR", None)
                else:
                    os.environ["TMPDIR"] = self._tmpdir
                tempfile.tempdir = None
        finally:
            self._stop_jvm()

    @staticmethod
    def _stop_jvm() -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        started = _descendants(os.getpid())
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        _reap(started)

    # ------------------------------------------------------------- setup --

    def prepare(self, prepare) -> tuple[float, object]:
        """Run ``prepare(dir)`` into a fresh directory; (seconds, its state)."""
        d = os.path.join(self.work, "inputs")
        os.makedirs(d)
        t0 = time.perf_counter()
        state = prepare(d)
        return time.perf_counter() - t0, state

    # -------------------------------------------------------------- loop --

    def timed_loop(self, n_ops: int, op, check, unit: int = 1, min_ops: int = 0) -> Loop:
        """Closed loop, one caller: run ``op(i)`` for i = 0, 1, ... until
        ``--seconds`` have passed and at least ``min_ops`` ops have run, or
        the inputs run out, stopping only after a whole number of ``unit``
        ops. ``op`` returns the op id;
        ``check(i, loop)`` runs untimed after each op and returns a list of
        problems."""
        loop = Loop()
        t_start = time.perf_counter()
        i = 0
        while i < n_ops and (i % unit or i < min_ops
                             or time.perf_counter() - t_start < self.args.seconds):
            t0 = time.perf_counter()
            with self.span("op") as s:
                try:
                    op_id = op(i, loop)
                    err = None
                except Exception as e:  # an op that raises counts as failed
                    op_id, err = f"op{i}", f"op {i} raised {type(e).__name__}: {e}"
                if s is not None:
                    s.op = op_id
                    for child in self.tracer.spans[s.sid + 1:]:
                        child.op = op_id
            loop.latencies.append(time.perf_counter() - t0)
            loop.op_ids.append(op_id)
            problems = [err] if err else check(i, loop)
            if problems:
                loop.failed += 1
                loop.problems += problems
            i += 1
        loop.wall_s = time.perf_counter() - t_start
        return loop

    # ----------------------------------------------------------- metrics --

    def result(self, setup_s: float, loop: Loop, final_problems: list[str],
               properties: dict, extra: dict, p50_s: float | None = None) -> tuple[dict, dict]:
        """(last-line result, report line). ``p50_s`` overrides the median of
        the op latencies (analytics takes the median of per-query medians)."""
        n = len(loop.latencies)
        # the end-of-run checks (sink state, warm-up op) count as one more op
        failed = loop.failed + (1 if final_problems else 0)
        attempted = n + 1
        problems = loop.problems + final_problems
        rss = {"python": _vm_hwm_kb(os.getpid()) / 1024.0, "jvm": _vm_hwm_kb(self.jvm_pid) / 1024.0}
        heap = self.heap_mb()
        report = {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace, "ops": n, "op_ids": loop.op_ids,
            "run_s": loop.wall_s, "op_latencies_s": loop.latencies,
            "failed_ops_ratio": failed / attempted,
            "problems": problems[:20], "input": properties, **extra,
            "rss_mb": rss, "heap_mb": heap,
        }
        units = PER_LAYER if self.args.trace else END_TO_END
        if self.args.trace:
            metrics = self.layer_metrics(loop)
            metrics["memory.peak_rss_mb"] = sum(rss.values())
            metrics["memory.peak_heap_mb"] = heap["peak"]
            report["spans"] = self.tracer.dump()
        else:
            if p50_s is None:
                p50_s = statistics.median(loop.latencies)
            metrics = {
                "setup_s": setup_s,
                "op_latency_p50_s": p50_s,
                "ops_per_s": n / sum(loop.latencies),
            }
        result = {
            "correct": not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        return result, report

    def layer_metrics(self, loop: Loop) -> dict:
        tr = self.tracer
        tr.harvest(time.time() - time.perf_counter())
        selft = tr.self_times()
        ops = [s for s in tr.spans if s.name == "op"]
        op_ids = {s.sid for s in ops}
        op_time = sum(s.end - s.start for s in ops)
        n = max(1, len(ops))

        def under_op(s) -> bool:
            p = s.parent
            while p is not None:
                if p in op_ids:
                    return True
                p = tr.spans[p].parent
            return False

        timed = [s for s in tr.spans if s.sid in op_ids or under_op(s)]
        layer = [s for s in timed if s.sid not in op_ids]

        def pick(lay, call):
            return [s for s in layer if s.layer == lay and (call is None or s.call == call)]

        m = {"session.start_s": self.session_start_s,
             "trace.overhead_share": tr.overhead_s / op_time,
             "trace.coverage": sum(selft[s.sid] for s in layer) / op_time}
        for name, (lay, call) in LAYER_SHARES.items():
            m[name] = sum(selft[s.sid] for s in pick(lay, call)) / op_time
        for name, (lay, call) in LAYER_JOBS.items():
            m[name] = sum(len(s.jobs) for s in pick(lay, call)) / n
        for key in ("stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
            m[f"spark.{key}_per_op"] = sum(s.counts.get(key, 0) for s in timed) / n
        m["spark.jobs_per_op"] = sum(len(s.jobs) for s in timed) / n
        for name in LAYER_COUNTS:
            m[name] = loop.counts.get(name, 0) / n
        upserted = loop.counts.get("sources.writers.upserted_rows_per_op", 0)
        writer_s = sum(selft[s.sid] for s in pick("sources.writers", None))
        m["sources.writers.upsert_rows_per_s"] = upserted / writer_s if writer_s else 0.0
        changed = (loop.counts.get("operators.merge.rows_updated_per_op", 0)
                   + loop.counts.get("operators.merge.rows_inserted_per_op", 0))
        rewritten = loop.counts.get("sources.txn_table.rows_rewritten_per_op", 0)
        m["sources.txn_table.write_amplification"] = rewritten / changed if changed else 0.0
        read = loop.counts.get("streaming.cdc.rows_read_per_op", 0)
        m["streaming.cdc.useful_ratio"] = changed / read if read else 0.0
        m["sources.txn_table.live_files"] = loop.counts.get("sources.txn_table.live_files", 0)
        return m


def commit_delta(table, v_from: int, v_to: int) -> dict:
    """Files and rows a TxnTable commit range added and removed, from the
    table's public file listing."""
    before = {f.path: f.rows for f in table.files(v_from)} if v_from >= 0 else {}
    after = {f.path: f.rows for f in table.files(v_to)}
    added = {p: r for p, r in after.items() if p not in before}
    removed = {p: r for p, r in before.items() if p not in after}
    return {
        "files_added": len(added), "files_removed": len(removed),
        "rows_added": sum(added.values()), "rows_removed": sum(removed.values()),
        "bytes_added": sum(os.path.getsize(os.path.join(table.path, p)) for p in added),
    }


def stored_bytes_per_row(table) -> float:
    files = table.files()
    rows = sum(f.rows for f in files)
    size = sum(os.path.getsize(os.path.join(table.path, f.path)) for f in files)
    return size / rows if rows else 0.0
