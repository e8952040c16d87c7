"""What every workload shares: the run's state and work directories,
the Spark session, operation records, tracing hooks, host-noise
anchors and the result line."""

from __future__ import annotations

import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "real_time_stream_processing_engine_spark"

END_TO_END = {
    "setup_s": "s",
    "op_best_mean_s": "s",
    "op_best_gmean_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "queries.build_self_s": "s",
    "queries.build_py4j_calls": "count",
    "queries.plan_s": "s",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "sources.read_text_lines_s": "s",
    "sources.catalog_ls_s": "s",
    "sources.catalog_merge_s": "s",
    "functions.lineage_cut_calls": "count",
    "functions.lineage_cut_s": "s",
    "operators.parse_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written_mb": "MB",
    "sinks.files_written": "count",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.batch_ms_mean": "ms",
    "streaming.add_batch_ms_mean": "ms",
    "streaming.query_planning_ms_mean": "ms",
    "streaming.wal_commit_ms_mean": "ms",
    "streaming.commit_offsets_ms_mean": "ms",
    "streaming.latest_offset_ms_mean": "ms",
    "streaming.state_commit_ms_mean": "ms",
    "streaming.state_partitions": "count",
    "streaming.state_memory_mb": "MB",
    "streaming.empty_batch_frac": "frac",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.core_idle_frac": "frac",
    "exec.failed_task_frac": "frac",
    "py4j.calls": "count",
    "trace.self_s": "s",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run: arguments, work directories, the
    operations attempted and the figures gathered."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.ops: list[dict] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.report: dict[str, object] = {}
        self.spark = None
        self.tracer = None
        self.exec_reader = None
        self.listener = None
        self.py4j_timed = 0
        self.trace_self_s = 0.0
        self._py4j_base = 0
        self._py4j_own = 0
        self._ticks = cpu_ticks()

    # -- files and session ---------------------------------------------

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare_dirs(self) -> None:
        """Fresh work tree; everything the program writes goes here, and
        a previous run's drop zone, results and checkpoints are gone."""
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "scratch", "warehouse"):
            os.makedirs(self.path(d))
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_GRAFT_SCRATCH"] = self.path("scratch")
        # Python workers import the package by name; they inherit this
        # process's environment, not its sys.path
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
        # both JVMs (spark-submit's launcher and the driver) keep their
        # temp files here; -XX:-UsePerfData: no hsperfdata file in /tmp
        jvm_opts = f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
        tmp_opt = f"spark.driver.extraJavaOptions={jvm_opts}"
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(p for p in (extra, tmp_opt) if p)
        import tempfile

        tempfile.tempdir = None

    def cleanup(self) -> None:
        """Stop the session, the JVM and every process started under this
        one, wait until each has ended, then delete the work tree."""
        try:
            if self.tracer is not None:
                self.tracer.close()
            if self.spark is not None:
                self.spark.stop()
        finally:
            stop_jvm()
            reap()
            shutil.rmtree(self.work, ignore_errors=True)

    def get_spark(self):
        from real_time_stream_processing_engine_spark import session

        spark = session.get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self.path("warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    # -- operations ----------------------------------------------------

    def op(self, name: str, latency: float | None, ok: bool, err: str | None = None) -> dict:
        rec = {"name": name, "latency": latency, "ok": ok}
        self.ops.append(rec)
        if err:
            log(f"FAILED {name}: {err}")
        elif latency is not None:
            log(f"op {name} {latency:.4f}")
        return rec

    # -- tracing -------------------------------------------------------

    def start_tracing(self) -> None:
        from spans import Tracer, install

        self.tracer = Tracer()
        install(self.tracer)

    def begin_timed(self) -> None:
        if self.trace:
            from spans import ExecReader

            self.exec_reader = ExecReader(self.spark)
            self.bookkeeping(self.exec_reader.skip_existing)
            self._py4j_base = self.tracer.py4j_calls
            self._py4j_own = 0

    def end_timed(self) -> None:
        if self.trace:
            self.py4j_timed = self.tracer.py4j_calls - self._py4j_base - self._py4j_own

    def bookkeeping(self, fn, *a):
        """Run tracer work (status-store reads, directory walks), keeping
        its time and py4j calls out of the program's figures."""
        t0 = time.monotonic()
        c0 = self.tracer.py4j_calls
        try:
            return fn(*a)
        finally:
            self._py4j_own += self.tracer.py4j_calls - c0
            self.trace_self_s += time.monotonic() - t0

    def finish_tracing(self, wall_s: float, batches: list[dict], extra: dict) -> None:
        from layers import assemble

        self.layers = assemble(self, wall_s, batches, extra)
        self.report["layer_self_s"] = {
            k: round(v, 4) for k, v in sorted(self.tracer.by_layer().items())
        }
        out = os.path.join(ROOT, ".perfbench_spans", f"{self.workload}-seed{self.seed}.jsonl")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        self.tracer.dump(out)
        self.report["spans"] = f"{len(self.tracer.spans)} written to {out}"

    # -- diagnostics ---------------------------------------------------

    def anchors(self, tag: str, sf_dir: str) -> None:
        """bench.py's calibration anchors plus load average: host-noise
        diagnostics, never gated."""
        try:
            if ROOT not in sys.path:
                sys.path.insert(0, ROOT)
            import bench

            calib = bench.calibrate(self.spark, sf_dir, reps=1)
        except Exception as e:  # a diagnostic must never abort the run
            calib = f"unavailable: {e}"
        load = [round(x, 2) for x in os.getloadavg()]
        self.report[f"calib_{tag}"] = calib
        self.report[f"loadavg_{tag}"] = load
        # share of CPU time the hypervisor gave to other guests since the
        # run started (pre) or since the pre anchors (post): a slow run
        # with high steal had a busy host
        ticks = cpu_ticks()
        if ticks and self._ticks:
            d = [b - a for a, b in zip(self._ticks, ticks)]
            self.report[f"cpu_steal_frac_{tag}"] = round(d[7] / max(sum(d), 1), 4)
        self._ticks = ticks

    def result(self) -> dict:
        attempted = len(self.ops)
        failed = sum(1 for o in self.ops if not o["ok"])
        wanted = PER_LAYER if self.trace else END_TO_END
        values = self.layers if self.trace else self.e2e
        missing = sorted(set(wanted) - set(values))
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        for k, v in sorted(self.report.items()):
            log(f"report {k} = {v}")
        if self.trace:  # traced end-to-end figures, for the tracing overhead
            for k in END_TO_END:
                log(f"traced {k} = {self.e2e[k]} {END_TO_END[k]}")
        for k in wanted:
            log(f"metric {k} = {values[k]} {wanted[k]}")
        log(f"ops attempted={attempted} failed={failed} "
            f"failed_frac={failed / max(attempted, 1):.4f}")
        return {
            "correct": attempted > 0 and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": wanted[k]} for k in wanted},
        }


def cpu_ticks() -> list[int] | None:
    """The machine's cumulative CPU ticks from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def child_subreaper() -> None:
    """Make this process the child subreaper of everything started under
    it (Linux): a process whose parent ends becomes this one's child, so
    ``reap`` can wait for it.  PySpark's launcher leaves such a process:
    the shell that spark-class forks to build the java command ends as a
    child of the JVM, which never waits for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def descendants() -> list[int]:
    """Every live process below this one (the JVM, the Python workers,
    a generator)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found: list[int] = []
    todo = list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def stop_jvm(timeout: float = 30.0) -> None:
    """End the JVM that PySpark launched and wait for it.  It exits by
    itself when its stdin closes, which otherwise happens only as this
    process exits, so it would outlive the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait()


def reap(timeout: float = 20.0) -> None:
    """Wait until no process started under this one is left, sending
    SIGTERM and then SIGKILL to any that outlive ``timeout``.  With
    ``child_subreaper`` in force every such process ends up a child of
    this one, so having no children left means none is running."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in descendants() if sig else ():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    time.sleep(0.05)
            except ChildProcessError:
                return
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def peak_rss_mb() -> float:
    """Sum of peak resident set (VmHWM) over this process and every
    live descendant (the JVM and the Python workers)."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
