"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout of the program:

    python3 telbench/run.py --workload telemetry_queries --seed 1 --seconds 14 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: every end-to-end
metric with ``--trace 0``, every per-layer metric with ``--trace 1``. The
line before it, starting with ``detail:``, names failed operations and
gives context (sample counts, plan digest, calibration probes).

Each run works in a private directory under ``.telbench/`` of the
checkout, with its own copy of the input tables, so the program builds its
fixtures and indexes from nothing. The directory, the fixtures and every
process the run started are removed before it exits, also on SIGTERM.
Oracle results are kept in ``.telbench/cache`` across runs.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("registry_queries", "ingest_stream")
SF = 0.01
DATA_SEED = 42

# The layers the traced units of each workload must reach (spans for the
# program's layers, trackers read for Catalyst, jobs for execution,
# micro-batches for streaming), and the layers its set-up must reach while
# it builds fixtures, indexes and the stream. A traced run reports the two
# apart, so a layer that only set-up calls is not taken for one the timed
# units use.
WORKLOAD_LAYERS = {
    "registry_queries": (
        "tables", "plans", "sources", "functions.cachelife",
        "operators.aggregations", "operators.battery", "operators.chunking",
        "operators.controllers", "operators.counters", "operators.dedup",
        "operators.ingest", "operators.joins", "operators.multimodal",
        "operators.opq_rotations",
        "operators.packing", "operators.profiling", "operators.sampling",
        "operators.scheduling", "operators.sharding", "operators.similarity",
        "operators.sketches", "operators.textops", "operators.tokenize",
        "operators.tsmatch", "operators.urlops", "spark.catalyst", "spark.exec",
    ),
    "ingest_stream": (
        "streaming", "operators.ingest", "operators.maintenance",
        "operators.aggregations", "spark.exec",
    ),
}
SETUP_LAYERS = {
    "registry_queries": ("session", "tables", "operators.clustering", "operators.maintenance"),
    "ingest_stream": ("session", "streaming", "operators.ingest", "operators.maintenance"),
}

END_TO_END = {
    "setup_s": "s",
    "op_gmean_s": "s",
    "read_gmean_s": "s",
    "lap_s": "s",
}


def _per_layer() -> dict[str, str]:
    from telbench.spans import OPERATOR_LAYERS

    units = {
        "peak_rss_mb": "MB",
        "session.get_spark_s": "s",
        "tables.load_table_s": "s",
        "tables.load_table_calls": "count",
        "tables.load_table_jobs": "count",
        "tables.fixture_build_s": "s",
        "plans.build_s": "s",
        "plans.build_jobs": "count",
        "plans.scans": "count",
        "plans.exchanges": "count",
        "plans.plan_kb": "KB",
    }
    units.update({f"{layer}.call_s": "s" for layer in OPERATOR_LAYERS})
    units.update({
        "sources.call_s": "s",
        "functions.cachelife.release_s": "s",
        "functions.cachelife.released_frames": "count",
        "spark.catalyst.analysis_s": "s",
        "spark.catalyst.optimization_s": "s",
        "spark.catalyst.planning_s": "s",
        "spark.exec.wall_s": "s",
        "spark.exec.jobs": "count",
        "spark.exec.stages": "count",
        "spark.exec.tasks": "count",
        "spark.exec.failed_tasks": "count",
        "spark.exec.executor_run_s": "s",
        "spark.exec.executor_cpu_s": "s",
        "spark.exec.gc_s": "s",
        "spark.exec.scheduler_delay_s": "s",
        "spark.exec.busy_frac": "frac",
        "spark.exec.shuffle_read_mb": "MB",
        "spark.exec.shuffle_write_mb": "MB",
        "spark.exec.spill_mb": "MB",
        "spark.exec.python_mb": "MB",
        "streaming.trigger_s": "s",
        "streaming.add_batch_s": "s",
        "streaming.query_planning_s": "s",
        "streaming.wal_commit_s": "s",
        "streaming.queue_wait_s": "s",
        "streaming.input_rows": "count",
        "streaming.state_rows": "count",
        "streaming.state_mem_mb": "MB",
        "streaming.watermark_dropped_rows": "count",
        "streaming.dup_dropped_rows": "count",
        "operators.ingest.refresh_files_read": "count",
        "operators.ingest.refresh_read_frac": "frac",
        "operators.ingest.table_files": "count",
        "operators.ingest.table_mb": "MB",
        "operators.maintenance.partitions_compacted": "count",
        "operators.maintenance.files_before": "count",
        "operators.maintenance.files_after": "count",
        "operators.maintenance.rewritten_mb": "MB",
        "operators.maintenance.rewrite_amp": "frac",
        "trace.overhead_frac": "frac",
    })
    return units


def _seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat: start time since boot
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _wait_gone(pids: set[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Run:
    """One benchmark run: its private directories, its session, and what
    it records about its layers."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool,
                 sf: float = SF):
        self.root = root
        self.sf = sf
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.workdir = os.path.join(root, ".telbench", f"run-{os.getpid()}")
        self.cache_dir = os.path.join(root, ".telbench", "cache")
        self.data_dir = os.path.join(self.workdir, "data", f"sf{sf}")
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = None
        self.spark = None
        self.data_digest = ""
        self.oracle_s = 0.0
        self.traced_units: list[tuple[int, int, float, float]] = []
        self.released_frames = 0
        self.detail: dict = {"workload": workload, "seed": seed, "cores": self.cores, "sf": sf}
        self._unit_mark: tuple[int, float] | None = None
        if trace:
            from telbench.spans import Tracer

            self.tracer = Tracer()

    # ---- set-up ---------------------------------------------------------
    def prepare(self) -> None:
        """Private directories and environment, then the input tables."""
        from telbench import datagen

        for sub in ("tmp", "local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.workdir, sub), exist_ok=True)
        tmp = os.path.join(self.workdir, "tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.workdir, "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ.pop("SPARK_GRAFT_MASTER", None)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # Python workers import the program (and its vendored protobuf shim)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH", "")) if p
        )
        if self.tracer is not None:
            self.tracer.install()
        datagen.write_tables(self.data_dir, self.sf, DATA_SEED)
        self.data_digest = datagen.digest(self.data_dir)

    def fill_oracles(self, names: list[str]) -> None:
        """Compute missing oracle results in a process of their own; the
        time it takes goes into no metric."""
        from telbench import oracle

        missing = [
            n for n in names
            if not os.path.exists(oracle.cache_path(self.cache_dir, n, self.data_digest))
        ]
        if not missing:
            return
        t0 = time.monotonic()
        subprocess.run(
            [sys.executable, os.path.join(HERE, "oracle.py"), self.data_dir,
             self.data_digest, self.cache_dir, *missing],
            cwd=self.root, check=True, stdout=sys.stderr,
        )
        self.oracle_s += time.monotonic() - t0

    def start_session(self) -> None:
        from homelogging_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.workdir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.workdir, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if self.tracer is not None:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.workdir, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark("telbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm_pid = self.spark.sparkContext._gateway.proc.pid

    # ---- timing helpers used by the workloads ---------------------------
    def units(self, nominal_s: float) -> int:
        return max(1, round(self.seconds / nominal_s))

    def schedule(self, n: int) -> list[bool | None]:
        """What each timed unit is: traced (True), untraced (False), or an
        untraced warm-up that no figure uses (None). An untraced run traces
        none. A traced run first runs one warm-up unit, so the drift right
        after set-up does not land on the first pair, then at least two
        pairs of an untraced and a traced unit in ABBA order (untraced
        first), so ``trace.overhead_frac`` compares neighbours and a linear
        drift cancels over the pairs."""
        if self.tracer is None:
            return [False] * n
        pairs = [(False, True) if i % 2 == 0 else (True, False) for i in range(max(n, 2))]
        return [None] + [t for pair in pairs for t in pair]

    def begin_timed(self) -> None:
        self.detail["setup_wall_s"] = round(_seconds_since_process_start(), 3)
        self.setup_s = _seconds_since_process_start() - self.oracle_s

    def label(self, group: str | None) -> None:
        """Name what runs next: the span label, and in a traced run the
        job group of the Spark jobs the calling thread fires."""
        if self.tracer is None or not self.tracer.enabled:
            return
        self.tracer.label = group or ""
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, group)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def span(self, layer: str, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name)

    def traced_unit_begin(self) -> None:
        if self.tracer is not None:
            self.tracer.enabled = True
            self._unit_mark = (len(self.tracer.spans), time.time())

    def traced_unit_end(self) -> None:
        if self.tracer is not None:
            self.label(None)
            idx, t0 = self._unit_mark
            self.traced_units.append((idx, len(self.tracer.spans), t0, time.time()))
            self.tracer.enabled = False

    def log(self, msg: str) -> None:
        print(f"telbench: {msg}", file=sys.stderr, flush=True)

    def normalize_plan(self, plan: str) -> str:
        """A plan without what differs between runs of the same plan: the
        run's private paths, expression, plan and RDD ids, codegen stage
        numbers and the call sites of RDDs."""
        from homelogging_spark.tables import _fixture_path

        fixture_tag = os.path.basename(_fixture_path(self.data_dir, "x"))[2:]
        plan = plan.replace(self.workdir, "<run>").replace(self.root, "<root>")
        plan = plan.replace(fixture_tag, "<data>")
        plan = re.sub(r"RDD\[\d+\] at [^,\]]*", "RDD", plan)
        return re.sub(r"#\d+|plan_id=\d+|codegen id : \d+|\*\(\d+\)", "#", plan)

    # ---- summaries the workloads report ----------------------------------
    @staticmethod
    def gmean(values) -> float:
        """The geometric mean, or 0 when there is no sample because every
        operation failed (the run then reports ``correct: false``)."""
        values = list(values)
        return statistics.geometric_mean(values) if values else 0.0

    @staticmethod
    def median(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    @staticmethod
    def overhead_frac(traced_s: list[float], plain_s: list[float]) -> float:
        """Mean traced unit over mean untraced unit of the same traced run,
        minus 1; 0 when either side has no completed unit. The event log is
        on for the whole traced run, so its cost is on both sides and not in
        the figure."""
        if not traced_s or not plain_s:
            return 0.0
        return statistics.mean(traced_s) / statistics.mean(plain_s) - 1.0

    # ---- metrics --------------------------------------------------------
    def peak_rss_mb(self) -> float:
        return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(self._jvm_pid)

    def layer_metrics(self, layers: dict) -> dict[str, float]:
        """Per-layer figures per traced unit (lap or maintenance period):
        spans for the program's layers, the event log for execution."""
        from telbench import eventlog
        from telbench.spans import OPERATOR_LAYERS

        tr = self.tracer
        n = max(len(self.traced_units), 1)
        merged: dict[tuple[str, str], list] = {}
        for since, until, _, _ in self.traced_units:
            for key, v in tr.self_times(since, until).items():
                acc = merged.setdefault(key, [0.0, 0, 0.0])
                for i in range(3):
                    acc[i] += v[i]

        def self_s(layer: str, name: str | None = None) -> float:
            return sum(v[0] for (l, f), v in merged.items()
                       if l == layer and (name is None or f == name)) / n

        first_timed = self.traced_units[0][0] if self.traced_units else len(tr.spans)
        setup = tr.spans[:first_timed]
        out = dict.fromkeys(_per_layer(), 0.0)
        out["session.get_spark_s"] = sum(s[3] - s[2] for s in setup if s[0] == "session" and s[3])
        # fixture builds: the outermost tables.*_table calls of the set-up
        out["tables.fixture_build_s"] = sum(
            s[3] - s[2] for s in setup
            if s[0] == "tables" and s[1].endswith("_table") and s[3]
            and not (s[4] >= 0 and tr.spans[s[4]][0] == "tables"
                     and tr.spans[s[4]][1].endswith("_table"))
        )
        out["tables.load_table_s"] = self_s("tables", "load_table")
        out["tables.load_table_calls"] = merged.get(("tables", "load_table"), [0, 0])[1] / n
        out["plans.build_s"] = self_s("plans")
        for layer in OPERATOR_LAYERS:
            out[f"{layer}.call_s"] = self_s(layer)
        out["sources.call_s"] = self_s("sources")
        out["functions.cachelife.release_s"] = self_s("functions.cachelife", "release_caches")
        out["functions.cachelife.released_frames"] = self.released_frames / n

        windows = [(t0, t1) for _, _, t0, t1 in self.traced_units]
        load_spans = [
            (s[2], s[3]) for since, until, _, _ in self.traced_units
            for s in tr.spans[since:until] if s[0] == "tables" and s[1] == "load_table" and s[3]
        ]
        jobs = eventlog.parse(os.path.join(self.workdir, "eventlog"))

        def traced(job) -> bool:
            return any(a <= job.submit_s <= b for a, b in windows)

        out["tables.load_table_jobs"] = sum(
            1 for j in jobs if traced(j) and any(a <= j.submit_s <= b for a, b in load_spans)
        ) / n
        out["plans.build_jobs"] = sum(
            1 for j in jobs if traced(j) and j.group.endswith(":build")
        ) / n
        ex = eventlog.total(
            jobs, lambda j: traced(j) and not j.group.endswith((":build", ":check"))
        )
        for k, v in ex.items():
            out[f"spark.exec.{k}"] = v / n
        # calls per layer in the traced units, and apart from them the
        # calls set-up made (before the first timed unit, after install)
        calls = layers.pop("calls", {})
        out.update(layers)
        for since, until, _, _ in self.traced_units:
            for s in tr.spans[since:until]:
                calls[s[0]] = calls.get(s[0], 0) + 1
        calls["spark.exec"] = int(out["spark.exec.jobs"] * n)
        self.detail["layer_calls"] = dict(sorted(calls.items()))
        setup_calls: dict[str, int] = {}
        for s in setup:
            setup_calls[s[0]] = setup_calls.get(s[0], 0) + 1
        self.detail["setup_layer_calls"] = dict(sorted(setup_calls.items()))
        wall = out["spark.exec.wall_s"]
        out["spark.exec.busy_frac"] = out["spark.exec.executor_run_s"] / (wall * self.cores) if wall else 0.0
        self.detail["jobs_total"] = len(jobs)
        return out

    # ---- tear-down ------------------------------------------------------
    def close(self) -> None:
        """Stop the session and every process this run started, then remove
        the run's directory and the fixtures the program built for it."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            procs = _descendants(os.getpid())
            try:
                self.spark.stop()
            finally:
                proc = gateway.proc
                gateway.shutdown()
                if proc.stdin is not None:
                    proc.stdin.close()  # the gateway JVM exits at EOF on stdin
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
                _wait_gone(procs, 30)
            self.spark = None
        self.remove_files()

    def remove_files(self) -> None:
        fixture_root = os.path.join(self.root, "spark-warehouse")
        if os.path.isdir(fixture_root):
            from homelogging_spark.tables import _fixture_path

            tag = os.path.basename(_fixture_path(self.data_dir, "x"))[1:]
            for name in os.listdir(fixture_root):
                if tag in name:
                    p = os.path.join(fixture_root, name)
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        os.remove(p)
            if not os.listdir(fixture_root) and getattr(self, "_made_fixture_root", False):
                os.rmdir(fixture_root)
        shutil.rmtree(self.workdir, ignore_errors=True)
        bench_dir = os.path.dirname(self.workdir)
        if os.path.isdir(bench_dir) and not os.listdir(bench_dir):
            os.rmdir(bench_dir)


def _calibration(spark) -> dict:
    from homelogging_spark.functions.envprobe import calibration_probes

    return {k: round(v, 4) for k, v in calibration_probes(spark, n_iters=1).items()}


def execute(run: Run) -> dict:
    run.prepare()
    if run.workload == "ingest_stream":
        from telbench import ingest as workload
    else:
        from telbench import queries as workload
    res = workload.run_workload(run, run.workload)
    run.detail.update(res["detail"])
    run.detail["failures"] = res["failures"]
    t0 = time.monotonic()
    run.detail["calibration"] = _calibration(run.spark)
    run.detail["calibration_s"] = round(time.monotonic() - t0, 3)
    rss = run.peak_rss_mb()
    if run.tracer is not None:
        # the event log is complete once the session has stopped
        run.spark.stop()
        metrics = dict(run.layer_metrics(res["layers"]), peak_rss_mb=rss)
        units = _per_layer()
    else:
        metrics = dict(res["end_to_end"], setup_s=run.setup_s)
        units = END_TO_END
    run.detail["setup_s"] = round(run.setup_s, 3)
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF,
                    help="scale of the input tables (the self-tests use 0.001)")
    args = ap.parse_args(argv)

    if os.environ.get("PYTHONHASHSEED") != "0":
        # the registries build some column lists from sets: a fixed hash
        # seed makes their plans the same in every run
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    root = os.getcwd()
    needed = ("homelogging_spark/__init__.py", "tools/check_oracle.py")
    if not all(os.path.isfile(os.path.join(root, p)) for p in needed):
        print("telbench: run from the root of a checkout of the program "
              f"(missing {', '.join(needed)})", file=sys.stderr)
        return 2
    # import the program and this package from the checkout, never a
    # sibling module of this script by its bare name
    sys.path[0] = root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(root, args.workload, args.seed, args.seconds, bool(args.trace), args.sf)
    run._made_fixture_root = not os.path.isdir(os.path.join(root, "spark-warehouse"))
    try:
        result = execute(run)
    finally:
        t0 = time.monotonic()
        run.close()
        run.detail["teardown_s"] = round(time.monotonic() - t0, 3)
    print("detail: " + json.dumps(run.detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
