"""The ``ingest_stream`` workload: one poller gateway, writes beside reads.

A cycle is one poll tick of the (user, event type) devices of the
``events`` table (750 at sf 0.01), one reading per device per minute:

1. land the tick's batch as one JSON file, renamed into the landing
   directory so the stream never sees half a file;
2. wait until the one continuous stream (``read_reading_stream`` ->
   ``start_append_stream``) has committed it to the readings table, as a
   poller waits for ``SaveChanges``;
3. ``refresh_rollup`` for the dates the batch touched;
4. one fresh read: ``latest_per_key`` over the readings table.

``maintenance_cycle`` runs after every ``PERIOD`` cycles, and a run is made
of whole periods. The readings table starts with a seeded two-day
backfill, landed during set-up, so the refresh reads a fraction of the
table and the fresh read reads all of it.

Inputs stay inside the contract ``streaming/pipeline.py`` documents: a
late reading is at most ``LATE_TICKS`` minutes late (the watermark is 10
minutes), and a re-sent reading repeats its values, as a poller
re-reading a device's last record does.

Checks, outside the timed spans, after every cycle: the table holds exactly
the distinct (meter_id, series, ts) readings sent; the fresh read equals the
newest committed reading per (meter_id, series); the rollup equals an
hourly recompute from everything sent (``n`` exact, ``sum`` and ``avg``
within a relative 1e-9, since ``refresh_rollup`` promises no summation
order).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from telbench.datagen import EVENT_TYPES, n_users

# The traffic. Sourced: one reading per device per minute, the reference's
# base poll interval (BASELINE.md, ``TelemetryToRaven/LoggerService.cs:19``),
# and lateness of at most two ticks, its hard per-tick timeout at twice the
# base interval (BASELINE.md, ``LoggerService.cs:35``); a re-sent reading
# repeats its values, as the reference's retry-once wrapper re-appends a
# record (SURVEY.md ST9, ``LoggerService.cs:62-73``). Not sourced, chosen for
# the benchmark: how many readings are late or re-sent, how often
# maintenance runs (the reference runs it nightly from cron) and the size
# of the backfill. They set the dedup state, the watermark drops, the file
# counts and the rewrite volume the per-layer metrics report.
PERIOD = 6                  # cycles per maintenance call (chosen)
LATE_FRAC = 0.03            # readings delivered LATE_TICKS ticks late (chosen)
LATE_TICKS = 2              # hard timeout at 2x the base interval (sourced)
RESEND_FRAC = 0.05          # devices that re-send their previous reading (chosen)
BACKFILL_HOURS = 48         # hourly readings before the live ticks (chosen)
LIVE_DAY = pd.Timestamp("2024-02-03")
REL_TOL = 1e-9
# Nominal seconds of one period on 4 cores; a run measures
# round(--seconds / nominal) periods, at least one.
NOMINAL_PERIOD_S = 18.0
KEYS = ["meter_id", "series"]
# How often the gateway asks the stream whether its batch has committed
POLL_S = 0.005


class Poller:
    """Seeded readings, one batch per tick, and every distinct reading
    sent so far (what the readings table must hold)."""

    def __init__(self, seed: int, sf: float):
        self.rng = np.random.default_rng(seed)
        users = np.repeat(np.arange(n_users(sf)), len(EVENT_TYPES))
        self.meter = np.array([f"meters/{u}" for u in users])
        self.series = np.tile(np.array(EVENT_TYPES), n_users(sf))
        self.n = len(self.meter)
        self.offset_s = self.rng.integers(0, 60, self.n)  # each device's second in the minute
        # live ticks start at a seeded minute of LIVE_DAY, early enough that
        # no run crosses midnight
        self.start = LIVE_DAY + pd.Timedelta(minutes=int(self.rng.integers(0, 600)))
        self.tick = 0
        self.late: list[pd.DataFrame] = []
        self.last: pd.DataFrame | None = None
        self.sent = pd.DataFrame()

    def _readings(self, ts: np.ndarray, idx: np.ndarray) -> pd.DataFrame:
        value = np.round(self.rng.exponential(50.0, len(idx)), 2)
        return pd.DataFrame({
            "meter_id": self.meter[idx],
            "series": self.series[idx],
            "ts": ts,
            "value": value,
            "tag": np.where(value >= 50.0, "peak", "offpeak"),
        })

    def backfill(self) -> pd.DataFrame:
        """Hourly readings of every device for the BACKFILL_HOURS before
        LIVE_DAY."""
        hours = LIVE_DAY - pd.to_timedelta(np.arange(BACKFILL_HOURS, 0, -1), unit="h")
        idx = np.tile(np.arange(self.n), len(hours))
        ts = np.repeat(hours.values, self.n) + pd.to_timedelta(self.offset_s[idx], unit="s").values
        return self._remember(self._readings(ts, idx))

    def next_batch(self) -> pd.DataFrame:
        """The next tick: one reading per device, some held back to arrive
        late, plus re-sent copies of some devices' previous readings."""
        ts = (self.start + pd.Timedelta(minutes=self.tick)).to_datetime64()
        idx = np.arange(self.n)
        fresh = self._readings(ts + pd.to_timedelta(self.offset_s, unit="s").values, idx)
        held = self.rng.random(self.n) < LATE_FRAC
        self.late.append(fresh[held])
        parts = [fresh[~held]]
        if len(self.late) > LATE_TICKS:
            parts.append(self.late.pop(0))
        if self.last is not None:
            parts.append(self.last[self.rng.random(len(self.last)) < RESEND_FRAC])
        self.last = fresh[~held]
        self.tick += 1
        return self._remember(pd.concat(parts, ignore_index=True))

    def _remember(self, batch: pd.DataFrame) -> pd.DataFrame:
        self.sent = pd.concat([self.sent, batch], ignore_index=True).drop_duplicates(
            ["meter_id", "series", "ts"]
        )
        return batch


def _land(batch: pd.DataFrame, staging: str, landing: str, name: str) -> None:
    out = batch.assign(ts=batch["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S"))
    tmp = os.path.join(staging, name)
    out.to_json(tmp, orient="records", lines=True)
    os.rename(tmp, os.path.join(landing, name))


def _files(path: str, dates=None) -> tuple[int, int]:
    """Data files and their bytes in a ``series=/date=`` table, optionally
    only in the given dates' partitions (hidden maintenance directories and
    marker files excluded)."""
    n = size = 0
    for d, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        if dates is not None and not any(d.endswith(f"date={x}") for x in dates):
            continue
        for f in names:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Gateway:
    def __init__(self, run):
        self.run = run
        root = os.path.join(run.workdir, "stream")
        self.landing = os.path.join(root, "landing")
        self.staging = os.path.join(root, "staging")
        self.table = os.path.join(root, "readings")
        self.rollup = os.path.join(root, "rollup")
        self.checkpoint = os.path.join(root, "checkpoint")
        for d in (self.landing, self.staging):
            os.makedirs(d, exist_ok=True)
        self.poller = Poller(run.seed, run.sf)
        self.query = None
        self.rows_landed = 0
        self.rows_seen = 0
        self.progress: dict[tuple[int, str], dict] = {}
        self._last_key = None
        self.n_batches = 0
        self.failures: list[str] = []

    def start(self) -> None:
        from homelogging_spark.streaming.pipeline import read_reading_stream, start_append_stream

        stream = read_reading_stream(self.run.spark, self.landing)
        self.query = start_append_stream(stream, self.table, self.checkpoint, available_now=False)

    def _poll_progress(self) -> None:
        # an idle trigger reports the id of the batch it waits for, so a
        # progress is known by its batch id and its trigger start.
        # ``recentProgress`` costs one gateway call per progress kept, so it
        # is read only when the last progress changed: a tight loop of it
        # would take driver cores from the batches being timed.
        last = self.query.lastProgress
        key = last and (last["batchId"], last["timestamp"])
        if key == self._last_key:
            return
        self._last_key = key
        for p in self.query.recentProgress:
            key = (p["batchId"], p["timestamp"])
            if key not in self.progress:
                self.progress[key] = p
                self.rows_seen += p["numInputRows"]

    def land_and_wait(self, batch: pd.DataFrame, timeout: float = 120.0) -> float:
        """Land a batch and return the seconds until its commit."""
        self._wait_idle()
        name = f"batch-{self.n_batches:05d}.json"
        self.n_batches += 1
        self.rows_landed += len(batch)
        t0 = time.time()
        self.landed_at = t0
        _land(batch, self.staging, self.landing, name)
        deadline = time.monotonic() + timeout
        while self.rows_seen < self.rows_landed:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if time.monotonic() > deadline:
                raise TimeoutError(f"{name} not committed after {timeout} s")
            time.sleep(POLL_S)
            self._poll_progress()
        return time.time() - t0

    def _wait_idle(self) -> None:
        """Wait until the stream has no trigger running. A data batch
        that moves the watermark is followed by a no-data batch that evicts
        state; waiting for it keeps it out of the next batch's latency."""
        while self.query.status["isTriggerActive"]:
            time.sleep(POLL_S)
        self._poll_progress()

    def refresh(self, dates: list[str]) -> float:
        from homelogging_spark.operators.ingest import refresh_rollup

        t0 = time.perf_counter()
        refresh_rollup(self.run.spark, self.table, self.rollup, changed_dates=dates)
        return time.perf_counter() - t0

    def fresh_read(self) -> tuple[float, pd.DataFrame]:
        from homelogging_spark.operators.aggregations import latest_per_key
        from homelogging_spark.operators.ingest import read_readings

        t0 = time.perf_counter()
        pdf = latest_per_key(read_readings(self.run.spark, self.table), KEYS).toPandas()
        return time.perf_counter() - t0, pdf

    def maintain(self) -> tuple[float, dict]:
        from homelogging_spark.operators.maintenance import maintenance_cycle

        before = _files(self.table)
        self._wait_idle()
        t0 = time.perf_counter()
        log = maintenance_cycle(self.run.spark, self.table)
        took = time.perf_counter() - t0
        after = _files(self.table)
        rewritten = sum(
            _files(os.path.join(self.table, p))[1] for p in log["compacted"]
        )
        figs = {
            "partitions_compacted": len(log["compacted"]),
            "files_before": before[0],
            "files_after": after[0],
            "rewritten_mb": rewritten / 2**20,
            "bytes_before": before[1],
            "bytes_after": after[1],
        }
        return took, figs

    # ---- checks (untimed) ----------------------------------------------
    def check(self, fresh: pd.DataFrame) -> list[str]:
        wrong = []
        want = _canonical(self.poller.sent, ["meter_id", "series", "ts"])
        if not _canonical(pq.read_table(self.table).to_pandas(), ["meter_id", "series", "ts"]).equals(want):
            wrong.append("readings table differs from the distinct readings sent")
        newest = _canonical(want.sort_values("ts").groupby(KEYS).tail(1), KEYS)
        if not _canonical(fresh, KEYS).equals(newest):
            wrong.append("fresh read differs from the newest reading per key")
        hourly = want.assign(bucket=want["ts"].dt.floor("h")).groupby(
            KEYS + ["bucket"], as_index=False).agg(
            n=("value", "size"), sum_value=("value", "sum"), avg_value=("value", "mean"))
        rollup = pq.read_table(self.rollup).to_pandas()
        got = rollup[KEYS + ["bucket", "n", "sum_value", "avg_value"]].astype(
            {"meter_id": str, "series": str, "bucket": "datetime64[ns]"})
        m = hourly.merge(got, on=KEYS + ["bucket"], how="outer", suffixes=("", "_got"), indicator=True)
        ok = bool((m["_merge"] == "both").all() and (m["n"] == m["n_got"]).all())
        for c in ("sum_value", "avg_value"):
            ok = ok and bool(np.all(np.abs(m[c] - m[f"{c}_got"]) <= REL_TOL * np.abs(m[c])))
        if not ok:
            wrong.append("rollup differs from an hourly recompute of everything sent")
        return wrong

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self._poll_progress()


def run_workload(run, workload: str) -> dict:
    gw = Gateway(run)
    run.start_session()
    run.label("setup")
    gw.start()
    # set-up: the backfill, its rollup and compaction, then one warm cycle
    backfill = gw.poller.backfill()
    gw.land_and_wait(backfill)
    gw.refresh(_dates(backfill))
    gw.maintain()
    batch = gw.poller.next_batch()
    gw.land_and_wait(batch)
    gw.refresh(_dates(batch))
    setup_failures = gw.check(gw.fresh_read()[1])
    first_batch = gw.n_batches

    loop = _Periods(run, gw)
    if run.tracer is not None:
        run.tracer.enabled = False
    run.begin_timed()
    n_periods = run.units(NOMINAL_PERIOD_S)
    periods, untraced = [], []
    for traced in run.schedule(n_periods):
        if traced:
            run.traced_unit_begin()
            periods.append(loop.period(traced=True))
            run.traced_unit_end()
        elif traced is None:
            loop.period(traced=False)  # a warm-up period of a traced run
        else:
            (untraced if run.tracer is not None else periods).append(loop.period(traced=False))
    gw.stop()
    if setup_failures:
        loop.failed += 1
        loop.attempted += 1
        gw.failures.extend(f"set-up: {w}" for w in setup_failures)

    ok = [c for c in loop.cycles if "read_s" in c]
    commit_s = sum(c["commit_s"] for c in ok)
    result = {
        "attempted": loop.attempted,
        "failed": loop.failed,
        "failures": gw.failures,
        "end_to_end": {
            "op_gmean_s": run.gmean(c["commit_s"] for c in ok),
            "read_gmean_s": run.gmean(c["read_s"] for c in ok),
            "lap_s": statistics.median(periods),
        },
        "detail": {
            "periods": n_periods,
            "batches": len(ok),
            "first_batch": first_batch,
            "refresh_p50_s": round(run.median(c["refresh_s"] for c in ok), 4),
            "maintenance_p50_s": round(run.median(m["took_s"] for m in loop.maint), 4),
            "rows_per_s": round(sum(c["rows"] for c in ok) / commit_s, 1) if commit_s else 0.0,
            "cycle_s": [[round(c[k], 3) for k in ("commit_s", "refresh_s", "read_s")]
                        for c in ok],
            "maintenance_s": [round(m["took_s"], 3) for m in loop.maint],
        },
    }
    if run.tracer is not None:
        result["layers"] = _layers(gw, [c for c in ok if c["traced"]],
                                   [m for m in loop.maint if m["traced"]], len(periods))
        result["layers"]["trace.overhead_frac"] = run.overhead_frac(periods, untraced)
        result["detail"]["overhead_periods"] = {
            "traced": [round(t, 3) for t in periods], "untraced": [round(t, 3) for t in untraced]}
    return result


def _dates(batch: pd.DataFrame) -> list[str]:
    return sorted(batch["ts"].dt.strftime("%Y-%m-%d").unique())


class _Periods:
    """Maintenance periods: ``PERIOD`` checked cycles, then one checked
    maintenance call."""

    def __init__(self, run, gw: Gateway):
        self.run = run
        self.gw = gw
        self.cycles: list[dict] = []
        self.maint: list[dict] = []
        self.attempted = self.failed = 0
        self.seen = set(gw.progress)
        self.last_bytes = _files(gw.table)[1]

    def _fail(self, what: str, wrong: list[str]) -> None:
        self.failed += 1
        self.gw.failures.extend(f"{what}: {w}" for w in wrong)

    def period(self, traced: bool) -> float:
        """Run one period; return what a poll tick costs the gateway: the
        median cycle plus the maintenance call's share of the period."""
        run, gw = self.run, self.gw
        cycle_s, maint_s = [], 0.0
        for _ in range(PERIOD):
            self.attempted += 1
            batch = gw.poller.next_batch()
            dates = _dates(batch)
            c = {"traced": traced, "rows": len(batch)}
            self.cycles.append(c)
            try:
                run.label("cycle:commit")
                c["commit_s"] = gw.land_and_wait(batch)
                c["landed_at"] = gw.landed_at
                c["batch_ids"] = sorted(set(gw.progress) - self.seen)
                self.seen.update(c["batch_ids"])
                run.label("cycle:refresh")
                c["refresh_s"] = gw.refresh(dates)
                c["files_read"] = _files(gw.table, dates)[0]
                c["table_files"], c["table_bytes"] = _files(gw.table)
                run.label("cycle:read")
                c["read_s"], fresh = gw.fresh_read()
                run.label("cycle:check")
                wrong = gw.check(fresh)
            except Exception as exc:  # a raised cycle is a failed operation
                run.log(f"cycle {len(self.cycles) - 1} raised {type(exc).__name__}: {exc}")
                wrong = [f"raised {type(exc).__name__}"]
            if wrong:
                self._fail(f"cycle {len(self.cycles) - 1}", wrong)
                c.pop("read_s", None)
                continue
            cycle_s.append(c["commit_s"] + c["refresh_s"] + c["read_s"])
        self.attempted += 1
        try:
            run.label("cycle:maintenance")
            took, figs = gw.maintain()
            figs.update(traced=traced, took_s=took,
                        ingested_bytes=figs["bytes_before"] - self.last_bytes)
            self.last_bytes = figs["bytes_after"]
            self.maint.append(figs)
            maint_s = took
            run.label("cycle:check")
            wrong = gw.check(gw.fresh_read()[1])
        except Exception as exc:
            run.log(f"maintenance raised {type(exc).__name__}: {exc}")
            wrong = [f"raised {type(exc).__name__}"]
        if wrong:
            self._fail(f"maintenance {len(self.maint)}", wrong)
        return statistics.median(cycle_s) + maint_s / PERIOD if cycle_s else 0.0


def _canonical(df: pd.DataFrame, order: list[str]) -> pd.DataFrame:
    """Readings with plain dtypes (partition columns come back as
    categories, timestamps in several units), sorted by ``order``."""
    out = df[["meter_id", "series", "ts", "value", "tag"]].astype(
        {"meter_id": str, "series": str, "ts": "datetime64[ns]", "value": float, "tag": str})
    return out.sort_values(order, kind="mergesort").reset_index(drop=True)


def _layers(gw: Gateway, cycles: list[dict], maint: list[dict], n: int) -> dict[str, float]:
    """Streaming figures from ``StreamingQueryProgress`` of the traced
    batches; ingest and maintenance figures from the table's files. Sums
    are per period; state sizes are the last batch's."""
    out: dict[str, float] = {}
    progs = [gw.progress[b] for c in cycles for b in c["batch_ids"]]
    data = [p for p in progs if p["numInputRows"] > 0]
    out["calls"] = {"streaming": len(progs)}

    def dur(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in progs) / 1e3 / n

    out["streaming.trigger_s"] = dur("triggerExecution")
    out["streaming.add_batch_s"] = dur("addBatch")
    out["streaming.query_planning_s"] = dur("queryPlanning")
    out["streaming.wal_commit_s"] = dur("walCommit")
    waits = []
    for c in cycles:
        for b in c["batch_ids"]:
            p = gw.progress[b]
            if p["numInputRows"] > 0:
                start = pd.Timestamp(p["timestamp"]).timestamp()
                waits.append(max(start - c["landed_at"], 0.0))
    out["streaming.queue_wait_s"] = sum(waits) / n
    out["streaming.input_rows"] = sum(p["numInputRows"] for p in data) / n
    ops = [p["stateOperators"][0] for p in progs if p.get("stateOperators")]
    if ops:
        out["streaming.state_rows"] = float(ops[-1]["numRowsTotal"])
        out["streaming.state_mem_mb"] = ops[-1]["memoryUsedBytes"] / 2**20
        out["streaming.watermark_dropped_rows"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops) / n
        out["streaming.dup_dropped_rows"] = sum(
            o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for o in ops) / n
    out["operators.ingest.refresh_files_read"] = sum(c["files_read"] for c in cycles) / n
    out["operators.ingest.refresh_read_frac"] = (
        sum(c["files_read"] for c in cycles) / max(sum(c["table_files"] for c in cycles), 1))
    out["operators.ingest.table_files"] = float(cycles[-1]["table_files"]) if cycles else 0.0
    out["operators.ingest.table_mb"] = cycles[-1]["table_bytes"] / 2**20 if cycles else 0.0
    for k in ("partitions_compacted", "files_before", "files_after", "rewritten_mb"):
        out[f"operators.maintenance.{k}"] = sum(m[k] for m in maint) / n
    ingested = sum(m["ingested_bytes"] for m in maint)
    out["operators.maintenance.rewrite_amp"] = (
        sum(m["rewritten_mb"] for m in maint) * 2**20 / ingested if ingested else 0.0)
    out["spark.exec.wall_s"] = sum(
        c["commit_s"] + c["refresh_s"] + c["read_s"] for c in cycles) / n + sum(
        m["took_s"] for m in maint) / n
    return out
