"""The ``registry_queries`` workload: registered queries in seeded laps.

One closed-loop client builds each query (``QUERIES[name](spark, data)``,
the plans layer), executes it by collecting its rows (the analyst waits for
the result), releases its cached frames (``functions.cachelife``), and only
then moves to the next query. Outside the timed spans every collected
result is compared with its DuckDB oracle, and the executed plan is
recorded.

The workload runs a fixed set of 30 registered queries: 18 from the
HomeLogging surface (``TELEMETRY``) and 12 from the curation tier
(``CURATION``), chosen so that between them they call every operator
module, every fixture kind and the source parsers. All 100 registered
queries build fixtures and indexes for about 80 s per cold run on 4 cores,
which does not fit the benchmark's time budget.
"""

from __future__ import annotations

import hashlib
import random
import re
import time

from telbench import oracle

# The HomeLogging surface: bucketed, as-of, counter and battery queries,
# the source parsers and the fixture pipelines, one or two per operator
# module (cold / warm seconds per query measured on 4 cores at sf 0.01).
TELEMETRY = (
    "flagship_hourly_cost",     # the flagship EP1 cost analysis, 2.7 / 0.2
    "bucket_downsample_panel",  # aggregations: bucketed downsampling, 0.2 / 0.2
    "latest_per_key",           # aggregations: newest reading per key, 0.2 / 0.2
    "asof_price_join",          # joins: as-of join, 0.2 / 0.2
    "range_session_join",       # joins: bucketed range join, 0.2 / 0.2
    "skew_split_join",          # joins: hot-key split, 0.5 / 0.3
    "key_normalized_join",      # joins + the meters fixture (ingest.upsert_meters), 1.3 / 0.2
    "counter_rollover",         # counters: rollover correction, 0.5 / 0.2
    "pulse_accumulate",         # counters: pulse accumulation, 0.2 / 0.3
    "battery_panel",            # battery simulation, 0.5 / 0.2
    "controller_panel",         # controllers, 0.3 / 0.2
    "series_flow_report",       # the series-flow fixture (ingest.append_readings), 2.7 / 0.6
    "maintenance_panel",        # the compacted / Z-ordered / nightly-cycle fixtures, 3.4 / 0.3
    "table_profile",            # profiling, 0.4 / 0.4
    "next_poll_schedule",       # scheduling, 0.3 / 0.2
    "pattern_match_topk",       # tsmatch, 0.4 / 0.4
    "goodwe_parse",             # sources: binary frames, CRC16 Arrow UDF, 0.8 / 0.5
    "kasa_parse",               # sources: XOR-decrypt Arrow UDF, 0.4 / 0.4
)
# The curation tier: shuffles, Arrow UDFs and persisted memos.
CURATION = (
    "semantic_dedup",       # similarity + sampling: LSH buckets, persisted memos, 3.5 / 1.5
    "opq_learned_search",   # opq_rotations + similarity: learned OPQ index, 2.2 / 0.6
    "pq_adc_topk",          # similarity: PQ codebooks, asymmetric distance, 0.4 / 0.4
    "hybrid_search_panel",  # similarity + textops: BM25 legs beside dense legs, 1.1 / 1.0
    "bpe_pack",             # tokenize + packing: BPE merges, sequence packing, 0.4 / 0.4
    "dedup_clusters",       # clustering + dedup + textops, 1.8 / 0.2
    "minhash_near_dup",     # dedup: MinHash signatures, 1.0 / 0.6
    "shard_manifest",       # sharding + sampling + textops, 0.5 / 0.5
    "domain_curation",      # urlops + sampling, 0.7 / 0.5
    "passage_dedup",        # chunking, 0.6 / 0.6
    "frame_sample",         # multimodal, 0.2 / 0.3
    "token_heavy_hitters",  # sketches, 0.4 / 0.4
)
QUERY_NAMES = TELEMETRY + CURATION


_SCAN = re.compile(r"\b\w*Scan\b")
_EXCHANGE = re.compile(r"(?<!Reused)\b\w*Exchange\b")


def _final_tree(formatted: str) -> list[str]:
    """The node lines of the plan that ran: an adaptive plan's final plan
    (its formatted explain also prints the initial plan), or the whole tree
    of a plan that is not adaptive."""
    tree = formatted.split("\n\n", 1)[0]
    if "+- == Final Plan ==" in tree:
        tree = tree.split("+- == Final Plan ==", 1)[1].split("+- == Initial Plan ==", 1)[0]
    return tree.splitlines()


class QueryLoop:
    def __init__(self, run):
        from homelogging_spark.plans.registry import QUERIES

        self.run = run
        self.queries = QUERIES
        self.names = list(QUERY_NAMES)
        self.rng = random.Random(run.seed)
        self.failures: list[str] = []
        self.plans: dict[str, str] = {}
        self.catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self.shape = {"scans": 0, "exchanges": 0, "plan_kb": 0.0}
        self.check_s = 0.0
        self.trackers_read = 0

    def lap(self, check: bool) -> dict:
        """One lap in a fresh seeded order. Returns its timings; with
        ``check`` every result is compared and every plan recorded."""
        from homelogging_spark.functions.cachelife import release_caches

        run = self.run
        out = {"lap_s": 0.0, "op_s": {}, "read_s": {}, "total_s": {}, "attempted": 0, "failed": 0}
        for name in self.rng.sample(self.names, len(self.names)):
            out["attempted"] += 1
            run.label(f"{name}:build")
            t0 = time.perf_counter()
            try:
                with run.span("plans", "build"):
                    df = self.queries[name](run.spark, run.data_dir)
                t1 = time.perf_counter()
                run.label(f"{name}:execute")
                pdf = df.toPandas()
                t2 = time.perf_counter()
                released = release_caches()
            except Exception as exc:  # a raised query is a failed operation
                run.log(f"query {name} raised {type(exc).__name__}: {exc}")
                release_caches()
                out["failed"] += 1
                self.failures.append(name)
                continue
            t3 = time.perf_counter()
            out["lap_s"] += t3 - t0
            out["op_s"][name] = t2 - t0
            out["read_s"][name] = t2 - t1
            out["total_s"][name] = t3 - t0
            if run.tracer is not None and run.tracer.enabled:
                run.released_frames += released
            if check:
                run.label(f"{name}:check")
                try:
                    ok = self._check(name, df, pdf)
                except Exception as exc:  # a check that cannot run fails the query
                    run.log(f"check of {name} raised {type(exc).__name__}: {exc}")
                    ok = False
                self.check_s += time.perf_counter() - t3
                if not ok:
                    out["failed"] += 1
                    self.failures.append(name)
        run.label(None)
        return out

    def _check(self, name: str, df, pdf) -> bool:
        run = self.run
        qe = df._jdf.queryExecution()
        if run.tracer is not None and run.tracer.enabled:
            self.trackers_read += 1
            phases = qe.tracker().phases()
            for phase in self.catalyst:
                opt = phases.get(phase)
                if opt.isDefined():
                    self.catalyst[phase] += opt.get().durationMs() / 1e3
        plan = run.spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
        tree = _final_tree(plan)
        self.shape["scans"] += sum(1 for line in tree if _SCAN.search(line))
        self.shape["exchanges"] += sum(1 for line in tree if _EXCHANGE.search(line))
        self.shape["plan_kb"] += len(plan) / 1024.0
        if name not in self.plans:
            # the analyzed plan is what the program built; the physical
            # plans also carry run-time state (adaptive stage ids, caches)
            self.plans[name] = run.normalize_plan(qe.analyzed().toString())
        return oracle.matches(name, pdf, oracle.load(run.cache_dir, name, run.data_digest))

    def plan_digest(self) -> str:
        h = hashlib.sha256()
        for name in sorted(self.plans):
            h.update(name.encode() + b"\0" + self.plans[name].encode() + b"\0")
        return h.hexdigest()[:16]


def _best(laps: list[dict], key: str) -> dict[str, float]:
    """Each query's shortest time over the laps: a one-off stall in one lap
    (a GC pause, a Python worker start) does not move it; a change that
    slows the query in every lap does."""
    best: dict[str, float] = {}
    for lap in laps:
        for name, t in lap[key].items():
            best[name] = min(t, best.get(name, t))
    return best


def run_workload(run, workload: str) -> dict:
    """Set-up (cold fixture and index builds in one untimed lap), then the
    timed laps (``Run.schedule``). ``lap_s`` is the sum of the queries'
    best times over the traced (or, untraced, all) timed laps. Every lap,
    the set-up lap too, counts its queries as attempted and each raised or
    wrong result as failed."""
    loop = QueryLoop(run)
    run.fill_oracles(loop.names)
    run.start_session()
    cold = loop.lap(check=False)
    run.begin_timed()
    n_laps = run.units(NOMINAL_LAP_S)
    laps, untraced, warm = [], [], []
    if run.tracer is not None:
        run.tracer.enabled = False
    for traced in run.schedule(n_laps):
        if traced:
            run.traced_unit_begin()
            laps.append(loop.lap(check=True))
            run.traced_unit_end()
        elif traced is None:
            warm.append(loop.lap(check=True))
        else:
            (untraced if run.tracer is not None else laps).append(loop.lap(check=True))
    every = laps + untraced
    op, read, total = (_best(laps, key) for key in ("op_s", "read_s", "total_s"))
    result = {
        "attempted": sum(lap["attempted"] for lap in [cold, *warm, *every]),
        "failed": sum(lap["failed"] for lap in [cold, *warm, *every]),
        "failures": sorted(set(loop.failures)),
        "end_to_end": {
            "op_gmean_s": run.gmean(op.values()),
            "read_gmean_s": run.gmean(read.values()),
            "lap_s": sum(total.values()),
        },
        "detail": {"laps": n_laps, "samples": sum(len(lap["op_s"]) for lap in every),
                   "plan_digest": loop.plan_digest(),
                   "setup_lap_s": round(cold["lap_s"], 3),
                   "lap_times": [round(lap["lap_s"], 3) for lap in every],
                   "check_s": round(loop.check_s, 3)},
    }
    if run.tracer is not None:
        n, checked = len(laps), len(every)
        traced_s = [lap["lap_s"] for lap in laps]
        plain_s = [lap["lap_s"] for lap in untraced]
        result["detail"]["overhead_laps"] = {
            "traced": [round(t, 3) for t in traced_s], "untraced": [round(t, 3) for t in plain_s]}
        result["layers"] = {
            "plans.scans": loop.shape["scans"] / checked,
            "plans.exchanges": loop.shape["exchanges"] / checked,
            "plans.plan_kb": loop.shape["plan_kb"] / checked,
            "spark.catalyst.analysis_s": loop.catalyst["analysis"] / n,
            "spark.catalyst.optimization_s": loop.catalyst["optimization"] / n,
            "spark.catalyst.planning_s": loop.catalyst["planning"] / n,
            "spark.exec.wall_s": sum(sum(lap["read_s"].values()) for lap in laps) / n,
            "trace.overhead_frac": run.overhead_frac(traced_s, plain_s),
            "calls": {"spark.catalyst": loop.trackers_read},
        }
    return result


# Nominal seconds of one warm lap on 4 cores; a run measures
# round(--seconds / nominal) laps, at least one, so the count of laps
# follows from --seconds alone and every run does the same work.
NOMINAL_LAP_S = 12.0
