"""The benchmark's workloads, their output checks and their metrics.

``query_mix``: a fixed list of registry queries, one per plan module but
ecommerce, plus a streaming drain, over the sf0.01 tables.  A first pass
runs in the fresh session in list order, then warm passes; the seed only
shuffles the order queries are issued in within warm passes.  Each result
is checked against the committed fingerprint of the query's DuckDB oracle.

``etl_merge``: seeded dirty inputs (etl_inputs.py) go through one EP1
``run_pipeline`` backfill, then incremental batches into the same warehouse,
each followed by EP2 ``run_all`` with CSV exports.  Every step is checked
against outputs computed independently in plain Python.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from tracing import SparkCounters, Tracer, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))

# One query from each plan module but ecommerce, each costing ~1-2 s on its
# first call in a fresh session on 4 cores, plus one applyInPandasWithState
# drain.  The first call of the ecommerce loader queries and of the LSH
# near-dup family costs ~12 s each, the whole registry minutes: no list that
# includes them lets a first pass plus warm passes fit one run.  The scale is sf0.01 because the
# drain alone takes ~10 s per warm pass at sf0.1 (~5 s at sf0.01).
QUERY_MIX = (
    "customers_without_orders",
    "dau",
    "events_pivot_daily",
    "customers_k_anonymity",
    "docs_exact_dedup",
    "multimodal_decode",
    "streaming_value_ema",
)
PANDAS_STATE = {
    "streaming_sessionize",
    "streaming_sessionize_flush",
    "streaming_value_ema",
    "streaming_value_ema_ooo",
}
MODULES = ("tpch", "analytics", "ecommerce", "timeseries", "scale_patterns", "llmdata", "multimodal")

# backfill/batch sizes in event lines; users in the first users.csv
ETL_SIZES = {
    False: {"backfill_lines": 3000, "batch_lines": 600, "n_users": 300},
    True: {"backfill_lines": 300, "batch_lines": 60, "n_users": 20},
}
MAX_BATCHES = 12

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "warm_pass_s": "s",
}

_PLAN_Q = (
    "build_s", "action_s", "driver_s", "jobs", "stages", "tasks", "failed_tasks",
    "task_run_s", "task_cpu_s", "scan_mb", "shuffle_write_mb", "spill_mb", "python_rows",
)
_STREAM = ("batches", "jobs", "tasks", "task_run_s", "python_rows", "state_rows", "state_commit_s", "shuffle_write_mb")
# EP1 span names: wrapped callable -> metric prefix
_EP1_SPANS = {
    "read_events_jsonl": "ingest.read_events",
    "read_users_csv": "ingest.read_users",
    "write_bad_records": "ingest.write_bad_records",
    "write_csv_export": "ingest.write_csv_export",
    "transform": "transform.build",
    "write_quality_report": "quality.write_report",
}
_WH_SPANS = {
    "upsert_dim_users": "warehouse.upsert_dim_users",
    "upsert_dim_event_types": "warehouse.upsert_dim_event_types",
    "upsert_dim_dates": "warehouse.upsert_dim_dates",
    "upsert_fact_events": "warehouse.upsert_fact_events",
    "upsert_fact_international_sales": "warehouse.upsert_intl",
}
_EP1 = tuple(f"{n}_s" for n in (*_EP1_SPANS.values(), *_WH_SPANS.values())) + (
    "etl.self_s", "etl.jobs", "etl.task_run_s", "etl.shuffle_write_mb",
    "warehouse.bytes_written_mb", "warehouse.write_amp", "warehouse.partitions_rewritten", "warehouse.files_written",
)


def _per_layer_names() -> list[str]:
    names = ["session.get_spark_s", "memory.peak_rss_mb"]
    names += [f"plans.{q}{sfx}" for q in _PLAN_Q for sfx in ("", ".first")]
    names += [f"plans.{m}.{q}" for m in MODULES for q in ("action_s", "driver_s", "jobs")]
    names += [f"caching.{q}{sfx}" for q in ("persisted_rdds", "cached_mb") for sfx in ("", ".first")]
    names += [f"streaming.{q}{sfx}" for q in ("drain_s", "driver_s") for sfx in ("", ".first")]
    names += [f"streaming.{q}" for q in _STREAM] + ["streaming.pandas_state.drain_s"]
    names += [f"{q}{sfx}" for q in _EP1 for sfx in ("", ".backfill")]
    names += [f"warehouse_analytics.{q}" for q in ("run_all_s", "jobs", "files_read")]
    names += ["trace_overhead.warm_pass_s", "trace_overhead.op_p50_s"]
    return names


PER_LAYER = _per_layer_names()


def unit(name: str) -> str:
    base = name.removesuffix(".first").removesuffix(".backfill")
    if base.endswith("_s"):
        return "s"
    if base.endswith("_mb"):
        return "MB"
    return "ratio" if base.endswith("write_amp") else "count"


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    report: list = field(default_factory=list)

    def line(self) -> dict:
        return {
            "correct": self.correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()},
        }


@dataclass
class Checks:
    """Operations attempted (each one checked) and failed; an exception
    counts as a failure."""

    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def record(self, name: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"{name}: {why}")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class VacuousRun(Exception):
    """The run measured or checked nothing it claims to: fail loudly."""


def run(args, work: str, age) -> Result:
    from data_engineering_etl_demo_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    get_spark_s = time.perf_counter() - t0
    from data_engineering_etl_demo_spark.plans import all_specs

    specs = all_specs()
    setup_s = age()
    try:
        tracing = Tracing(spark) if args.trace else None
        if args.workload == "query_mix":
            res = query_mix(spark, specs, args, tracing)
        else:
            res = etl_merge(spark, args, work, tracing)
        rss = peak_rss_mb()
    finally:
        spark.stop()
    if tracing:
        res.metrics = {n: (res.metrics.get(n, 0.0), unit(n)) for n in PER_LAYER}
        res.metrics["session.get_spark_s"] = (get_spark_s, "s")
        res.metrics["memory.peak_rss_mb"] = (rss, "MB")
        tracing.tracer.dump(os.path.join(os.path.dirname(work), f"last_trace_{args.workload}.jsonl"))
    else:
        res.metrics["setup_s"] = setup_s
        res.metrics = {n: (res.metrics[n], u) for n, u in END_TO_END.items()}
    res.report.append(("setup_s", f"{setup_s:.4f} s"))
    res.report.append(("peak_rss_mb", f"{rss:.1f} MB"))
    return res


class Tracing:
    """Spans plus counters for one traced run."""

    def __init__(self, spark):
        self.tracer = Tracer()
        self.counters = SparkCounters(spark)
        self.counters.harvest()  # skip whatever setup ran


def _span(tracing: Tracing | None, name: str, on: bool = True):
    return tracing.tracer.span(name) if tracing and on else nullcontext()


def _abba(k: int) -> bool:
    """Whether warm pass ``k`` of a traced run is traced: untraced, traced,
    traced, untraced, ... so a warming trend does not bias the overhead."""
    return k % 4 in (1, 2)


class Window:
    """The measuring window of ``seconds``: another operation starts only if
    one as long as the longest so far still ends inside it.  A last operation
    straddling the end would make the number of samples, and with it the
    medians, vary with the machine's speed from run to run."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.start = self.mark = time.perf_counter()
        self.longest = 0.0

    def lap(self) -> None:
        now = time.perf_counter()
        self.longest = max(self.longest, now - self.mark)
        self.mark = now

    def fits_another(self) -> bool:
        return self.mark - self.start + self.longest <= self.seconds


def _guard(ok: bool, what: str) -> None:
    if not ok:
        raise VacuousRun(what)


# -- query_mix ----------------------------------------------------------------


def query_mix(spark, specs, args, tracing: Tracing | None) -> Result:
    from fingerprints import fingerprint, load
    import data_engineering_etl_demo_spark.streaming.pipeline as pipeline

    sf = "sf0.001" if args.smoke else "sf0.01"
    sf_dir = os.path.join(HERE, "data", sf)
    want = load(os.path.join(HERE, "fingerprints", f"{sf}.json"))
    rng = random.Random(args.seed)
    checks = Checks()

    def one_pass(traced: bool, fresh: bool = False) -> dict:
        # The fresh-session pass keeps the list order: whichever query first
        # touches the JVM, codegen or the Python workers pays for it, which
        # moves the pass total by up to half between orders.
        order = list(QUERY_MIX)
        if not fresh:
            rng.shuffle(order)
        lat, per_query, by_name = [], [], {}
        if traced:
            tracing.tracer.wrap(pipeline, "run_to_completion", "streaming.drain")
        try:
            for name in order:
                spec = specs[name]
                with _span(tracing, "query", traced) as q:
                    t0 = time.perf_counter()
                    try:
                        with _span(tracing, "plans.build", traced):
                            df = spec.spark_fn(spark, sf_dir)
                        t1 = time.perf_counter()
                        with _span(tracing, "plans.action", traced):
                            rows = df.collect()
                        t2 = time.perf_counter()
                    except Exception as e:  # a failed query is a failed operation
                        checks.record(name, False, repr(e)[:200])
                        continue
                lat.append(t2 - t0)
                by_name[name] = t2 - t0
                fp = fingerprint(df.columns, rows)
                checks.record(name, fp == want[name]["sha256"], f"fingerprint {fp[:12]} rows {len(rows)}")
                if traced:
                    tracing.counters.harvest()
                    per_query.append((spec, q, t1 - t0, t2 - t1))
        finally:
            if traced:
                tracing.tracer.restore()
        out = {"pass_s": sum(lat), "lat": lat, "by_name": by_name}
        if traced:
            out["layers"] = _query_layers(tracing, per_query, fresh)
        return out

    first = one_pass(traced=bool(tracing), fresh=True)
    warm = []
    min_warm = 4  # the median query latency needs ~30 warm samples to settle
    window = Window(args.seconds)  # --seconds counts the warm passes only
    while len(warm) < min_warm or window.fits_another():
        warm.append(one_pass(traced=bool(tracing) and _abba(len(warm))))
        window.lap()
    _guard(checks.attempted > 0, "the output check compared zero queries")

    res = Result(attempted=checks.attempted, failed=checks.failed)
    res.correct = checks.failed == 0
    plain = [p for k, p in enumerate(warm) if not (tracing and _abba(k))]
    lat = [x for p in plain for x in p["lat"]]
    res.metrics = {
        "first_pass_s": first["pass_s"],
        "warm_pass_s": median([p["pass_s"] for p in plain]),
        "op_p50_s": median(lat),
    }
    q90 = statistics.quantiles(lat, n=10)[-1] if len(lat) >= 10 else max(lat, default=0.0)
    res.report += [
        ("workload", f"query_mix {len(QUERY_MIX)} queries, {len(warm)} warm passes"),
        ("first_pass_s", f"{first['pass_s']:.4f} s"),
        ("warm_pass_s", f"{res.metrics['warm_pass_s']:.4f} s over {len(plain)} passes"),
        ("query_p50_s", f"{res.metrics['op_p50_s']:.4f} s over {len(lat)} samples"),
        ("query_p90_s", f"{q90:.4f} s over {len(lat)} samples"),
        ("failed_op_share", f"{checks.failed / max(checks.attempted, 1):.4f} of {checks.attempted} ops"),
    ] + [("failed_op", n) for n in checks.notes[:20]]
    res.report += [
        ("query", f"{n} first {first['by_name'].get(n, 0.0):.4f} s warm {median([p['by_name'][n] for p in plain if n in p['by_name']]):.4f} s")
        for n in QUERY_MIX
    ]
    if tracing:
        traced = [p for k, p in enumerate(warm) if _abba(k)]
        layers = {k: median([p["layers"][k] for p in traced]) for k in traced[0]["layers"]}
        layers.update({f"{k}.first": v for k, v in first["layers"].items()})
        layers["trace_overhead.warm_pass_s"] = median([p["pass_s"] for p in traced]) - res.metrics["warm_pass_s"]
        layers["trace_overhead.op_p50_s"] = median([x for p in traced for x in p["lat"]]) - res.metrics["op_p50_s"]
        res.metrics = layers
    return res


def _query_layers(tracing: Tracing, per_query, fresh: bool) -> dict:
    """Per-pass totals of the plans/streaming/caching layer metrics, with the
    vacuity guards: in the fresh session every query must run jobs (a warm
    pass may legitimately serve a memoized plan's reused result without
    one, but not a whole pass), and every drain must run micro-batches."""
    counters = tracing.counters
    m = {f"plans.{q}": 0.0 for q in _PLAN_Q}
    m.update({f"plans.{mod}.{q}": 0.0 for mod in MODULES for q in ("action_s", "driver_s", "jobs")})
    m.update({f"streaming.{q}": 0.0 for q in ("drain_s", "driver_s", *_STREAM)})
    m["streaming.pandas_state.drain_s"] = 0.0
    for spec, span, build_s, action_s in per_query:
        c = counters.within(span)
        _guard(c["jobs"] > 0 or not fresh, f"{spec.name} recorded zero jobs")
        m["plans.build_s"] += build_s
        m["plans.action_s"] += action_s
        for q in _PLAN_Q[2:]:
            m[f"plans.{q}"] += c[q]
        if spec.module in MODULES:
            m[f"plans.{spec.module}.action_s"] += action_s
            m[f"plans.{spec.module}.driver_s"] += c["driver_s"]
            m[f"plans.{spec.module}.jobs"] += c["jobs"]
        for drain in tracing.tracer.named("streaming.drain", within=span):
            d = counters.within(drain)
            _guard(d["batches"] > 0, f"{spec.name} drained zero micro-batches")
            m["streaming.drain_s"] += drain.duration
            for q in ("driver_s", *_STREAM):
                m[f"streaming.{q}"] += d[q]
            if spec.name in PANDAS_STATE:
                m["streaming.pandas_state.drain_s"] += drain.duration
    _guard(m["plans.jobs"] > 0, "a query pass recorded zero jobs")
    m["caching.persisted_rdds"], m["caching.cached_mb"] = counters.storage()
    return m


# -- etl_merge ----------------------------------------------------------------


def _dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(root, n)).num_rows
        for root, _d, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )


def _json_lines(path: str) -> int:
    n = 0
    for root, _d, names in os.walk(path):
        for name in names:
            if name.endswith(".json"):
                with open(os.path.join(root, name), encoding="utf-8") as f:
                    n += sum(1 for line in f if line.strip())
    return n


class WarehouseIO:
    """Bytes, files and partitions the warehouse's swap-writes publish."""

    def __init__(self, tracer: Tracer):
        from data_engineering_etl_demo_spark.operators.warehouse import Warehouse

        self.files = self.bytes = self.partitions = 0
        io = self
        swap_write = Warehouse._swap_write
        swap_dirs = Warehouse.__dict__["_swap_partition_dirs"].__func__

        def counted_swap_write(wh, name, df, partition_by=None):
            swap_write(wh, name, df, partition_by)
            io.add(wh._path(name))

        def counted_swap_dirs(final, staging, expected=None):
            io.add(staging)
            n = swap_dirs(final, staging, expected)
            io.partitions += n
            return n

        tracer.patch(Warehouse, "_swap_write", counted_swap_write)
        tracer.patch(Warehouse, "_swap_partition_dirs", staticmethod(counted_swap_dirs))

    def add(self, path: str) -> None:
        f, b = _dir_stats(path)
        self.files += f
        self.bytes += b


def etl_merge(spark, args, work: str, tracing: Tracing | None) -> Result:
    import data_engineering_etl_demo_spark.etl as etl
    from data_engineering_etl_demo_spark.operators.warehouse import Warehouse
    from data_engineering_etl_demo_spark.plans.warehouse_analytics import run_all

    from etl_inputs import Expected, Generator, read_csv_export, same_rows

    gen = Generator(args.seed, **ETL_SIZES[args.smoke])
    exp = Expected()
    checks = Checks()
    wh_dir = os.path.join(work, "warehouse")
    inputs_s = 0.0

    def make(k: int):
        nonlocal inputs_s
        t = time.perf_counter()
        batch = gen.backfill() if k == 0 else gen.incremental()
        paths = batch.write(os.path.join(work, "in", str(k)))
        inputs_s += time.perf_counter() - t
        return batch, paths

    def wrap_layers(io_holder: list) -> None:
        t = tracing.tracer
        for attr, name in _EP1_SPANS.items():
            t.wrap(etl, attr, name)
        for attr, name in _WH_SPANS.items():
            t.wrap(Warehouse, attr, name)
        io_holder.append(WarehouseIO(t))

    def pipeline(k: int, traced: bool) -> tuple[float, dict | None]:
        batch, paths = make(k)
        out = os.path.join(work, "out", str(k))
        raw_bytes = sum(os.path.getsize(p) for p in paths.values())
        io_holder: list = []
        if traced:
            wrap_layers(io_holder)
        try:
            with _span(tracing, "etl.run_pipeline", traced) as span:
                t0 = time.perf_counter()
                res = etl.run_pipeline(spark, paths["events"], paths["users"], wh_dir, out, paths["intl"])
                wall = time.perf_counter() - t0
        finally:
            if traced:
                tracing.tracer.restore()
        want = exp.apply(batch)
        got = {k2: getattr(res.report, k2) for k2 in want}
        counts = (
            _parquet_rows(os.path.join(wh_dir, "fact_events")),
            _parquet_rows(os.path.join(wh_dir, "dim_users")),
            _json_lines(os.path.join(out, "bad_records")),
        )
        expect = (len(exp.fact), len(exp.users), want["ingest_bad"] + want["transform_invalid_event_type"])
        ok = got == want and counts == expect
        checks.record(f"run_pipeline[{k}]", ok, f"report {got} vs {want}; rows {counts} vs {expect}")
        layers = None
        if traced:
            tracing.counters.harvest()
            layers = _etl_layers(tracing, span, io_holder[0], raw_bytes)
            if k > 0:
                _guard(layers["warehouse.partitions_rewritten"] > 0, f"batch {k} MERGE rewrote zero partitions")
        return wall, layers

    def refresh(k: int, traced: bool) -> tuple[float, dict | None]:
        export = os.path.join(work, "exports", str(k))
        with _span(tracing, "warehouse_analytics.run_all", traced) as span:
            t0 = time.perf_counter()
            run_all(spark, Warehouse(spark, wh_dir), export_dir=export)
            wall = time.perf_counter() - t0
        want = exp.ep2()
        bad = [n for n in want if not same_rows(read_csv_export(os.path.join(export, n)), want[n])]
        checks.record(f"run_all[{k}]", not bad, f"exports differ: {bad}")
        layers = None
        if traced:
            tracing.counters.harvest()
            c = tracing.counters.within(span)
            layers = {
                "warehouse_analytics.run_all_s": span.duration,
                "warehouse_analytics.jobs": c["jobs"],
                "warehouse_analytics.files_read": c["files_read"],
            }
        return wall, layers

    backfill_s, backfill_layers = 0.0, {}
    cycles = []  # (pipeline_s, refresh_s, traced, layers)
    # A traced run spends its first batch warming up (it is far colder than
    # the rest), then traces one batch and times the next without tracing.
    min_cycles = 3 if tracing else 1
    try:
        backfill_s, backfill_layers = pipeline(0, traced=bool(tracing))
        window = Window(args.seconds)  # --seconds counts the incremental batches only
        while len(cycles) < min_cycles or (window.fits_another() and len(cycles) < MAX_BATCHES):
            k = len(cycles) + 1
            traced = bool(tracing) and k == 2
            p_s, p_layers = pipeline(k, traced)
            r_s, r_layers = refresh(k, traced)
            cycles.append((p_s, r_s, traced, {**(p_layers or {}), **(r_layers or {})}))
            window.lap()
    except VacuousRun:
        raise
    except Exception as e:  # later batches depend on this one: stop here
        checks.record(f"batch {len(cycles)}", False, repr(e)[:200])
    _guard(checks.attempted > 0, "the output check compared zero batches")

    res = Result(attempted=checks.attempted, failed=checks.failed, correct=checks.failed == 0)
    plain = [c for c in cycles[1 if tracing else 0:] if not c[2]]
    res.metrics = {
        "first_pass_s": backfill_s,
        "warm_pass_s": median([p + r for p, r, _t, _l in plain]),
        "op_p50_s": median([p for p, _r, _t, _l in plain]),
    }
    res.report += [
        ("workload", f"etl_merge backfill {gen.backfill_lines} lines + {len(cycles)} batches of {gen.batch_lines}"),
        ("inputs_s", f"{inputs_s:.4f} s (input generation, not in setup_s)"),
        ("load_rows_per_s", f"{gen.backfill_lines / max(backfill_s, 1e-9):.1f} 1/s"),
        ("merge_batch_p50_s", f"{res.metrics['op_p50_s']:.4f} s over {len(plain)} batches"),
        ("ep2_refresh_p50_s", f"{median([r for _p, r, _t, _l in plain]):.4f} s over {len(plain)} refreshes"),
        ("failed_op_share", f"{checks.failed / max(checks.attempted, 1):.4f} of {checks.attempted} ops"),
    ] + [("failed_op", n) for n in checks.notes[:20]]
    if tracing:
        traced = [c for c in cycles if c[2]]
        layers = {k: median([c[3][k] for c in traced]) for k in (traced[0][3] if traced else ())}
        layers.update({f"{k}.backfill": v for k, v in backfill_layers.items()})
        layers["trace_overhead.warm_pass_s"] = median([p + r for p, r, _t, _l in traced]) - res.metrics["warm_pass_s"]
        layers["trace_overhead.op_p50_s"] = median([p for p, _r, _t, _l in traced]) - res.metrics["op_p50_s"]
        res.metrics = layers
    return res


def _etl_layers(tracing: Tracing, span, io: WarehouseIO, raw_bytes: int) -> dict:
    t = tracing.tracer
    m = {f"{name}_s": sum(s.duration for s in t.named(name, within=span)) for name in (*_EP1_SPANS.values(), *_WH_SPANS.values())}
    c = tracing.counters.within(span)
    m.update({
        "etl.self_s": span.self_time,
        "etl.jobs": c["jobs"],
        "etl.task_run_s": c["task_run_s"],
        "etl.shuffle_write_mb": c["shuffle_write_mb"],
        "warehouse.bytes_written_mb": io.bytes / (1024.0 * 1024.0),
        "warehouse.write_amp": io.bytes / raw_bytes,
        "warehouse.partitions_rewritten": io.partitions,
        "warehouse.files_written": io.files,
    })
    return m
