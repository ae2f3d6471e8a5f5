"""The benchmark's own tests: input generator, counter parsing, vacuity
guards, and a small-input smoke run of every workload (sf0.001 tables and a
tiny ``etl_merge`` input), traced and untraced.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import etl_inputs as E  # noqa: E402
import tracing as T  # noqa: E402
import workloads as W  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_benchmark_json_names_what_the_runs_emit():
    spec = _spec()
    assert [m["name"] for m in spec["end_to_end"]] == list(W.END_TO_END)
    assert [m["unit"] for m in spec["end_to_end"]] == list(W.END_TO_END.values())
    assert [m["name"] for m in spec["per_layer"]] == W.PER_LAYER
    assert [m["unit"] for m in spec["per_layer"]] == [W.unit(n) for n in W.PER_LAYER]
    assert {w["name"] for w in spec["workloads"]} == {"etl_merge", "query_mix"}


def test_generator_is_seeded_and_dirty():
    def stream(seed):
        g = E.Generator(seed, 2000, 400, 50)
        return [g.backfill()] + [g.incremental() for _ in range(3)]

    a, b, c = stream(7), stream(7), stream(8)
    assert [x.events for x in a] == [x.events for x in b]
    assert [x.events for x in a] != [x.events for x in c]
    exp = E.Expected()
    for k, batch in enumerate(a):
        days = {json.loads(line)["ts"][:10] for line in batch.events if line.startswith('{"event_id": "e')}
        assert (len(days) == E.BACKFILL_DAYS) if k == 0 else (2 <= len(days) <= 3)
        before = {eid: v[0] for eid, v in exp.fact.items()}
        q = exp.apply(batch)
        assert q["ingest_bad"] >= 3 and q["dedup_removed"] > 0 and q["null_user_id"] > 0
        assert 0.05 < q["transform_invalid_event_type"] / q["ingest_good"] < 0.15
        if k:
            moved = [eid for eid, day in before.items() if exp.fact[eid][0] != day]
            assert moved, "some keys must move to another day"


def test_parse_metric_units():
    assert T.parse_metric("1,234") == 1234
    assert T.parse_metric("64.0 KiB") == 64 * 1024
    assert T.parse_metric("total (min, med, max (stageId: taskId))\n2.5 s (1 s, 1 s, 1 s (stage 1.0: task 3))") == 2.5
    assert T.parse_metric("400 ms") == pytest.approx(0.4)
    assert T.parse_metric(None) == 0


def test_driver_time_is_span_time_outside_stages():
    assert T._covered([(1.0, 2.0), (1.5, 3.0), (5.0, 9.0)], 0.0, 6.0) == pytest.approx(3.0)


class _Counters:
    def __init__(self, jobs, batches):
        self.c = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "scan_mb", "shuffle_write_mb",
             "spill_mb", "driver_s", "python_rows", "state_rows", "state_commit_s", "files_read"), 0)
        self.c.update(jobs=jobs, batches=batches)

    def within(self, span):
        return self.c

    def storage(self):
        return 0, 0.0


def _one_query(name, module, jobs, batches):
    tracer = T.Tracer()
    with tracer.span("query") as q:
        if module == "streaming_plans":
            with tracer.span("streaming.drain"):
                pass
    tracing = SimpleNamespace(tracer=tracer, counters=_Counters(jobs, batches))
    return W._query_layers(tracing, [(SimpleNamespace(name=name, module=module), q, 0.1, 0.2)], fresh=True)


def test_vacuity_guards():
    assert _one_query("funnel", "analytics", jobs=3, batches=0)["plans.jobs"] == 3
    with pytest.raises(W.VacuousRun, match="zero jobs"):
        _one_query("funnel", "analytics", jobs=0, batches=0)
    with pytest.raises(W.VacuousRun, match="zero micro-batches"):
        _one_query("streaming_value_ema", "streaming_plans", jobs=2, batches=0)
    with pytest.raises(W.VacuousRun, match="compared zero"):
        W._guard(W.Checks().attempted > 0, "the output check compared zero queries")


def _left_running() -> list[int]:
    """Processes still running with a run's environment (the JVM and the
    Python workers it forks inherit it)."""
    mark = ("SPARK_LOCAL_DIRS=" + os.path.join(ROOT, ".perfbench_work")).encode()
    pids = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/environ", "rb") as f:
                    if mark in f.read():
                        pids.append(int(pid))
            except OSError:
                pass
    return pids


def _run(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert _left_running() == [], "the run left processes behind"
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


@pytest.mark.parametrize("workload", ["etl_merge", "query_mix"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    out, text = _run(workload, trace)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    spec = _spec()
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert list(out["metrics"]) == names
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    elif workload == "etl_merge":
        assert out["metrics"]["warehouse.partitions_rewritten"]["value"] > 0
        assert out["metrics"]["etl.jobs.backfill"]["value"] > 0
    else:
        assert out["metrics"]["plans.jobs"]["value"] > 0
        assert out["metrics"]["streaming.batches"]["value"] > 0
        assert out["metrics"]["streaming.pandas_state.drain_s"]["value"] > 0
    assert "failed_op_share 0.0000" in text
