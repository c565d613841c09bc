"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The generator tests are pure numpy.  The Spark tests share one small
``local[2]`` session: they seed the dashboard namespace twice from one
seed and compare the harvested counts, pin the plan census of the
dashboard ``sum by`` template, and check that the input guard fails an
operation that reads nothing.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import types

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import metrics  # noqa: E402
from core import OpRecord, Tracer  # noqa: E402

COUNT_METRICS = ("input_rows", "shuffle_records", "jobs", "stages") + metrics.PLAN_KEYS


# -- generated inputs ------------------------------------------------------------------


def _inputs(seed: int) -> list:
    ns = gen.dashboard_namespace(seed)
    lr = gen.longrange_namespace(seed)
    out = [g.values for g in ns.prom.values()] + [ns.graphite.values, ns.graphite.phase]
    out += [g.values for g in lr.prom.values()] + [lr.graphite.values]
    out += [gen.metric_batch(seed, b, f).payload for b, f in enumerate(gen.FORMATS)]
    db = gen.doc_batch(seed, 1)
    out += [db.docs, db.embs, gen.emb_seed_rows(seed)]
    out += [[g.labels for g in ns.prom.values()]]
    return out


def _same(a, b) -> bool:
    if isinstance(a, np.ndarray):
        return a.shape == b.shape and bool(np.array_equal(a, b))
    return a == b


def test_same_seed_same_inputs():
    assert all(_same(a, b) for a, b in zip(_inputs(7), _inputs(7)))


def test_other_seed_other_inputs():
    a, b = _inputs(7), _inputs(8)
    # values, phases, payloads, documents and labels all change; the sizes
    # (and the planted duplicates' positions) do not
    assert not any(_same(x, y) for x, y in zip(a, b))
    assert [np.shape(x) for x in a[:4]] == [np.shape(y) for y in b[:4]]


def test_remote_write_body_decodes_with_engine_decoder():
    from m3_spark.functions.remote_read import decode_write_request

    mb = gen.metric_batch(3, 2, "remote_write")
    series = decode_write_request(mb.payload)
    assert sum(len(s["samples"]) for s in series) == len(mb.ts)
    got = sorted(v for s in series for _, v in s["samples"])
    assert got == sorted(float(v) for v in mb.values)


def test_planted_duplicates_are_copies():
    db = gen.doc_batch(5, 2)
    prev = dict(gen.doc_batch(5, 1).docs)
    cur = dict(db.docs)
    assert db.dup_pairs and all(prev[a] == cur[b] for a, b in db.dup_pairs)


def test_busy_ms_unions_overlaps():
    from sparkstats import busy_ms

    assert busy_ms([(0, 10), (5, 15), (20, 30)], 0, 25) == 20.0
    assert busy_ms([], 0, 10) == 0.0


# -- BENCHMARK.json matches what the runs print --------------------------------------


def _fake_run():
    rec = OpRecord(0, 0, "t", "t|0", True, latency_s=0.1, items=5, ok=True)
    rec.exec = {k: 1.0 for k in metrics.COUNT_KEYS + metrics.TIME_KEYS + metrics.PLAN_KEYS}
    rec.exec["_intervals"] = []
    warm = OpRecord(-1, 0, "t", "t|0", False, latency_s=0.1, items=5, ok=True, exec=rec.exec)
    return types.SimpleNamespace(records=[rec], warm=[warm], tracer=Tracer(), t_epoch=0.0)


def test_benchmark_json_lists_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run = _fake_run()
    layer = metrics.per_layer(run, {"hits": 0, "misses": 0},
                              {"hits": 1, "misses": 1}, 1.0, 1.0, {}, 0.0, 1.0)
    e2e = metrics.end_to_end(run, 1, 1.0, 75)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v["unit"] for k, v in layer.items()}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: v["unit"] for k, v in e2e.items()}


# -- Spark: counts, census, guard ----------------------------------------------------------


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    run._env(work, 2)
    from m3_spark.session import get_spark
    from sparkstats import Harvester
    from workloads import Ctx, Dashboard

    spark = get_spark("perfbench-tests", cpus=2)
    spark.sparkContext.setLogLevel("ERROR")
    runner = run.Runner.__new__(run.Runner)
    runner.spark, runner.tracer = spark, Tracer()
    runner.harvester = Harvester(spark)

    def seeded(seed: int, sub: str):
        os.makedirs(os.path.join(work, sub))
        wl = Dashboard()
        wl.setup(Ctx(spark, runner.tracer, os.path.join(work, sub), seed))
        return wl

    yield runner, seeded
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


def _warm(runner, wl, i: int):
    runner.wl = wl
    return runner.run_op(i, False, "warm", harvest=True)


def test_same_seed_same_counts(bench):
    runner, seeded = bench
    a, b = seeded(21, "a"), seeded(21, "b")
    for i in (0, 4):  # sum_by (PromQL engine), m3ql (fused sparse path)
        ra, rb = _warm(runner, a, i), _warm(runner, b, i)
        assert ra.ok and rb.ok, (ra.error, rb.error)
        assert ra.exec["input_rows"] > 0
        assert {k: ra.exec[k] for k in COUNT_METRICS} == {k: rb.exec[k] for k in COUNT_METRICS}


def test_sum_by_plan_census_pinned(bench):
    """The engine's ``sum by`` today (ROADMAP item 2's "before"): dense
    consolidation with two fact scans (samples and the dims distinct),
    three exchanges, one Window and one broadcast in the final plan."""
    runner, seeded = bench
    rec = _warm(runner, seeded(22, "census"), 0)
    assert rec.template == "sum_by" and rec.ok
    assert {k: rec.exec[k] for k in metrics.PLAN_KEYS} == SUM_BY_CENSUS


def test_zero_input_guard_fails_the_run(bench):
    import run

    runner, seeded = bench
    wl = seeded(23, "guard")
    real = wl.op

    def no_input(i, phase):
        from m3_spark.model import SAMPLES_SCHEMA

        op = real(i, phase)
        # the same query over a source that holds no rows: it succeeds,
        # returns nothing and reads nothing
        empty = wl.ctx.spark.createDataFrame([], SAMPLES_SCHEMA)
        op.run = lambda: wl.promql(wl.ctx, "sum by (job) (cpu_usage)", gen.T0,
                                   gen.T0 + 3600, 60, samples=empty)
        op.check = lambda r: True
        return op

    wl.op = no_input
    with pytest.raises(run.InputGuardError):
        _warm(runner, wl, 0)


SUM_BY_CENSUS = {"exchanges": 3.0, "scans": 2.0, "windows": 1.0,
                 "python_udfs": 0.0, "broadcasts": 1.0}
