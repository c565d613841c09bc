"""The repository benchmark: one command, every workload.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root.  It starts a ``local[nproc]`` session
through ``m3_spark.session.get_spark``, generates the workload's inputs
from ``--seed``, seeds them through the engine's write path, runs one
warm-up round (every template once, its Spark metrics harvested and its
input rows checked), then measures a closed loop of whole rounds for
about ``--seconds`` (a fixed number of rounds, sized from the
workload's nominal round time).  Every operation's output is checked against an
independent reference.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``; the
traced run alternates traced and untraced rounds, at least two, to
price the tracing).  A per-run record with every operation,
the spans and the calibration probe is written to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: BENCHMARK.json gates dashboard and ingest; longrange runs by hand
WORKLOADS = ("dashboard", "ingest", "longrange")
DRIVER_MEM = "2g"
OP_TIMEOUT_S = 60.0
#: tail percentile reported per workload (BENCHMARK.json states why)
TAIL_PCT = {"dashboard": 90, "longrange": 90, "ingest": 90}


def rounds_for(wl, seconds: float, traced: bool) -> int:
    """Rounds to measure: ``seconds`` of the workload's nominal round time
    on a 4-core box (a fixed amount of work, so a slower commit takes
    longer instead of measuring less).  The traced run measures at least
    two, so traced and untraced rounds alternate."""
    n = max(1, math.ceil(seconds / wl.ROUND_S))
    return max(2, n) if traced else n


class InputGuardError(RuntimeError):
    """An operation read no rows, or fewer than its seeded inputs."""


def _env(work: str, cpus: int) -> None:
    """Spark and Python scratch stay inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def calibration_ms(spark, cpus: int) -> float:
    """bench.py's machine-speed probe, scaled down: generated rows through a
    1024-group hash aggregate.  No repository code, no I/O."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    (spark.range(0, 3_000_000, 1, cpus)
     .groupBy((F.col("id") % 1024).alias("g"))
     .agg(F.sum("id").alias("s"), F.avg(F.col("id") % 7919).alias("a"))
     .collect())
    return 1e3 * (time.perf_counter() - t)


class Runner:
    def __init__(self, args):
        from core import Tracer

        self.args = args
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        os.makedirs(self.work)
        _env(self.work, self.cpus)
        self.tracer = Tracer()
        self.t_epoch = time.time() - time.perf_counter()
        self.warm: list = []
        self.records: list = []
        self.cancelling = False  # set once only unrecorded ops can still run

    # -- one operation ---------------------------------------------------------

    def run_op(self, i: int, traced: bool, phase: str = "run", harvest: bool = False):
        from core import OpRecord
        from m3_spark.plans.cancel import QueryTimeoutError, query_group

        op = self.wl.op(i, phase)
        rec = OpRecord(i if phase == "run" else -1 - i, i // self.wl.round_len,
                       op.template, op.key, traced)
        gid = None
        t0 = time.perf_counter()
        try:
            with self.tracer.op(rec.op_id, traced):
                with query_group(self.spark, OP_TIMEOUT_S, op.key) as gid:
                    out = op.run()
            rec.latency_s = time.perf_counter() - t0
            rec.items = int(op.items(out))
            rec.ok = bool(op.check(out))
            rec.error = "" if rec.ok else "wrong output"
        except QueryTimeoutError:
            rec.latency_s = time.perf_counter() - t0
            rec.error = "timeout"
        except Exception as e:  # an engine failure is a failed op, not a crash
            rec.latency_s = time.perf_counter() - t0
            rec.error = f"{type(e).__name__}: {e}"[:500]
        if (traced or harvest) and gid is not None:
            t1 = time.perf_counter()
            rec.exec = self.harvester.group(gid)
            rec.trace_cost_s = time.perf_counter() - t1
            if op.min_input_rows and rec.ok:
                self.guard(rec, op.min_input_rows)
        if rec.error and not self.cancelling:
            print(f"# op {rec.op_id} {rec.key}: {rec.error}", file=sys.stderr)
        return rec

    def cancel_rest(self) -> None:
        """Every recorded op returned: cancel the unrecorded ones still
        running instead of waiting them out."""
        self.cancelling = True
        self.spark.sparkContext.cancelAllJobs()

    @staticmethod
    def guard(rec, need: int) -> None:
        got = rec.exec.get("input_rows", 0)
        if got <= 0 or got < need:
            raise InputGuardError(
                f"{rec.key}: read {got:.0f} input rows, seeded inputs need >= {need}")

    # -- the run ---------------------------------------------------------------

    def main(self) -> dict:
        from core import RssSampler, closed_loop
        from sparkstats import Harvester
        from workloads import Ctx, Dashboard, Ingest, Longrange

        a = self.args
        with RssSampler() as rss:
            t = time.perf_counter()
            from m3_spark.session import get_spark

            self.spark = get_spark("perfbench", cpus=self.cpus)
            self.spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t
            self.harvester = Harvester(self.spark)
            self.wl = {"dashboard": Dashboard, "longrange": Longrange,
                       "ingest": Ingest}[a.workload]()
            self.ctx = Ctx(self.spark, self.tracer, self.work, a.seed)
            self.wl.setup(self.ctx)
            t = time.perf_counter()
            self.warm = [self.run_op(i, False, "warm", harvest=True)
                         for i in range(self.wl.round_len)]
            warm_s = time.perf_counter() - t
            from m3_spark.plans.cache import parse_cache_stats

            pc0 = parse_cache_stats()
            self.records, loop_s = closed_loop(
                self.run_op, self.wl.round_len, self.wl.clients,
                rounds_for(self.wl, a.seconds, bool(a.trace)), bool(a.trace),
                on_done=self.cancel_rest)
            pc1 = parse_cache_stats()
            extra = self.wl.finish(self.ctx, bool(a.trace))
            cal_ms = calibration_ms(self.spark, self.cpus)
            self.wl.teardown(self.ctx)
        from metrics import end_to_end, per_layer, setup_seconds

        setup_s = setup_seconds(session_s, self.ctx.timings, warm_s)
        ops = self.warm + self.records
        failed = sum(1 for r in ops if r.error) + len(extra.get("errors", []))
        attempted = len(ops) + len(extra.get("checks", []))
        correct = failed == 0
        if a.trace:
            metrics = per_layer(self, pc0, pc1, session_s, cal_ms, extra,
                                failed / attempted, rss.peak_kb / 1024.0)
        else:
            metrics = end_to_end(self, self.wl.clients, setup_s, TAIL_PCT[a.workload])
        self.write_record(metrics, setup_s, session_s, warm_s, loop_s, cal_ms, extra)
        return {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": metrics}

    def write_record(self, metrics, setup_s, session_s, warm_s, loop_s, cal_ms, extra):
        a = self.args
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        ops = [
            {k: v for k, v in r.__dict__.items() if k != "exec"}
            | {"exec": {k: v for k, v in r.exec.items() if not k.startswith("_")}}
            for r in self.warm + self.records
        ]
        rec = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cpus": self.cpus, "metrics": metrics,
            "setup": {"session_s": session_s, "warmup_s": warm_s,
                      **{k: v for k, v in self.ctx.timings.items()}},
            "loop_s": loop_s,
            "diagnostics": {"calibration_ms": cal_ms,
                            "checks": extra.get("checks", []),
                            "errors": extra.get("errors", [])},
            "ops": ops,
            "spans": self.tracer.as_records() if a.trace else [],
        }
        path = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        with open(path, "w") as f:
            json.dump(rec, f, default=float)

    def close(self) -> None:
        """Stop the session, then end the JVM and wait for it: it exits
        when its stdin closes (and takes the Python workers with it)."""
        spark = getattr(self, "spark", None)
        if spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            spark.stop()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                gateway.shutdown()
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_all(args) -> int:
    """Every workload in turn, each in its own process (its own JVM);
    prints each metric as ``workload name value unit``, then one JSON line
    with the metrics keyed ``<workload>.<metric>``."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if p.returncode:
            return p.returncode
        res = json.loads(p.stdout.strip().splitlines()[-1])
        for name, m in res["metrics"].items():
            print(f"{w:10s} {name:32s} {m['value']:14.4f} {m['unit']}")
            total["metrics"][f"{w}.{name}"] = m
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "m3_spark")):
        print(f"perfbench: no m3_spark package next to {HERE}; run from a "
              "repository checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path[:0] = [HERE, ROOT]
    runner = Runner(args)
    try:
        result = runner.main()
    except InputGuardError as e:
        print(f"perfbench: input guard: {e}", file=sys.stderr)
        return 3
    finally:
        runner.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
