"""The three workloads: what each seeds, which operations it runs through
the engine's public entry points, and how each output is checked.

An operation is ``Op.run()`` (the timed part, a call into the engine
that ends with a rendered response or a durable write), ``Op.check``
(compares that output with ``reference.py``) and ``Op.min_input_rows``
(the seeded rows the operation must at least read, for the input guard).
Calls into each engine layer are wrapped in ``tracer.span(name, layer)``.
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

import gen
import reference as ref
from gen import DAY, HOUR, T0, utc


def day(ts: int) -> str:
    """The date partition holding ``ts`` (read_namespace bounds)."""
    return utc(ts).strftime("%Y-%m-%d")


@dataclass
class Op:
    template: str
    key: str  # template + parameters: equal keys give equal outputs
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    items: Callable[[Any], int]
    min_input_rows: int = 0  # 0: the op is a write, no read guard


@dataclass
class Ctx:
    spark: Any
    tracer: Any
    work: str
    seed: int
    timings: dict = field(default_factory=dict)


def _timed(ctx: Ctx, key: str, fn):
    t = time.perf_counter()
    out = fn()
    ctx.timings.setdefault(key, []).append(time.perf_counter() - t)
    return out


def _matrix_points(resp: dict) -> int:
    return sum(len(s["values"]) for s in resp["data"]["result"])


def _graphite_points(resp: list) -> int:
    return sum(1 for s in resp for v, _ in s["datapoints"] if v is not None)


class ReadWorkload:
    """Shared seeding for the two read workloads: the generated samples
    go through the remote-write / carbon-path adapters and land in a
    snapshot-managed namespace in ``SEED_BATCHES`` equal micro-batches
    (dictionary first, then facts, as the consume loop orders them)."""

    SEED_BATCHES = 3
    ns: gen.Namespace

    def finish(self, ctx: Ctx, traced: bool) -> dict:
        """Every read is checked as it returns: no end-of-run checks."""
        return {}

    def teardown(self, ctx: Ctx) -> None:
        pass

    def _seed(self, ctx: Ctx) -> None:
        from m3_spark.graphite.paths import paths_to_samples
        from m3_spark.sources.ingest import from_remote_write
        from m3_spark.sources.namespace import (
            init_namespace_snapshot,
            write_namespace_batch,
            write_series_dict,
        )

        spark = ctx.spark
        files = self.ns.files
        samples = from_remote_write(spark.read.parquet(files["prom"])).unionByName(
            paths_to_samples(spark.read.parquet(files["graphite"]))
        )
        self.path = os.path.join(ctx.work, "ns")
        os.makedirs(self.path)
        init_namespace_snapshot(self.path)
        edges = np.linspace(self.ns.start, self.ns.end, self.SEED_BATCHES + 1)
        from pyspark.sql import functions as F

        for b in range(self.SEED_BATCHES):
            part = samples.where(
                (F.unix_timestamp("ts") >= int(edges[b]))
                & (F.unix_timestamp("ts") < int(edges[b + 1]) + (b == self.SEED_BATCHES - 1))
            )

            def one(part=part, b=b):
                write_series_dict(part, self.path)
                write_namespace_batch(part, self.path, b)

            _timed(ctx, "seed_batch_s", one)
        self.samples = samples

    def read(self, ctx: Ctx, start: int, end: int):
        from m3_spark.sources.namespace import read_namespace

        with ctx.tracer.span("read_namespace", "sources"):
            return read_namespace(ctx.spark, self.path, day(start), day(end))

    def promql(self, ctx, q, start, end, step, lookback=300, samples=None, dims=None):
        from m3_spark.functions.render import to_prom_matrix
        from m3_spark.plans.engine import query_range

        samples = samples if samples is not None else self.read(ctx, start - HOUR, end)
        with ctx.tracer.span("query_range", "plans"):
            df = query_range(samples, q, utc(start), utc(end), step, lookback, dims=dims)
        with ctx.tracer.span("to_prom_matrix", "functions"):
            return to_prom_matrix(df)

    def graphite(self, ctx, target, start, end, step, samples=None, dims=None):
        from m3_spark.functions.render import to_graphite_render
        from m3_spark.graphite.compiler import evaluate

        samples = samples if samples is not None else self.read(ctx, start - HOUR, end)
        with ctx.tracer.span("evaluate", "graphite"):
            df = evaluate(samples, target, utc(start), utc(end), step, dims=dims)
        with ctx.tracer.span("to_graphite_render", "functions"):
            return to_graphite_render(df)


def _in_window(g: gen.SeriesGroup, sel, start: int, end: int) -> int:
    """Seeded samples of the selected series inside ``[start, end]``."""
    ts = g.ts()
    return int(sum(((ts[i] >= start) & (ts[i] <= end)).sum()
                   for i in range(g.n) if sel(i)))


# -- dashboard ---------------------------------------------------------------------------


class Dashboard(ReadWorkload):
    """Closed loop of short requests: PromQL range queries, an M3QL
    pipeline, Graphite targets and metadata calls, all rendered."""

    name = "dashboard"
    clients = 4
    templates = ("sum_by", "rate_sum", "topk", "binary", "m3ql",
                 "graphite_sum", "graphite_group", "label_values", "series_match")
    round_len = len(templates)
    ROUND_S = 4.0  # one round's wall time at 4 clients on a 4-core box
    #: query window per template (hours, 1m steps): fixed, so every round
    #: costs the same whatever the seed; seeds vary data and selectors
    WINDOW_H = {"sum_by": 12, "rate_sum": 6, "topk": 3, "binary": 1, "m3ql": 6,
                "graphite_sum": 12, "graphite_group": 3, "label_values": 0,
                "series_match": 0}

    def setup(self, ctx: Ctx) -> None:
        self.ns = _timed(ctx, "gen_s", lambda: gen.dashboard_namespace(ctx.seed))
        _timed(ctx, "gen_s", lambda: self.ns.write(ctx.work))
        self._seed(ctx)
        from m3_spark.sources.namespace import read_series_dict

        self.dims = lambda: read_series_dict(ctx.spark, self.path)
        self.ctx = ctx

    def op(self, i: int, phase: str) -> Op:
        ctx, ns = self.ctx, self.ns
        tpl = self.templates[i % self.round_len]
        rng = np.random.default_rng([ctx.seed, 7 if phase == "warm" else 8, i])
        end = ns.end
        region = gen.choose(rng, gen.REGIONS)
        g, c, p = ns.prom["cpu_usage"], ns.prom["http_requests_total"], ns.graphite
        in_region = lambda grp: (lambda j: grp.labels[j]["region"] == region)  # noqa: E731
        sel = lambda lab: lab["region"] == region  # noqa: E731

        start = end - self.WINDOW_H[tpl] * HOUR
        if tpl in ("sum_by", "rate_sum", "topk", "binary", "m3ql"):
            grid = ref.steps(start, end, 60)
            if tpl == "sum_by":
                q = f'sum by (job) (cpu_usage{{region="{region}"}})'
                want = lambda: ref.consolidated_by(g, sel, "job", grid, 300)  # noqa: E731
                label, grp, need = "job", g, in_region(g)
            elif tpl == "rate_sum":
                q = "sum by (region) (rate(http_requests_total[5m]))"
                want = lambda: ref.rate_sum_by(c, "region", grid)  # noqa: E731
                label, grp, need = "region", c, (lambda j: True)
            elif tpl == "topk":
                q = f'topk(3, cpu_usage{{region="{region}"}})'
                want = lambda: ref.topk(g, sel, 3, grid, 300)  # noqa: E731
                label, grp, need = "instance", g, in_region(g)
            elif tpl == "binary":
                q = (f'sum by (job) (cpu_usage{{region="{region}"}}) / '
                     f'count by (job) (cpu_usage{{region="{region}"}})')
                want = lambda: ref.consolidated_by(g, sel, "job", grid, 300, "avg")  # noqa: E731
                label, grp, need = "job", g, in_region(g)
            else:
                q = f"fetch name:cpu_usage region:{region} | sum job"
                want = lambda: ref.consolidated_by(g, sel, "job", grid, 300)  # noqa: E731
                label, grp, need = "job", g, in_region(g)
            if tpl == "m3ql":
                run = lambda: self.m3ql(ctx, q, start, end)  # noqa: E731
            else:
                run = lambda: self.promql(ctx, q, start, end, 60)  # noqa: E731
            return Op(tpl, f"{tpl}|{q}|{start}", run,
                      lambda r: ref.same_series(ref.prom_matrix(r, label), want()),
                      _matrix_points, _in_window(grp, need, start, end))

        if tpl in ("graphite_sum", "graphite_group"):
            if tpl == "graphite_sum":
                dc = f"dc{int(rng.integers(0, 4))}"
                target = f"sumSeries(servers.{dc}.*.cpu)"
                match = lambda pth: pth.split(".")[1] == dc  # noqa: E731
                key = lambda pth: target  # noqa: E731
            else:
                target = 'groupByNode(servers.*.*.cpu, 1, "sum")'
                match = lambda pth: True  # noqa: E731
                key = lambda pth: pth.split(".")[1]  # noqa: E731
            step = gen.DASHBOARD_SIZES["path_interval_s"]
            grid = ref.steps(start, end, step)
            want = lambda: ref.graphite_sum(p, match, grid, step, key)  # noqa: E731
            # a single-series result is keyed by the target, whatever its name
            name = (lambda t: target) if tpl == "graphite_sum" else (lambda t: t)
            return Op(tpl, f"{tpl}|{target}|{start}",
                      lambda: self.graphite(ctx, target, start, end, step),
                      lambda r: ref.same_series(ref.graphite_json(r, name), want()),
                      _graphite_points, _in_window(p, lambda j: match(p.path[j]), start, end))

        if tpl == "label_values":
            matchers = [("=", "__name__", "cpu_usage"), ("=", "region", region)]
            return Op(tpl, f"{tpl}|{region}",
                      lambda: self.metadata(ctx, "label_values", matchers),
                      lambda r: r["data"] == ref.label_values(ns.files["prom"], "job",
                                                              "cpu_usage", region),
                      lambda r: len(r["data"]), sum(map(sel, g.labels)))
        matchers = [("=", "__name__", "http_requests_total"), ("=", "region", region)]
        return Op(tpl, f"{tpl}|{region}",
                  lambda: self.metadata(ctx, "series_match", matchers),
                  lambda r: sorted(tuple(sorted(s.items())) for s in r["data"])
                  == ref.series_match(ns.files["prom"], "http_requests_total", region),
                  lambda r: len(r["data"]), sum(map(sel, c.labels)))

    def m3ql(self, ctx, q, start, end):
        from m3_spark.functions.render import to_prom_matrix
        from m3_spark.plans.m3ql import evaluate

        samples = self.read(ctx, start - HOUR, end)
        with ctx.tracer.span("m3ql.evaluate", "plans"):
            df = evaluate(samples, q, utc(start), utc(end), 60)
        with ctx.tracer.span("to_prom_matrix", "functions"):
            return to_prom_matrix(df)

    def metadata(self, ctx, call, matchers):
        """label_values / series_match served from the series dictionary,
        wrapped in the Prometheus API envelope."""
        from m3_spark.functions import metadata
        from m3_spark.functions.render import dumps

        with ctx.tracer.span("read_series_dict", "sources"):
            dims = self.dims()
        with ctx.tracer.span(call, "functions"):
            if call == "label_values":
                rows = metadata.label_values(None, "job", matchers, dims=dims).collect()
                data = sorted(r["value"] for r in rows)
            else:
                rows = metadata.series_match(None, matchers, dims=dims).collect()
                data = [dict(r["tags"], __name__=r["name"]) for r in rows]
            resp = {"status": "success", "data": data}
            dumps(resp)  # the response body a handler would send
        return resp


# -- longrange ---------------------------------------------------------------------------


class Longrange(ReadWorkload):
    """One client, few heavy queries with lookback >> step over 15 days,
    each read through the plain namespace and through the bucketed table
    plus series dictionary."""

    name = "longrange"
    clients = 1
    templates = tuple(f"{t}.{path}" for t in ("rate_1h", "sum_over_time_6h",
                                             "topk_7d", "holt_7d")
                      for path in ("plain", "dict"))
    round_len = len(templates)
    ROUND_S = 12.0
    BUCKETS = 8

    def setup(self, ctx: Ctx) -> None:
        from m3_spark.sources.namespace import write_namespace_bucketed, write_series_dict

        self.ns = _timed(ctx, "gen_s", lambda: gen.longrange_namespace(ctx.seed))
        _timed(ctx, "gen_s", lambda: self.ns.write(ctx.work))
        self._seed(ctx)
        self.table = f"perfbench_lr_{os.getpid()}"
        self.bpath = os.path.join(ctx.work, "bucketed")

        def bucketed():
            write_namespace_bucketed(self.samples, self.table, self.bpath,
                                     bucket_count=self.BUCKETS)
            write_series_dict(self.samples, self.bpath)

        _timed(ctx, "seed_bucketed_s", bucketed)
        self.ctx = ctx

    def teardown(self, ctx: Ctx) -> None:
        ctx.spark.sql(f"DROP TABLE IF EXISTS {self.table}")

    def read_dict(self, ctx, start, end):
        from m3_spark.sources.namespace import read_namespace_bucketed, read_series_dict

        with ctx.tracer.span("read_namespace_bucketed", "sources"):
            samples = read_namespace_bucketed(ctx.spark, self.table, day(start), day(end))
        with ctx.tracer.span("read_series_dict", "sources"):
            dims = read_series_dict(ctx.spark, self.bpath)
        return samples, dims

    def op(self, i: int, phase: str) -> Op:
        ctx, ns = self.ctx, self.ns
        tpl = self.templates[i % self.round_len]
        kind, path = tpl.split(".")
        rng = np.random.default_rng([ctx.seed, 9 if phase == "warm" else 10, i])
        end = ns.end
        region = gen.choose(rng, gen.REGIONS)
        c, g, p = ns.prom["requests_total"], ns.prom["mem_bytes"], ns.graphite
        sel = lambda lab: lab["region"] == region  # noqa: E731
        span = {"rate_1h": 12 * HOUR, "sum_over_time_6h": DAY,
                "topk_7d": 7 * DAY, "holt_7d": 7 * DAY}[kind]
        start = end - span
        reach = {"rate_1h": HOUR, "sum_over_time_6h": 6 * HOUR,
                 "topk_7d": 900, "holt_7d": 7 * DAY}[kind]

        def inputs():
            if path == "plain":
                return self.read(ctx, start - reach, end), None
            return self.read_dict(ctx, start - reach, end)

        if kind == "holt_7d":
            r = f"r{int(rng.integers(0, 4))}"
            target = f"holtWintersForecast(hosts.{r}.*.load)"
            match = [j for j, pth in enumerate(p.path) if pth.split(".")[1] == r]
            consts = {f"holtWintersForecast({p.path[j]})": float(p.values[j, 0]) for j in match}

            def run():
                samples, dims = inputs()
                return self.graphite(ctx, target, start, end, HOUR, samples, dims)

            def check(resp):
                got = ref.graphite_json(resp)
                return (got.keys() == consts.keys()
                        and all(pts and all(ref.close(v, consts[k]) for v in pts.values())
                                for k, pts in got.items()))

            return Op(tpl, f"{tpl}|{r}", run, check, _graphite_points,
                      _in_window(p, lambda j: j in match, start, end))

        if kind == "rate_1h":
            q, step, lb = "sum by (region) (rate(requests_total[1h]))", 15, 300
            grid = ref.steps(start, end, step)
            want = lambda: ref.rate_sum_by(c, "region", grid)  # noqa: E731
            label, grp, need = "region", c, (lambda j: True)
        elif kind == "sum_over_time_6h":
            q, step, lb = f'sum_over_time(mem_bytes{{region="{region}"}}[6h])', HOUR, 300
            grid = ref.steps(start, end, step)
            want = lambda: ref.sum_over_time(g, sel, 6 * HOUR, grid)  # noqa: E731
            label, grp, need = "instance", g, (lambda j: sel(g.labels[j]))
        else:
            q, step, lb = "topk(3, mem_bytes)", HOUR, 900
            grid = ref.steps(start, end, step)
            want = lambda: ref.topk(g, lambda lab: True, 3, grid, 900)  # noqa: E731
            label, grp, need = "instance", g, (lambda j: True)

        def run():
            samples, dims = inputs()
            return self.promql(ctx, q, start, end, step, lb, samples, dims)

        return Op(tpl, f"{tpl}|{q}", run,
                  lambda resp: ref.same_series(ref.prom_matrix(resp, label), want()),
                  _matrix_points, _in_window(grp, need, start, end))


# -- ingest ------------------------------------------------------------------------------


class Ingest:
    """One producer; each operation is one micro-batch through the consume
    loop's write functions.  A cycle is a carbon, an influx and a
    Prometheus remote-write metrics batch, then a document + embedding
    batch with planted duplicates."""

    name = "ingest"
    clients = 1
    templates = ("carbon", "influx", "remote_write", "docs")
    round_len = len(templates)
    ROUND_S = 15.0
    BUFFER_PAST_S = 2 * HOUR
    BUFFER_FUTURE_S = 2 * HOUR
    SEM_EPS = 0.99  # cosine similarity at or above which a later vector is dropped
    ROLLUPS = (("1m", 60), ("1h", HOUR))

    def setup(self, ctx: Ctx) -> None:
        from m3_spark.pipeline.similarity import seed_embedding_table
        from m3_spark.sources.namespace import init_namespace_snapshot

        self.ctx = ctx
        self.ns = os.path.join(ctx.work, "ns")
        self.corpus = os.path.join(ctx.work, "corpus")
        self.emb = os.path.join(ctx.work, "emb")
        os.makedirs(self.ns)
        init_namespace_snapshot(self.ns)
        self.batches: dict[str, dict] = {}
        self.truth: list = []  # metric batches written
        self.doc_batches: dict[int, tuple[set, set]] = {}  # id -> (found, planted)
        self.doc_time: list[tuple[int, float]] = []  # (documents, seconds) per batch
        rows = _timed(ctx, "gen_s", lambda: gen.emb_seed_rows(ctx.seed))
        seed_df = ctx.spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        _timed(ctx, "seed_emb_s", lambda: seed_embedding_table(
            seed_df, self.emb, n_clusters=gen.INGEST_SIZES["emb_clusters"]))
        self.now = utc(T0 + HOUR)

    def _batch(self, i: int, phase: str, kind: str) -> int:
        # metrics and document batches each number their deliveries
        # 0, 1, 2, ... in op order (warm-up first), every id delivered once
        seq = self.batches.setdefault(kind, {})
        return seq.setdefault((phase, i), len(seq))

    def op(self, i: int, phase: str) -> Op:
        tpl = self.templates[i % self.round_len]
        if tpl == "docs":
            db = gen.doc_batch(self.ctx.seed, self._batch(i, phase, "docs"))
            # items count samples written; documents go to pipeline.docs_per_s
            return Op(tpl, f"docs|{db.batch_id}", lambda: self.docs(db),
                      lambda r: r, lambda r: 0)
        mb = gen.metric_batch(self.ctx.seed, self._batch(i, phase, "metrics"), tpl)
        return Op(tpl, f"{tpl}|{mb.batch_id}", lambda: self.metrics(mb),
                  lambda r: r == len(mb.ts), lambda r: r)

    def metrics(self, mb) -> int:
        """decode → write window → series dict → facts → rollup sinks;
        returns the decoded sample count."""
        from pyspark.sql import functions as F

        from m3_spark.sources.ingest import from_remote_write_wire, parse_carbon, parse_influx
        from m3_spark.sources.namespace import (
            accept_write_window,
            housekeep_namespace,
            write_namespace_batch,
            write_series_dict,
        )
        from m3_spark.streaming.aggregator import RollupRule, apply_rollup_rules, tumbling_aggregates

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        with tr.span("decode", "sources"):
            if mb.fmt == "remote_write":
                s = from_remote_write_wire(spark, mb.payload)
            else:
                lines = spark.createDataFrame([(x,) for x in mb.payload], "value string")
                s = (parse_carbon if mb.fmt == "carbon" else parse_influx)(lines)
            s = s.localCheckpoint(eager=True)
        acc = accept_write_window(s, self.now, self.BUFFER_PAST_S, self.BUFFER_FUTURE_S)
        with tr.span("write_series_dict", "sources"):
            write_series_dict(acc, self.ns)
        with tr.span("write_namespace_batch", "sources"):
            write_namespace_batch(acc, self.ns, mb.batch_id)
        m = acc.select(F.col("series_id").alias("metric_id"), "ts", "value")
        with tr.span("tumbling_aggregates", "streaming"):
            for label, res in self.ROLLUPS:
                tumbling_aggregates(m, res).write.mode("append").parquet(
                    os.path.join(ctx.work, f"rollup_{label}"))
            rules = [RollupRule("by_dc", "metric_id like '%dc%'", "'rollup_dc'", ("1m:2d",))]
            for _, df in apply_rollup_rules(m, rules).items():
                df.write.mode("append").parquet(os.path.join(ctx.work, "rollup_rules"))
        if mb.fmt == "remote_write":
            with tr.span("housekeep_namespace", "sources"):
                housekeep_namespace(spark, self.ns, self.now,
                                    closed_buffer_s=self.BUFFER_PAST_S)
        self.truth.append(mb)
        return len(mb.ts)

    def docs(self, db) -> bool:
        """document_arrival_step + semdedup_ingest_batch for one batch;
        True when every planted duplicate was caught."""
        from m3_spark.pipeline.arrival import document_arrival_step, pair_log_path
        from m3_spark.pipeline.similarity import semdedup_ingest_batch

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        t0 = time.perf_counter()
        docs = spark.createDataFrame(db.docs, "doc_id long, text string")
        with tr.span("document_arrival_step", "pipeline"):
            document_arrival_step(docs, self.corpus, db.batch_id, span_words=None)
        embs = spark.createDataFrame(db.embs, "vec_id long, embedding array<double>")
        with tr.span("semdedup_ingest_batch", "pipeline"):
            kept = {r["vec_id"] for r in semdedup_ingest_batch(
                embs, self.emb, eps=self.SEM_EPS, batch_id=db.batch_id).collect()}
        dropped = {v for v, _ in db.embs} - kept
        leaf = glob.glob(os.path.join(pair_log_path(self.corpus), "**",
                                      f"_pair_batch={db.batch_id}", "*.parquet"),
                         recursive=True)
        pairs = ref.pair_set(leaf) if leaf else set()
        self.doc_batches[db.batch_id] = (pairs, set(db.dup_pairs))
        self.doc_time.append((len(db.docs), time.perf_counter() - t0))
        return set(db.dup_pairs) <= pairs and dropped == set(db.emb_dups)

    def teardown(self, ctx: Ctx) -> None:
        pass

    def finish(self, ctx: Ctx, traced: bool) -> dict:
        """End-of-run checks (read-after-write, rollup totals, planted
        duplicates) and the write-path space and pipeline counts."""
        from pyspark.sql import functions as F

        from m3_spark.plans.cancel import query_group
        from m3_spark.sources import snapshots
        from m3_spark.sources.namespace import read_namespace

        out: dict = {"checks": [], "errors": []}

        def check(name: str, ok: bool) -> None:
            out["checks"].append(name)
            if not ok:
                out["errors"].append(name)

        # read-after-write: per metric name, count and sum of what was sent
        want: dict[str, list] = {}
        for mb in self.truth:
            for nm, v in zip(mb.names, mb.values):
                w = want.setdefault(nm, [0, 0.0])
                w[0] += 1
                w[1] += float(v)
        with query_group(ctx.spark, 60.0, "read_after_write"):
            rows = (read_namespace(ctx.spark, self.ns).groupBy("name")
                    .agg(F.count("*").alias("n"), F.sum("value").alias("s")).collect())
        got = {r["name"]: (r["n"], r["s"]) for r in rows}
        check("read_after_write", got.keys() == want.keys() and all(
            got[k][0] == n and ref.close(got[k][1], s) for k, (n, s) in want.items()))

        # rollup sinks: every sample lands in exactly one window per resolution
        total = sum(float(v) for mb in self.truth for v in mb.values)
        rollup_rows = 0
        for label, _ in self.ROLLUPS:
            files = os.path.join(ctx.work, f"rollup_{label}", "*.parquet")
            check(f"rollup_{label}_sum", ref.close(ref.column_sum(files, "agg_sum"), total))
            rollup_rows += ref.count_rows(files)
        n_batches = max(1, len(self.truth))
        out["streaming.rollup_rows"] = rollup_rows / n_batches

        # write amplification and space
        n_samples = max(1, sum(len(mb.ts) for mb in self.truth))
        written = sum(os.path.getsize(f) for f in glob.glob(
            os.path.join(self.ns, "**", "*.parquet"), recursive=True))
        live = []
        for table in (self.ns, os.path.join(self.ns, "_series_dict")):
            live += [os.path.join(table, f) for f in snapshots.read_manifest(table)["files"]]
        out["sources.bytes_written_per_sample"] = written / n_samples
        out["sources.bytes_on_disk_per_sample"] = sum(map(os.path.getsize, live)) / n_samples
        out["sources.table_files"] = len(live)

        # planted duplicates
        found = sum(len(f & p) for f, p in self.doc_batches.values())
        planted = sum(len(p) for _, p in self.doc_batches.values())
        cands = sum(len(f) for f, _ in self.doc_batches.values())
        out["pipeline.dup_recall"] = found / planted if planted else 1.0
        out["pipeline.candidate_pairs"] = cands / max(1, len(self.doc_batches))
        out["pipeline.candidate_precision"] = found / cands if cands else 1.0
        check("dup_recall", found == planted)
        docs, secs = map(sum, zip(*self.doc_time)) if self.doc_time else (0, 1.0)
        out["pipeline.docs_per_s"] = docs / secs
        if traced:
            self._cadence(ctx, out, check)
        return out

    def _cadence(self, ctx, out, check) -> None:
        """The periodic corpus steps, once, timed: cluster materialization
        (planted copies must share a cluster) and the housekeeping tick."""
        from m3_spark.pipeline.arrival import housekeep_corpus, materialize_clusters

        t = time.perf_counter()
        clusters = {r["node"]: r["cluster"]
                    for r in materialize_clusters(ctx.spark, self.corpus).collect()}
        out["pipeline.materialize_ms"] = 1e3 * (time.perf_counter() - t)
        planted = [p for _, ps in self.doc_batches.values() for p in ps]
        check("clusters", all(clusters.get(a) is not None and clusters.get(a) == clusters.get(b)
                              for a, b in planted))
        t = time.perf_counter()
        housekeep_corpus(ctx.spark, self.corpus)
        out["pipeline.housekeep_ms"] = 1e3 * (time.perf_counter() - t)
