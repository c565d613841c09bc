"""Seeded input generators.

Every input the benchmark feeds the engine is made here from one integer
seed with ``numpy.random.default_rng``: the same seed gives byte-identical
inputs, another seed gives other values, label assignments, phases and
query parameters while the sizes stay fixed (so row counts are comparable
across seeds).  The generators also return the planted facts
(per-series rates, phases, constants, duplicate pairs) the closed-form
references in ``reference.py`` check outputs against.

Nothing here imports the engine: the remote-write wire body is encoded
with a local protobuf writer and a literal-only snappy block, so the
decoder under test never sees bytes produced by its own encoder.
"""

from __future__ import annotations

import datetime as dt
import struct
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: data epoch of every workload (UTC, seconds)
T0 = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp())
DAY = 86_400
HOUR = 3_600


def utc(ts: float) -> dt.datetime:
    """Naive-UTC datetime the engine's time arguments take."""
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).replace(tzinfo=None)


@dataclass
class SeriesGroup:
    """Regularly sampled series: sample ``j`` of series ``i`` sits at
    ``T0 + phase[i] + j * interval``.  ``values[i, j]`` is its value."""

    name: str
    labels: list[dict]  # per series, without __name__
    interval: int
    phase: np.ndarray
    values: np.ndarray  # (n_series, n_samples)
    rate: np.ndarray | None = None  # planted counter rate per series
    path: list[str] | None = None  # graphite path per series

    @property
    def n(self) -> int:
        return len(self.labels)

    def ts(self) -> np.ndarray:
        j = np.arange(self.values.shape[1])
        return T0 + self.phase[:, None] + j[None, :] * self.interval

    def last_at(self, steps: np.ndarray, lookback: int) -> np.ndarray:
        """Consolidated value of every series at every step: the last
        sample in ``[t - lookback, t]`` (NaN where none) — the engine's
        range-query consolidation, restated on the generator's grid."""
        k = np.floor((steps[None, :] - T0 - self.phase[:, None]) / self.interval)
        k = k.astype(np.int64)
        t_k = T0 + self.phase[:, None] + k * self.interval
        ok = (k >= 0) & (k < self.values.shape[1]) & (steps[None, :] - t_k <= lookback)
        kk = np.clip(k, 0, self.values.shape[1] - 1)
        out = np.take_along_axis(self.values, kk, axis=1)
        return np.where(ok, out, np.nan)


def _labels_table(groups: list[SeriesGroup]) -> pa.Table:
    """Remote-write relational shape: (labels incl. __name__, ts, value)."""
    labels, ts, vals = [], [], []
    for g in groups:
        t = g.ts()
        for i in range(g.n):
            lab = [("__name__", g.name)] + sorted(g.labels[i].items())
            labels.extend([lab] * t.shape[1])
        ts.append(t.ravel())
        vals.append(g.values.ravel())
    return pa.table({
        "labels": pa.array(labels, type=pa.map_(pa.string(), pa.string())),
        "ts": pa.array(np.concatenate(ts) * 1_000_000, type=pa.timestamp("us")),
        "value": pa.array(np.concatenate(vals), type=pa.float64()),
    })


def _paths_table(groups: list[SeriesGroup]) -> pa.Table:
    paths, ts, vals = [], [], []
    for g in groups:
        t = g.ts()
        for i in range(g.n):
            paths.extend([g.path[i]] * t.shape[1])
        ts.append(t.ravel())
        vals.append(g.values.ravel())
    return pa.table({
        "path": pa.array(paths, type=pa.string()),
        "ts": pa.array(np.concatenate(ts) * 1_000_000, type=pa.timestamp("us")),
        "value": pa.array(np.concatenate(vals), type=pa.float64()),
    })


def _gauge(rng, name, labels, interval, span_s, *, unique=True):
    n = len(labels)
    m = span_s // interval
    phase = rng.integers(1, interval, n)
    k = rng.integers(0, 1000, (n, m))
    # (k * n + i) / 4: exact binary fractions, distinct across series at
    # every instant, so topk has no ties
    vals = ((k * n + np.arange(n)[:, None]) / 4.0) if unique else k / 4.0
    return SeriesGroup(name, labels, interval, phase, vals)


def _counter(rng, name, labels, interval, span_s):
    n = len(labels)
    m = span_s // interval
    phase = rng.integers(1, interval, n)
    rate = rng.integers(1, 161, n) / 16.0
    base = rng.integers(1_000, 100_000, n).astype(np.float64)
    t_rel = phase[:, None] + np.arange(m)[None, :] * interval
    return SeriesGroup(name, labels, interval, phase,
                       base[:, None] + rate[:, None] * t_rel, rate=rate)


# -- read workloads ------------------------------------------------------------

REGIONS = [f"r{i}" for i in range(8)]


@dataclass
class Namespace:
    """One seeded namespace: PromQL series groups plus graphite paths."""

    prom: dict[str, SeriesGroup]
    graphite: SeriesGroup
    start: int
    end: int
    files: dict[str, str] = field(default_factory=dict)

    def write(self, out_dir: str) -> dict[str, str]:
        """Write the generated samples as parquet: ``prom`` in the
        remote-write relational shape, ``graphite`` as carbon paths."""
        self.files = {
            "prom": f"{out_dir}/prom.parquet",
            "graphite": f"{out_dir}/graphite.parquet",
        }
        pq.write_table(_labels_table(list(self.prom.values())), self.files["prom"])
        pq.write_table(_paths_table([self.graphite]), self.files["graphite"])
        return self.files


def _prom_labels(rng, n):
    jobs = rng.permutation(25)
    return [
        {"region": REGIONS[i % 8], "job": f"j{jobs[(i // 8) % 25]}", "instance": f"h{i}"}
        for i in range(n)
    ]


DASHBOARD_SIZES = {"gauges": 400, "counters": 100, "paths": 100,
                   "gauge_interval_s": 300, "counter_interval_s": 120,
                   "path_interval_s": 120, "span_h": 13}


def dashboard_namespace(seed: int) -> Namespace:
    """600 series over 13h: cpu_usage gauges (300 s), http counters
    with planted rates (120 s), carbon paths servers.dcD.hostH.cpu (120 s)."""
    z = DASHBOARD_SIZES
    rng = np.random.default_rng([seed, 1])
    span = z["span_h"] * HOUR
    gauges = _gauge(rng, "cpu_usage", _prom_labels(rng, z["gauges"]),
                    z["gauge_interval_s"], span)
    counters = _counter(rng, "http_requests_total", _prom_labels(rng, z["counters"]),
                        z["counter_interval_s"], span)
    npth = z["paths"]
    paths = _gauge(rng, "", [{} for _ in range(npth)], z["path_interval_s"], span,
                   unique=False)
    paths.path = [f"servers.dc{i % 4}.host{i}.cpu" for i in range(npth)]
    return Namespace({"cpu_usage": gauges, "http_requests_total": counters},
                     paths, T0, T0 + span)


LONGRANGE_SIZES = {"counters": 48, "gauges": 48, "paths": 24,
                   "interval_s": 600, "span_d": 15}


def longrange_namespace(seed: int) -> Namespace:
    """120 series over 15 days at 600 s: requests_total counters with
    planted rates, mem_bytes gauges, and per-series CONSTANT carbon paths
    hosts.rR.hH.load (a constant series' Holt-Winters forecast is that
    constant, which gives the forecast a closed-form reference)."""
    z = LONGRANGE_SIZES
    rng = np.random.default_rng([seed, 2])
    span = z["span_d"] * DAY
    iv = z["interval_s"]
    counters = _counter(rng, "requests_total", _prom_labels(rng, z["counters"]), iv, span)
    gauges = _gauge(rng, "mem_bytes", _prom_labels(rng, z["gauges"]), iv, span)
    npth = z["paths"]
    const = rng.integers(1, 400, npth) / 4.0
    m = span // iv
    paths = SeriesGroup("", [{} for _ in range(npth)], iv, rng.integers(1, iv, npth),
                        np.repeat(const[:, None], m, axis=1))
    paths.path = [f"hosts.r{i % 4}.h{i}.load" for i in range(npth)]
    return Namespace({"requests_total": counters, "mem_bytes": gauges},
                     paths, T0, T0 + span)


# -- ingest workload -------------------------------------------------------------

INGEST_SIZES = {"samples_per_batch": 3000, "series_per_format": 300,
                "docs_per_batch": 120, "dup_every": 10, "emb_dim": 16,
                "emb_clusters": 8, "emb_seed_rows": 240, "words_per_doc": 60,
                "vocab": 5000}

FORMATS = ("carbon", "influx", "remote_write")


@dataclass
class MetricBatch:
    """One metrics micro-batch in one wire format, plus its decoded truth."""

    batch_id: int
    fmt: str
    payload: object  # list[str] lines, or bytes for remote_write
    names: list[str]  # canonical metric name per sample
    ts: np.ndarray
    values: np.ndarray


def metric_batch(seed: int, batch_id: int, fmt: str) -> MetricBatch:
    """Batch ``batch_id`` in wire format ``fmt``; its samples fall in the
    minute block ``[T0 + 1h + b*60, +60)`` so every batch lies inside the
    write window of the same ``now``."""
    z = INGEST_SIZES
    rng = np.random.default_rng([seed, 3, batch_id])
    n, ns = z["samples_per_batch"], z["series_per_format"]
    sid = np.arange(n) % ns
    ts = T0 + HOUR + batch_id * 60 + rng.integers(0, 60, n)
    vals = rng.integers(0, 4000, n) / 4.0
    if fmt == "carbon":
        names = [f"ingest.dc{i % 4}.host{i}.cpu" for i in sid]
        payload = [f"{nm} {v!r} {t}" for nm, v, t in zip(names, vals, ts)]
    elif fmt == "influx":
        names = ["disk.used"] * n
        payload = [f"disk,host=h{i},dc=d{i % 4} used={v!r} {t * 10**9}"
                   for i, v, t in zip(sid, vals, ts)]
    else:
        names = ["http_latency_ms"] * n
        series = {}
        for j in range(n):
            series.setdefault(int(sid[j]), []).append((int(ts[j]) * 1000, float(vals[j])))
        payload = encode_remote_write(
            [({"__name__": "http_latency_ms", "instance": f"h{i}", "dc": f"d{i % 4}"}, s)
             for i, s in sorted(series.items())]
        )
    return MetricBatch(batch_id, fmt, payload, names, ts, vals)


def _uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _field(num: int, wire: int, payload: bytes) -> bytes:
    key = _uvarint((num << 3) | wire)
    if wire == 2:
        return key + _uvarint(len(payload)) + payload
    return key + payload


def encode_remote_write(series: list[tuple[dict, list[tuple[int, float]]]]) -> bytes:
    """snappy(prompb.WriteRequest), written from the protobuf spec:
    TimeSeries=1 {Label=1 {name=1, value=2}, Sample=2 {value=1 double,
    timestamp=2 int64}}, compressed as one literal-only snappy block."""
    body = bytearray()
    for labels, samples in series:
        ts_msg = bytearray()
        for k in sorted(labels):
            ts_msg += _field(1, 2, _field(1, 2, k.encode()) + _field(2, 2, labels[k].encode()))
        for t_ms, v in samples:
            ts_msg += _field(2, 2, _field(1, 1, struct.pack("<d", v)) + _field(2, 0, _uvarint(t_ms)))
        body += _field(1, 2, bytes(ts_msg))
    return snappy_literal(bytes(body))


def snappy_literal(data: bytes) -> bytes:
    """A valid snappy block made only of literal elements (<= 64 KiB each)."""
    out = bytearray(_uvarint(len(data)))
    for i in range(0, len(data), 65536):
        chunk = data[i:i + 65536]
        n = len(chunk) - 1
        if n < 60:
            out.append(n << 2)
        elif n < 256:
            out += bytes([60 << 2, n])
        else:
            out += bytes([61 << 2]) + n.to_bytes(2, "little")
        out += chunk
    return bytes(out)


@dataclass
class DocBatch:
    """One document + embedding micro-batch with planted duplicates."""

    batch_id: int
    docs: list[tuple[int, str]]
    dup_pairs: list[tuple[int, int]]  # (earlier doc, planted copy)
    embs: list[tuple[int, list[float]]]
    emb_dups: list[int]  # vec ids planted as near-copies of earlier vectors


def _doc_text(seed: int, doc_id: int) -> str:
    z = INGEST_SIZES
    r = np.random.default_rng([seed, 4, doc_id])
    return " ".join(f"w{w}" for w in r.integers(0, z["vocab"], z["words_per_doc"]))


def _emb(seed: int, vec_id: int) -> np.ndarray:
    r = np.random.default_rng([seed, 5, vec_id])
    return r.normal(size=INGEST_SIZES["emb_dim"])


def emb_seed_rows(seed: int) -> list[tuple[int, list[float]]]:
    """The embedding corpus the SemDeDup quantizer is trained on."""
    return [(i, _emb(seed, i).tolist()) for i in range(INGEST_SIZES["emb_seed_rows"])]


def doc_batch(seed: int, batch_id: int) -> DocBatch:
    """Docs ``100_000 + b*N ..``; every ``dup_every``-th doc of batch b>0
    is an exact copy of a doc of batch b-1 (LSH must pair them), and
    every ``dup_every``-th embedding is the earlier vector plus 1e-6
    noise (SemDeDup must drop it)."""
    z = INGEST_SIZES
    n, every = z["docs_per_batch"], z["dup_every"]
    base = 100_000 + batch_id * n
    docs, pairs, embs, emb_dups = [], [], [], []
    r = np.random.default_rng([seed, 6, batch_id])
    for i in range(n):
        did = base + i
        if batch_id > 0 and i % every == every - 1:
            # the previous batch's doc at position i-1, never itself a copy
            src = base - n + i - 1
            docs.append((did, _doc_text(seed, src)))
            pairs.append((src, did))
            embs.append((did, (_emb(seed, src) + r.normal(scale=1e-6, size=z["emb_dim"])).tolist()))
            emb_dups.append(did)
        else:
            docs.append((did, _doc_text(seed, did)))
            embs.append((did, _emb(seed, did).tolist()))
    return DocBatch(batch_id, docs, pairs, embs, emb_dups)


# -- query parameters --------------------------------------------------------------


def choose(rng: np.random.Generator, options):
    return options[int(rng.integers(0, len(options)))]
