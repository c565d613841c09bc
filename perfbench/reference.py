"""Independent references for every operation's output.

Read results are checked against closed forms computed from the
generator's own arrays (consolidation = last sample in the lookback
window, counter rates = the planted per-series rates, a constant
series' forecast = the constant); metadata and write-path results are
checked with DuckDB over the generated parquet and the written tables.
None of this imports the engine.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np

from gen import SeriesGroup

RTOL = 1e-9
ATOL = 1e-6


def steps(start: int, end: int, step: int) -> np.ndarray:
    return np.arange(start, end + 1, step, dtype=np.int64)


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=RTOL, abs_tol=ATOL)


def same_series(got: dict, want: dict) -> bool:
    """``{key: {t: v}}`` equality with float tolerance."""
    if got.keys() != want.keys():
        return False
    for k, pts in want.items():
        g = got[k]
        if g.keys() != pts.keys():
            return False
        if not all(close(g[t], v) for t, v in pts.items()):
            return False
    return True


# -- canonical forms of rendered responses ------------------------------------------


def prom_matrix(resp: dict, label: str) -> dict:
    """Prometheus matrix JSON → ``{label value: {t: v}}``."""
    out = {}
    for s in resp["data"]["result"]:
        key = s["metric"].get(label)
        out[key] = {int(round(float(t))): float(v) for t, v in s["values"]}
    return out


def graphite_json(resp: list, name=lambda t: t) -> dict:
    """Graphite render JSON → ``{name(target): {t: v}}`` (None dropped)."""
    return {
        name(s["target"]): {int(t): float(v) for v, t in s["datapoints"] if v is not None}
        for s in resp
    }


# -- closed forms ----------------------------------------------------------------------


def _by(values: np.ndarray, keys: list[str], grid: np.ndarray, agg: str) -> dict:
    """Group series rows by key and aggregate per step (NaN = absent)."""
    out = {}
    for k in sorted(set(keys)):
        rows = values[[i for i, kk in enumerate(keys) if kk == k]]
        present = ~np.isnan(rows)
        cnt = present.sum(axis=0)
        tot = np.nansum(rows, axis=0)
        val = tot if agg == "sum" else tot / np.maximum(cnt, 1)
        out[k] = {int(t): float(v) for t, v, c in zip(grid, val, cnt) if c > 0}
    return out


def consolidated_by(g: SeriesGroup, sel, by: str, grid, lookback: int, agg="sum") -> dict:
    """``agg by (by) (g{sel})`` over the consolidated grid."""
    idx = [i for i in range(g.n) if sel(g.labels[i])]
    vals = g.last_at(grid, lookback)[idx]
    return _by(vals, [g.labels[i][by] for i in idx], grid, agg)


def rate_sum_by(g: SeriesGroup, by: str, grid) -> dict:
    """``sum by (by) (rate(counter[w]))`` of linear counters = the planted
    rates summed, at every step (windows hold >= 2 samples by design)."""
    out = {}
    for i in range(g.n):
        k = g.labels[i][by]
        out[k] = out.get(k, 0.0) + float(g.rate[i])
    return {k: {int(t): v for t in grid} for k, v in out.items()}


def topk(g: SeriesGroup, sel, k: int, grid, lookback: int) -> dict:
    """``topk(k, g{sel})``: per step the k largest (values are distinct)."""
    idx = [i for i in range(g.n) if sel(g.labels[i])]
    vals = g.last_at(grid, lookback)[idx]
    out: dict = {}
    for j, t in enumerate(grid):
        col = vals[:, j]
        ok = np.where(~np.isnan(col))[0]
        for r in ok[np.argsort(-col[ok])][:k]:
            out.setdefault(g.labels[idx[r]]["instance"], {})[int(t)] = float(col[r])
    return out


def sum_over_time(g: SeriesGroup, sel, window: int, grid) -> dict:
    """``sum_over_time(g{sel}[window])``: samples in ``(t - window, t]``."""
    ts = g.ts()
    out = {}
    for i in range(g.n):
        if not sel(g.labels[i]):
            continue
        pts = {}
        for t in grid:
            m = (ts[i] > t - window) & (ts[i] <= t)
            if m.any():
                pts[int(t)] = float(g.values[i][m].sum())
        out[g.labels[i]["instance"]] = pts
    return out


def graphite_sum(g: SeriesGroup, match, grid, step: int, key) -> dict:
    """Sum of the matching paths per step (lookback = step); ``key`` maps
    a path to its output series name."""
    idx = [i for i, p in enumerate(g.path) if match(p)]
    vals = g.last_at(grid, step)[idx]
    return _by(vals, [key(g.path[i]) for i in idx], grid, "sum")


# -- DuckDB references ------------------------------------------------------------------


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    return con


def label_values(prom_file: str, key: str, name: str, region: str) -> list[str]:
    q = f"""
        SELECT DISTINCT map_extract(labels, '{key}')[1] AS v
        FROM read_parquet('{prom_file}')
        WHERE map_extract(labels, '__name__')[1] = '{name}'
          AND map_extract(labels, 'region')[1] = '{region}'
        ORDER BY v"""
    return [r[0] for r in _con().execute(q).fetchall()]


def series_match(prom_file: str, name: str, region: str) -> list[tuple]:
    q = f"""
        SELECT DISTINCT map_entries(labels) AS e
        FROM read_parquet('{prom_file}')
        WHERE map_extract(labels, '__name__')[1] = '{name}'
          AND map_extract(labels, 'region')[1] = '{region}'"""
    rows = _con().execute(q).fetchall()
    return sorted(tuple(sorted((d["key"], d["value"]) for d in r[0])) for r in rows)


def count_rows(glob: str) -> int:
    return int(_con().execute(f"SELECT count(*) FROM read_parquet('{glob}')").fetchone()[0])


def column_sum(glob: str, col: str) -> float:
    q = f"SELECT coalesce(sum({col}), 0) FROM read_parquet('{glob}')"
    return float(_con().execute(q).fetchone()[0])


def pair_set(files: list[str]) -> set[tuple[int, int]]:
    """Candidate pairs in pair-log files as ordered (low, high) ids."""
    q = "SELECT * FROM read_parquet([{}])".format(", ".join(f"'{f}'" for f in files))
    df = _con().execute(q).fetchdf()
    a, b = [c for c in df.columns if not c.startswith("_")][:2]
    return {(min(x, y), max(x, y)) for x, y in zip(df[a].tolist(), df[b].tolist())}

