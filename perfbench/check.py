"""Result checker: compares digests and routed sinks against the
generator's ground truth (see gen.py).  Pure Python; no Spark: a routed
sink is read back with pyarrow.

Counts, sums, minima, maxima and routed rows must match exactly (Query_time
is a multiple of 1/64, so float sums are exact).  Sketch percentiles must
land within the GK rank bound of the reference's eps = 0.01 sketch
(log/stats.go:24): the returned value must be a sample value whose rank range
comes within eps * n (+1 for the rank convention) of phi * n.

Every check returns a list of error strings; empty means correct.
"""

from __future__ import annotations

from bisect import bisect_left
from collections import Counter, defaultdict

GK_EPS = 0.01
_MAX_ERRORS = 5


class Truth:
    """Indexes a truth dict (gen.generate) for lookups by class, by
    (source, class) and by source.  Each histogram maps q64 -> count."""

    def __init__(self, truth: dict):
        self.events = truth["events"]
        self.docs = truth["docs"]
        self.fingerprints = truth["fingerprints"]
        self.by_source_class: dict[tuple[str, str], Counter] = defaultdict(Counter)
        self.by_class: dict[str, Counter] = defaultdict(Counter)
        self.overall: Counter = Counter()
        self.routed: Counter = Counter()
        self.rows: Counter = Counter()  # (source, class_id, q64) -> n
        for src, cid, q64, n in truth["rows"]:
            self.rows[(src, cid, q64)] += n
            self.by_source_class[(src, cid)][q64] += n
            self.by_class[cid][q64] += n
            self.overall[q64] += n
            self.routed[src] += n


def _rank_ok(hist: Counter, value: float, phi: float) -> bool:
    q = value * 64
    if q != int(q) or hist.get(int(q), 0) == 0:
        return False  # GK sketches return sample values
    keys = sorted(hist)
    below = sum(hist[k] for k in keys[: bisect_left(keys, int(q))])
    n = sum(hist.values())
    target, slack = phi * n, GK_EPS * n + 1
    return below + 1 <= target + slack and below + hist[int(q)] >= target - slack


def _stats_errors(key, hist: Counter, row: dict) -> list[str]:
    """Exact count/sum/min/max, plus the rank bound when percentiles exist."""
    errs = []
    want = {
        "query_time_cnt": sum(hist.values()),
        "query_time_sum": sum(q * n for q, n in hist.items()) / 64,
        "query_time_min": min(hist) / 64,
        "query_time_max": max(hist) / 64,
    }
    if "total_queries" in row:
        want["total_queries"] = want["query_time_cnt"]
    for col, v in want.items():
        if row.get(col) != v:
            errs.append(f"{key}: {col}={row.get(col)!r}, expected {v!r}")
    for col, phi in (("query_time_med", 0.5), ("query_time_pct95", 0.95)):
        if col in row and not (row[col] is not None and _rank_ok(hist, row[col], phi)):
            errs.append(f"{key}: {col}={row[col]!r} outside the GK rank bound")
    return errs


def _rows(table) -> list[dict]:
    return table.to_pylist() if hasattr(table, "to_pylist") else list(table)


def check_class_digest(table, truth: Truth, per_source: bool = False) -> list[str]:
    """`table`: class_digest output (pyarrow Table or list of dicts), grouped
    by class_id, or by (source, class_id) when `per_source`."""
    want = truth.by_source_class if per_source else truth.by_class
    errs, seen = [], set()
    for row in _rows(table):
        key = (row["source"], row["class_id"]) if per_source else row["class_id"]
        if key in seen:
            errs.append(f"{key}: duplicate digest row")
            continue
        seen.add(key)
        if key not in want:
            errs.append(f"{key}: unexpected class")
            continue
        cid = key[1] if per_source else key
        if "fingerprint" in row and row["fingerprint"] != truth.fingerprints[cid]:
            errs.append(f"{key}: fingerprint {row['fingerprint']!r}")
        errs += _stats_errors(key, want[key], row)
    missing = set(want) - seen
    if missing:
        errs.append(f"{len(missing)} classes missing, e.g. {sorted(missing)[0]}")
    return errs[:_MAX_ERRORS]


def check_global_digest(table, truth: Truth) -> list[str]:
    rows = _rows(table)
    if len(rows) != 1:
        return [f"global digest has {len(rows)} rows"]
    row = rows[0]
    errs = _stats_errors("global", truth.overall, row)
    if row.get("unique_queries") != len(truth.by_class):
        errs.append(f"global: unique_queries={row.get('unique_queries')}, expected {len(truth.by_class)}")
    return errs[:_MAX_ERRORS]


def read_sink(path: str) -> Counter:
    """Routed rows read back from a sink's parquet files, without Spark:
    (source, class_id, q64) -> rows.  The source comes from the `source=`
    directory; a Query_time that is not a multiple of 1/64 keeps its float
    value, so it matches no truth row."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["source", "class_id", "query_time"]
    )
    out: Counter = Counter()
    cols = (tbl.column(c).to_pylist() for c in ("source", "class_id", "query_time"))
    for src, cid, qt in zip(*cols):
        q = qt * 64 if qt is not None else None
        out[(str(src), cid, int(q) if q is not None and q == int(q) else q)] += 1
    return out


def check_routed(rows: Counter, truth: Truth) -> list[str]:
    """`rows`: `read_sink` of a routed sink.  Rows per source and every
    (source, class_id, Query_time) row count must match exactly."""
    got: Counter = Counter()
    for (src, _cid, _q), n in rows.items():
        got[src] += n
    errs = [
        f"source {s}: {got.get(s)} routed rows, expected {truth.routed.get(s)}"
        for s in sorted(set(got) | set(truth.routed))
        if got.get(s) != truth.routed.get(s)
    ]
    bad = sorted((k for k in set(rows) | set(truth.rows) if rows.get(k) != truth.rows.get(k)), key=str)
    if bad:
        k = bad[0]
        errs.append(f"{len(bad)} routed (source, class, q64) rows differ, e.g. {k}: {rows.get(k)}, expected {truth.rows.get(k)}")
    return errs[:_MAX_ERRORS]
