"""Tests of the benchmark itself: generator determinism, the checker's
power to reject wrong results, and a tiny smoke run of every workload.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from check import (  # noqa: E402
    Truth,
    check_class_digest,
    check_global_digest,
    check_routed,
    read_sink,
)

TINY = {
    "hot": gen.Spec("hot", files=2, docs_per_file=3, events_per_doc=40, sources=4),
    "wide": gen.Spec("wide", files=2, docs_per_file=2, events_per_doc=10, sources=2),
}


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, names in os.walk(d):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


@pytest.mark.parametrize("template", sorted(TINY))
def test_generator_is_deterministic_per_seed(tmp_path, template):
    spec = TINY[template]
    gen.ensure(spec, 7, str(tmp_path / "a"), "w")
    gen.ensure(spec, 7, str(tmp_path / "b"), "w")
    gen.ensure(spec, 8, str(tmp_path / "c"), "w")
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert list(a.values()) != list(c.values())


def _exact(hist) -> dict:
    """A correct digest row, computed from a q64 histogram in plain Python
    with the reference's exact rank rule (log/stats.go:126-128)."""
    vals = sorted(q for q, n in hist.items() for _ in range(n))
    n = len(vals)
    return {
        "total_queries": n,
        "query_time_cnt": n,
        "query_time_sum": sum(vals) / 64,
        "query_time_min": vals[0] / 64,
        "query_time_max": vals[-1] / 64,
        "query_time_med": vals[(50 * n) // 100] / 64,
        "query_time_pct95": vals[(95 * n) // 100] / 64,
    }


@pytest.fixture(scope="module")
def truth(tmp_path_factory):
    root = tmp_path_factory.mktemp("truth")
    _, t = gen.ensure(TINY["hot"], 3, str(root), "w")
    return Truth(t)


def _class_rows(truth):
    return [
        {"class_id": c, "fingerprint": truth.fingerprints[c], **_exact(h)}
        for c, h in sorted(truth.by_class.items())
    ]


def _per_source_rows(truth):
    return [
        {"source": s, "class_id": c, **_exact(h)}
        for (s, c), h in sorted(truth.by_source_class.items())
    ]


def test_truth_matches_its_own_corpus(truth):
    assert truth.events == sum(truth.routed.values()) == 2 * 3 * 40
    assert len(truth.routed) == 4
    # kind 3 is the admin Ping; its class is shared by every table index
    assert gen.class_id("ping") in truth.by_class
    assert gen.class_id("hello world") == "93CB22BB8F5ACDC3"  # log_test.go:390-399


def _write_sink(root, rows) -> str:
    """A routed sink as the package writes it: hive `source=` directories
    of parquet files, plus the files Spark leaves beside them."""
    by_source: dict[str, list] = {}
    for (src, cid, q64), n in rows.items():
        by_source.setdefault(src, []).extend([(cid, q64 / 64)] * n)
    for src, vals in by_source.items():
        d = root / f"source={src}"
        d.mkdir(parents=True)
        cids, qts = zip(*vals)
        pq.write_table(pa.table({"class_id": cids, "query_time": qts}), d / "part-0.parquet")
    (root / "_SUCCESS").write_text("")
    return str(root)


def test_checker_accepts_a_correct_result(truth, tmp_path):
    assert check_class_digest(_class_rows(truth), truth) == []
    ps = _per_source_rows(truth)
    assert check_class_digest(ps, truth, per_source=True) == []
    assert check_routed(read_sink(_write_sink(tmp_path, truth.rows)), truth) == []
    glob = {"unique_queries": len(truth.by_class), **_exact(truth.overall)}
    assert check_global_digest([glob], truth) == []


@pytest.mark.parametrize(
    "col, delta",
    [
        ("total_queries", 1),
        ("query_time_sum", 1 / 64),
        ("query_time_min", -1 / 64),
        ("query_time_max", 1 / 64),
        ("fingerprint", None),
    ],
)
def test_checker_rejects_a_perturbed_digest_row(truth, col, delta):
    rows = _class_rows(truth)
    row = max(rows, key=lambda r: r["total_queries"])
    row[col] = row[col] + "x" if delta is None else row[col] + delta
    assert check_class_digest(rows, truth)


def test_checker_rejects_a_percentile_outside_the_gk_bound(truth):
    rows = _class_rows(truth)
    row = max(rows, key=lambda r: r["total_queries"])
    row["query_time_pct95"] = row["query_time_min"]
    assert check_class_digest(rows, truth)


def test_checker_rejects_missing_and_duplicate_rows(truth):
    rows = _class_rows(truth)
    assert check_class_digest(rows[1:], truth)
    assert check_class_digest(rows + rows[:1], truth)


def test_checker_rejects_a_missing_routed_row(truth, tmp_path):
    rows = truth.rows.copy()
    rows[max(rows, key=rows.get)] -= 1
    assert check_routed(read_sink(_write_sink(tmp_path, rows)), truth)


def test_checker_rejects_a_misrouted_or_altered_row(truth, tmp_path):
    src, cid, q64 = next(iter(truth.rows))
    other = next(s for s in sorted(truth.routed) if s != src)
    moved = truth.rows.copy()
    moved[(src, cid, q64)] -= 1
    moved[(other, cid, q64)] += 1
    assert check_routed(read_sink(_write_sink(tmp_path / "moved", moved)), truth)
    slower = truth.rows.copy()
    slower[(src, cid, q64)] -= 1
    slower[(src, cid, q64 + 1)] += 1
    assert check_routed(read_sink(_write_sink(tmp_path / "slower", slower)), truth)


def _run(args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(["--workload", "route_write", "--seed", "1", "--seconds", "1"], cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["route_write", "stream_route"])
def test_smoke_run(workload, trace):
    """One full-size run of each workload with a one-second measurement."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = _run(["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
