"""Seeded workload generator with Spark-free ground truth.

Every workload input is a tokens table (doc_id string, tokens array<int32>,
n_tok int32, source string) written as parquet, plus a ground-truth file.
Tokens are the doc's UTF-8 bytes, one int32 per byte (the package's
byte-level tokens contract).

Ground truth is derived from the generator's own templates, never from
Spark: each rendered event carries its expected fingerprint (written out by
hand per template from the reference rewrite rules, log/event.go:65-99) and
its Query_time, which `synth.render_event` quantizes to 1/64 and prints
exactly.  Expected class_id is the upper-cased md5(fingerprint) hex chars
16-32 (log/event.go:101-106).  Truth rows are (source, class_id, q64,
count), where q64 = Query_time * 64 is an integer, so every count, sum, min
and max check is exact.

The same (workload, seed) gives byte-identical parquet and truth files.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mysql_log_parser_spark import synth

USERS = ("root", "app_rw", "etl_batch", "pt_agent")
HOSTS = ("localhost", "10-0-0-7", "web-42")
_QT_RE = re.compile(r"# Query_time: (\S+)")

# the wide template: (table, column) pairs name the classes; 125 * 8 = 1,000, so
# each class holds a few events and its sketch more than one value
WIDE_TABLES = 125
WIDE_COLUMNS = 8
WIDE_CLASSES = WIDE_TABLES * WIDE_COLUMNS
WIDE_IN_LIST = 200


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's input.  `files` parquet files of
    `docs_per_file` docs each; docs round-robin over `sources`, so a file
    holds every source when `docs_per_file` is a multiple of `sources`."""

    template: str  # "hot" | "wide"
    files: int
    docs_per_file: int
    events_per_doc: int
    sources: int

    @property
    def events(self) -> int:
        return self.files * self.docs_per_file * self.events_per_doc


def class_id(fp: str) -> str:
    return hashlib.md5(fp.encode("utf-8")).hexdigest()[16:32].upper()


def hot_fingerprint(k: int, kind: int) -> str:
    """Reference fingerprint of each `synth.render_event` template."""
    if kind == 0:  # quoted string + numbers -> ?
        return f"select c from tbl{k} where id=? and name=?"
    if kind == 1:  # `use db;` and SET timestamp lines are not query text
        return f"update tbl{k} set v = ? where id in(?+)"
    if kind == 2:
        return f"insert into tbl{k} (a, b, c) values(?+)"
    if kind == 3:  # an admin event's query is the bare command (tests/golden)
        return "ping"
    return f"select col from big{k} order by col limit ?"


def _hot_event(rng: np.random.Generator) -> tuple[str, str]:
    k = min(int(rng.zipf(1.4)) - 1, synth.N_TABLES - 1)
    kind = int(rng.integers(0, 5))
    user = USERS[int(rng.integers(0, len(USERS)))]
    host = HOSTS[int(rng.integers(0, len(HOSTS)))]
    return synth.render_event(rng, k, kind, user, host), hot_fingerprint(k, kind)


def _wide_event(rng: np.random.Generator) -> tuple[str, str]:
    """~1.5 KB query: a /* */ comment, quoted strings, a 200-literal IN
    list and ORDER BY ... ASC LIMIT n, over WIDE_CLASSES uniformly drawn
    classes."""
    c = int(rng.integers(0, WIDE_CLASSES))
    t, col = c % WIDE_TABLES, c // WIDE_TABLES
    dim = t % 7
    qt = int(rng.integers(1, 257))
    rows = int(rng.integers(0, 1000))
    ids = ", ".join(str(int(v)) for v in rng.integers(1, 10_000_000, WIDE_IN_LIST))
    trace = int(rng.integers(0, 1 << 32))
    limit = int(rng.integers(1, 500))
    query = (
        f"SELECT /* app=report trace={trace:08x} */ t.col{col}, t.name, d.label\n"
        f"FROM tbl{t} t JOIN dim{dim} d ON t.dim_id = d.id\n"
        f"WHERE t.status = 'active' AND d.region = \"r{rows % 13}\"\n"
        f"  AND t.id IN ({ids})\n"
        f"ORDER BY t.col{col} ASC LIMIT {limit};\n"
    )
    text = (
        f"# Time: 240101 {rows % 24:2d}:{rows % 60:02d}:{trace % 60:02d}\n"
        f"# User@Host: app_rw[app_rw] @ web-42 []\n"
        f"# Query_time: {qt / 64:.6f}  Lock_time: 0.000000 "
        f"Rows_sent: {rows}  Rows_examined: {rows * 10}\n" + query
    )
    fp = (
        f"select t.col{col}, t.name, d.label from tbl{t} t join dim{dim} d "
        f"on t.dim_id = d.id where t.status = ? and d.region = ? "
        f"and t.id in(?+) order by t.col{col} limit ?"
    )
    return text, fp


_TEMPLATES = {"hot": _hot_event, "wide": _wide_event}


def _tokens_table(texts: list[bytes], doc_ids: list[str], sources: list[str]) -> pa.Table:
    lens = np.fromiter((len(t) for t in texts), dtype=np.int32, count=len(texts))
    offsets = np.zeros(len(texts) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    values = np.frombuffer(b"".join(texts), dtype=np.uint8).astype(np.int32)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
            "n_tok": pa.array(lens, pa.int32()),
            "source": pa.array(sources, pa.string()),
        }
    )


def generate(spec: Spec, seed: int, out_dir: str, tag: str) -> dict:
    """Write `spec.files` parquet files into `out_dir` and return the truth
    dict (also the content of truth.json)."""
    rng = np.random.default_rng([seed, 0x5EED])
    render = _TEMPLATES[spec.template]
    counts: Counter = Counter()  # (source, class_id, q64) -> n
    fps: dict[str, str] = {}  # class_id -> fingerprint
    ids: dict[str, str] = {}  # fingerprint -> class_id
    d = 0
    os.makedirs(out_dir, exist_ok=True)
    for f in range(spec.files):
        texts, doc_ids, sources = [], [], []
        for _ in range(spec.docs_per_file):
            src = f"src{d % spec.sources}"
            parts = []
            for _ in range(spec.events_per_doc):
                text, fp = render(rng)
                cid = ids.get(fp) or ids.setdefault(fp, class_id(fp))
                fps[cid] = fp
                # render_event prints k/64 with 6 decimals, which is exact
                q64 = round(float(_QT_RE.search(text).group(1)) * 64)
                counts[(src, cid, q64)] += 1
                parts.append(text)
            texts.append("".join(parts).encode("utf-8"))
            doc_ids.append(f"{tag}:{seed}:{d}")
            sources.append(src)
            d += 1
        pq.write_table(
            _tokens_table(texts, doc_ids, sources),
            os.path.join(out_dir, f"part-{f:05d}.parquet"),
            row_group_size=64,
        )
    return {
        "workload_template": spec.template,
        "seed": seed,
        "docs": d,
        "events": spec.events,
        "fingerprints": dict(sorted(fps.items())),
        "rows": [[s, c, q, n] for (s, c, q), n in sorted(counts.items())],
    }


def ensure(spec: Spec, seed: int, root: str, tag: str) -> tuple[str, dict]:
    """Cached generate: returns (parquet dir, truth).  The directory name is
    the cache key; a `truth.json` marks a complete entry."""
    shape = f"{spec.template}-{spec.files}x{spec.docs_per_file}x{spec.events_per_doc}x{spec.sources}"
    base = os.path.join(root, f"{tag}-{shape}-{seed}")
    data = os.path.join(base, "tokens")
    truth_path = os.path.join(base, "truth.json")
    if not os.path.exists(truth_path):
        if os.path.isdir(data):
            for fn in os.listdir(data):
                os.remove(os.path.join(data, fn))
        truth = generate(spec, seed, data, tag)
        tmp = truth_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(truth, fh, sort_keys=True, separators=(",", ":"))
        os.replace(tmp, truth_path)
    with open(truth_path) as fh:
        return data, json.load(fh)
