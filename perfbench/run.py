"""Slow-log pipeline benchmark.

    python3 perfbench/run.py --workload route_write --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The benchmark generates its seeded tokens
tables (cached per workload and seed under perfbench/.work/data), builds a
session on local[nproc] with a driver heap sized below physical RAM, and
drives the package's public functions as one closed-loop client: one
request (one Spark job chain) at a time, each request's result checked
against the generator's ground truth.

Set-up is built SETUPS times in a row, and setup_s is their median: session
build, including the package zip and addPyFile, plus one warmup pass that
parses and fingerprints a few small files of the workload's own (see
Workload.setup_pass), which starts the Python workers and loads the
package.  The first set-up also launches the JVM; the later ones (stop,
rebuild, warm up) reuse it.  Untimed full passes then run for WARM_S
seconds, since a pass keeps getting faster for its first several runs in a
JVM, and timed passes repeat for --seconds (at least MIN_PASSES of them);
each metric is the median over them.

A batch is a micro-batch on stream_route (its triggerExecution time) and the
whole pass on the batch workloads, which run their input as one batch.
batch_p50_ms is the median over the run's batches and batch_p90_ms their
nearest-rank p90, which is the slowest batch when there are 10 or fewer.

--trace 0 prints the end-to-end metrics; --trace 1 makes a separate traced
run that prints the per-layer metrics: it times cumulative plan prefixes
(scan, +parse, +fingerprint, +promote, +digest, +route or the streaming
pass), an identity mapInArrow over the parse's splits that hands back only
doc_id, and a traced against an untraced full pass for the tracing
overhead.  The last stdout line is one JSON object {"correct", "attempted",
"failed", "metrics"}; per-pass detail and the trace's spans go to
perfbench/.work/results/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from spans import Timer, Tracer  # noqa: E402

WORK = os.path.join(HERE, ".work")
PACKAGE = os.path.join(ROOT, "mysql_log_parser_spark", "__init__.py")
SETUPS = 3
WARM_S = 18
MIN_PASSES = 2  # even when passes are slow
NAMES = ("route_write", "stream_route")
STREAMING = {  # micro-batch durationMs key -> per-layer metric
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "latestOffset": "streaming.latest_offset_ms",
}

END_TO_END = {
    "events_per_s": "events/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "sink_bytes_per_event": "bytes",
    "batch_p50_ms": "ms",
    "batch_p90_ms": "ms",
}


def p90(xs: list[float]) -> float:
    """Nearest-rank p90."""
    return sorted(xs)[math.ceil(0.9 * len(xs)) - 1]


# -- the box ------------------------------------------------------------------

def fit_box() -> dict:
    """Size the session to the machine it runs on and keep every file it
    writes inside the checkout.  Must run before the JVM starts."""
    nproc = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gb = max(1, min(4, ram // 4 // 2**30))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM would otherwise write under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "nproc": nproc,
        "ram_bytes": ram,
        "driver_memory": f"{heap_gb}g",
        "extra_conf": {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # the heap starts at its full size, so early passes do not pay
            # for growing it
            "spark.driver.extraJavaOptions": f"-Xms{heap_gb}g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def alive(pids: list[int]) -> list[int]:
    """The pids that still run (zombies count as ended)."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                    out.append(pid)
        except (OSError, IndexError):
            continue
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process's descendants: the driver JVM, the
    Python worker daemon and its workers."""
    kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


# -- the session --------------------------------------------------------------

class Bench:
    """One run: the session, its set-ups, and the checked passes."""

    def __init__(self, wl, box: dict):
        self.wl, self.box = wl, box
        self.spark = None
        self.setups: list[dict] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def setup(self) -> None:
        from mysql_log_parser_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name="perfbench",
            master=f"local[{self.box['nproc']}]",
            extra_conf=self.box["extra_conf"],
        )
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.wl.bind(self.spark, WORK)
        errors = self.wl.setup_pass()
        t2 = time.perf_counter()
        self.record("setup.warmup", errors, count=False)
        self.setups.append({"build_s": t1 - t0, "warmup_s": t2 - t1})

    def warm_up(self, seconds: float) -> None:
        """Untimed, checked full passes, until `seconds` have passed."""
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            self.record("warm-up", self.wl.verify(self.wl.run_pass(Timer())), count=False)

    def record(self, what: str, errors: list[str], count: bool = True) -> bool:
        if count:
            self.attempted += 1
            self.failed += bool(errors)
        self.errors += [f"{what}: {e}" for e in errors]
        return not errors

    def attempt(self, what: str, fn):
        """Run one checked step; an exception counts as a failed attempt."""
        try:
            return fn()
        except Exception:  # a failing pass is data, the run goes on
            self.record(what, [traceback.format_exc(limit=3)])
            return None

    def close(self) -> None:
        """Stop the session and the JVM, and wait for every process this run
        started to end."""
        from pyspark import SparkContext

        started = descendants()  # the workers outlive the JVM as orphans
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
        for sig in (signal.SIGTERM, signal.SIGKILL):
            deadline = time.monotonic() + 30
            while alive(started) and time.monotonic() < deadline:
                time.sleep(0.2)
            for pid in alive(started):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass

    def job_stats(self, *groups: str) -> dict:
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "shuffle_write_bytes": 0}
        for j in (j for g in groups for j in st.getJobIdsForGroup(g)):
            info = st.getJobInfo(j)
            out["jobs"] += 1
            for s in list(info.stageIds) if info else ():
                si = st.getStageInfo(s)
                if si is None:
                    continue
                out["stages"] += 1
                out["tasks"] += si.numTasks
                out["failed_tasks"] += si.numFailedTasks
                out["shuffle_write_bytes"] += store.lastStageAttempt(s).shuffleWriteBytes()
        return out

    def effective_conf(self) -> dict:
        return dict(sorted(self.spark.sparkContext.getConf().getAll()))

    # -- untraced run -----------------------------------------------------------
    def timed(self, seconds: float) -> dict:
        wl, t = self.wl, Timer()
        passes, batches_ms = [], []
        deadline = time.perf_counter() + seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            t0 = time.perf_counter()
            raw = self.attempt("pass", lambda: wl.run_pass(t))
            wall = time.perf_counter() - t0
            if raw is None:
                passes.append({"ok": False})
                continue
            errors = self.attempt("verify", lambda: wl.verify(raw))
            ok = errors is not None and self.record("pass", errors)
            lat = wl.latencies_ms(raw, wall)
            passes.append({"ok": ok, "wall_s": wall, "sink_bytes": wl.sink_bytes(raw), "batches_ms": lat})
            if ok:
                batches_ms += lat
        good = [p for p in passes if p["ok"]]
        if not good:
            raise RuntimeError("no pass succeeded: " + "; ".join(self.errors[:3]))
        events = wl.truth.events
        values = {
            "events_per_s": events / statistics.median(p["wall_s"] for p in good),
            "sink_bytes_per_event": statistics.median(p["sink_bytes"] for p in good) / events,
            "batch_p50_ms": statistics.median(batches_ms),
            "batch_p90_ms": p90(batches_ms),
        }
        return {"values": values, "samples": len(good), "batches": len(batches_ms), "passes": passes}

    # -- traced run -------------------------------------------------------------
    def traced(self, seconds: float, tracer: Tracer) -> dict:
        wl, sc = self.wl, self.spark.sparkContext
        t = Timer(tracer)
        rounds: list[dict] = []
        stats: dict[str, dict] = {}
        deadline = time.perf_counter() + seconds
        while len(rounds) < 2 or time.perf_counter() < deadline:
            r = {}
            with tracer.span(f"round.{len(rounds)}"):
                steps = wl.prefixes(t)
                for layer, base, fn in steps:
                    group = f"perfbench.{layer}.{len(rounds)}"
                    sc.setJobGroup(group, layer)
                    t0 = time.perf_counter()
                    with tracer.span(f"action.{layer}"):
                        check = self.attempt(layer, fn)
                    r[layer] = time.perf_counter() - t0
                    errors = None if check is None else self.attempt(layer, check)
                    if errors is not None:
                        self.record(layer, errors)
                    stats[layer] = self.job_stats(group)
            rounds.append(r)
        bases = {layer: base for layer, base, _ in steps}
        med = {k: statistics.median(r[k] for r in rounds) for k in rounds[0]}
        selfs = {k: med[k] - (med[bases[k]] if bases[k] else 0.0) for k in med}
        sc.setJobGroup("perfbench.counts", "counts")
        counts = wl.counts()

        # tracing overhead: the same full pass, untraced then traced
        passes: dict[str, float] = {}
        for kind, timer in (("plain", Timer()), ("traced", t)):
            group = f"perfbench.pass.{kind}"
            sc.setJobGroup(group, "pass")
            t0 = time.perf_counter()
            with tracer.span("pass.traced") if timer is t else nullcontext():
                raw = wl.run_pass(timer)
            passes[kind] = time.perf_counter() - t0
            self.record(f"{kind} pass", wl.verify(raw))
            pass_stats = self.job_stats(group, *wl.job_groups(raw))
        return {
            "rounds": rounds,
            "median_s": med,
            "self_s": selfs,
            "bases": bases,
            "chain": list(wl.chain),
            "prefix_sum_s": sum(selfs[k] for k in wl.chain),
            "pass_s": passes["plain"],
            "traced_pass_s": passes["traced"],
            "job_stats": stats,
            "pass_job_stats": pass_stats,
            "counts": counts,
            "plan_s": {k: statistics.median(v) for k, v in t.times.items() if k.startswith("call.")},
        }


def layer_metrics(b: Bench, tr: dict, control_s: float) -> dict:
    wl = b.wl
    s, st, plan = tr["self_s"], tr["job_stats"], tr["plan_s"]
    passes = getattr(wl, "progress", [])  # traced streaming passes' micro-batches
    batches = [p for ps in passes for p in ps]

    def streaming_ms(key: str) -> float:
        return statistics.median(p.durationMs.get(key, 0) for p in batches) if batches else 0.0

    sink = wl.sink_stats
    failed = sum(v["failed_tasks"] for v in st.values()) + tr["pass_job_stats"]["failed_tasks"]
    m = {
        "sources.scan_s": (tr["median_s"]["sources"], "s"),
        "sources.input_bytes": (wl.input_bytes, "bytes"),
        "sources.tasks": (st["sources"]["tasks"], "count"),
        "session.build_s": (statistics.median(x["build_s"] for x in b.setups), "s"),
        "session.warmup_s": (statistics.median(x["warmup_s"] for x in b.setups), "s"),
        "parse.self_s": (s["parse"], "s"),
        "parse.arrow_identity_s": (s["arrow_identity"], "s"),
        "parse.kernel_s": (s["parse"] - s["arrow_identity"], "s"),
        "parse.plan_s": (plan["call.parse_slowlog"], "s"),
        "parse.tasks": (st["parse"]["tasks"], "count"),
        "parse.docs_in": (tr["counts"]["parse.docs_in"], "count"),
        "parse.events_out": (tr["counts"]["parse.events_out"], "count"),
        "fingerprint.self_s": (s["fingerprint"], "s"),
        "fingerprint.plan_s": (plan["call.with_fingerprint"], "s"),
        "fingerprint.query_bytes": (tr["counts"]["fingerprint.query_bytes"], "bytes"),
        "fingerprint.classes": (tr["counts"]["fingerprint.classes"], "count"),
        "promote.self_s": (s["promote"], "s"),
        "aggregate.self_s": (s.get("aggregate", 0.0), "s"),
        "aggregate.global_self_s": (s.get("aggregate_global", 0.0), "s"),
        "aggregate.plan_s": (plan.get("call.class_digest", 0.0), "s"),
        "aggregate.groups": (wl.groups, "count"),
        "aggregate.shuffle_write_bytes": (st.get("aggregate", {}).get("shuffle_write_bytes", 0), "bytes"),
        "route.self_s": (s.get("route", 0.0), "s"),
        "route.files": (sink["files"], "count"),
        "route.bytes": (sink["bytes"], "bytes"),
        "route.partitions": (sink["partitions"], "count"),
        "streaming.batches": (statistics.median(map(len, passes)) if passes else 0, "count"),
        **{name: (streaming_ms(k), "ms") for k, name in STREAMING.items()},
        "spark.jobs": (tr["pass_job_stats"]["jobs"], "count"),
        "spark.stages": (tr["pass_job_stats"]["stages"], "count"),
        "spark.failed_tasks": (failed, "count"),
        "trace.pass_s": (tr["pass_s"], "s"),
        "trace.prefix_sum_s": (tr["prefix_sum_s"], "s"),
        "trace.overhead_s": (tr["traced_pass_s"] - tr["pass_s"], "s"),
        "box.control_s": (control_s, "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.exists(PACKAGE):
        print(f"perfbench: package not found at {PACKAGE}", file=sys.stderr)
        return 2
    # a terminated run still stops the JVM and workers (Bench.close)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    box = fit_box()
    control_s = 0.0
    if args.trace:
        import bench  # the repo's pinned no-Spark control kernel

        control_s = bench.control_kernel_sec(box["nproc"])  # before the JVM forks

    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    wl.prepare(args.seed, os.path.join(WORK, "data"))
    b = Bench(wl, box)
    tracer = Tracer()
    try:
        for _ in range(SETUPS):
            b.setup()
        b.warm_up(WARM_S)
        if args.trace:
            with tracer.span(f"run.{wl.name}"):
                tr = b.traced(args.seconds, tracer)
        else:
            res = b.timed(args.seconds)
            res["values"]["peak_rss_mb"] = peak_rss_mb()
        if args.trace:
            metrics = layer_metrics(b, tr, control_s)
            detail = {"trace": tr}
        else:
            res["values"]["setup_s"] = statistics.median(x["build_s"] + x["warmup_s"] for x in b.setups)
            metrics = {k: {"value": res["values"][k], "unit": u} for k, u in END_TO_END.items()}
            detail = {"timed": res}
        conf = b.effective_conf()
    finally:
        b.close()

    import pyspark

    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}")
    detail.update(
        workload=wl.name,
        seed=args.seed,
        seconds=args.seconds,
        spec=wl.spec.__dict__,
        events=wl.truth.events,
        box={k: v for k, v in box.items() if k != "extra_conf"},
        pyspark=pyspark.__version__,
        spark_conf=conf,
        setups=b.setups,
        error_rate=b.failed / max(1, b.attempted),
        errors=b.errors,
        metrics=metrics,
    )
    with open(stem + ".json", "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    if args.trace:
        tracer.dump(stem + "-spans.json")
    print(f"perfbench: detail in {stem}.json", file=sys.stderr)
    summary = {
        "correct": b.failed == 0 and not b.errors,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }
    print(json.dumps(summary, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
