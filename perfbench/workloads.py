"""The workloads: their inputs, their timed pass, and their traced
layer split.  Everything runs through the package's public functions.

A timed pass is one closed-loop client request: one Spark job chain from
the first action over the input to the last result collected or committed.
Its result is checked against the generator's ground truth.

The traced split times cumulative plan prefixes, each ending in one action:
scan, +parse, +fingerprint, +promote, then the workload's terminal step
(the routed write, or the streaming pass).  A layer's self time
is its prefix time minus the previous prefix time.  An identity
`mapInArrow` over the parse's columns and splits, which hands back only
`doc_id`, separates the JVM->Python transfer and runner cost from the parse
kernel.  Each action returns a check, or None, which runs after it untimed.
"""

from __future__ import annotations

import os
import shutil

import gen
from check import (
    Truth,
    check_class_digest,
    check_global_digest,
    check_routed,
    read_sink,
)
from spans import Timer

from mysql_log_parser_spark import with_fingerprint
from mysql_log_parser_spark.operators.aggregate import global_digest
from mysql_log_parser_spark.operators.parse import parse_slowlog, promote_metrics
from mysql_log_parser_spark.operators.route import route_partitioned
from mysql_log_parser_spark.pipeline import SlowLogPipeline
from mysql_log_parser_spark.streaming.pipeline import start_routed_sink, stream_events

TOKEN_COLS = ("doc_id", "tokens", "source")  # what parse_slowlog reads
FINGERPRINT = ("fingerprint", "class_id")
PROMOTED = ("query_time", "lock_time", "rows_sent", "rows_examined", "rows_affected", "bytes_sent")
DIGESTS = ("class_digest", "class_digest_per_source", "global_digest")
WARM_FILES = 4


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str) -> dict:
    """Bytes and parquet files under a sink directory, and its
    `source=` partitions."""
    nbytes = files = 0
    parts = set()
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            nbytes += os.path.getsize(os.path.join(dirpath, n))
            if n.endswith(".parquet"):
                files += 1
                parts.add(os.path.basename(dirpath))
    return {"bytes": nbytes, "files": files, "partitions": len(parts)}


class Workload:
    """Base: a tokens-table batch workload.  Subclasses give the timed pass
    (`run_pass`, then `verify` on its raw result) and the terminal steps of
    the traced split."""

    name = ""
    spec: gen.Spec

    def __init__(self):
        self.sink_stats = {"bytes": 0, "files": 0, "partitions": 0}
        self.groups = 0

    def prepare(self, seed: int, root: str) -> None:
        self.data, truth = gen.ensure(self.spec, seed, root, self.name)
        s = self.spec
        warm = gen.Spec(s.template, WARM_FILES, 2, s.events_per_doc, s.sources)
        self.warm_data, warm_truth = gen.ensure(warm, seed, root, self.name + "-warm")
        self.warm_events = warm_truth["events"]
        self.truth = Truth(truth)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.data, f)) for f in os.listdir(self.data)
        )

    def bind(self, spark, work: str) -> None:
        """Called after every session (re)build."""
        self.spark = spark
        self.work = work

    def docs(self):
        return self.spark.read.parquet(self.data)

    def setup_pass(self) -> list[str]:
        """The set-up's warmup pass: parse and fingerprint WARM_FILES small
        files of their own, one task each, which starts the Python workers
        and loads the package.  Returns checker errors."""
        from pyspark.sql import functions as F

        ev = self.events(Timer(), self.spark.read.parquet(self.warm_data))
        n = ev.agg(F.count("class_id")).first()[0]
        return [] if n == self.warm_events else [f"warmup pass: {n} events, expected {self.warm_events}"]

    def events(self, t: Timer, docs):
        ev = t("call.parse_slowlog", parse_slowlog, docs)
        ev = t("call.with_fingerprint", with_fingerprint, ev)
        return t("call.promote_metrics", promote_metrics, ev)

    # -- timed pass ----------------------------------------------------------
    def run_pass(self, t: Timer):
        """One request, from the first action to the last result."""
        raise NotImplementedError

    def verify(self, raw) -> list[str]:
        """Untimed: compare the pass's result with the ground truth."""
        raise NotImplementedError

    def sink_bytes(self, raw) -> int:
        return self.sink_stats["bytes"]

    def job_groups(self, raw) -> list[str]:
        """Job groups the pass ran in besides the caller's own."""
        return []

    def latencies_ms(self, raw, wall_s: float) -> list[float]:
        """The pass's batch latencies: a batch workload runs its input as
        one batch, so the pass is its only batch."""
        return [wall_s * 1000]

    # -- traced split --------------------------------------------------------
    # The layers whose self times add up to one timed pass.
    chain: tuple[str, ...]

    def prefixes(self, t: Timer) -> list[tuple[str, str | None, callable]]:
        """(layer, base, action) in execution order.  Each action runs the
        whole plan prefix ending at `layer` and returns a check (a callable
        that returns checker errors) or None; the layer's self time is its
        time minus that of `base`."""
        docs = self.docs()
        scan = docs.select(*TOKEN_COLS)

        def keys_only(batches):  # nested, so it pickles by value
            for batch in batches:
                yield batch.select(["doc_id"])

        ident = scan.mapInArrow(keys_only, schema="doc_id string")
        e = self.events(t, docs)
        self._events = e
        p = e.select(*[c for c in e.columns if c not in PROMOTED + FINGERPRINT])
        f = e.select(*[c for c in e.columns if c not in PROMOTED])
        return [
            ("sources", None, lambda: noop(scan)),
            ("arrow_identity", "sources", lambda: noop(ident)),
            ("parse", "sources", lambda: noop(p)),
            ("fingerprint", "parse", lambda: noop(f)),
            ("promote", "fingerprint", lambda: noop(e)),
        ] + self.terminal(t, e)

    def terminal(self, t: Timer, e) -> list[tuple[str, str | None, callable]]:
        raise NotImplementedError

    def counts(self) -> dict:
        """Layer work counts from one untimed action over the events."""
        from pyspark.sql import functions as F

        r = self._events.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("query")).alias("qb"),
            F.countDistinct("class_id").alias("classes"),
        ).first()
        return {
            "parse.docs_in": self.truth.docs,
            "parse.events_out": r["n"],
            "fingerprint.query_bytes": r["qb"],
            "fingerprint.classes": r["classes"],
        }


class RouteWrite(Workload):
    """SlowLogPipeline.run with a routed sink, then the three digests
    (sketch percentiles) over the routed table it reads back.  Its long
    queries make the fingerprint chain and the class shuffle, not parse, the
    heavy in-memory layers; stream_route's short ones make parse the heavy
    one."""

    name = "route_write"
    chain = ("sources", "parse", "fingerprint", "promote", "route", "aggregate", "aggregate_global")
    # every file holds every source, so each scan task writes all 16 sink
    # partitions whichever files Spark packs together
    spec = gen.Spec("wide", files=8, docs_per_file=16, events_per_doc=30, sources=16)

    def sink(self) -> str:
        return os.path.join(self.work, self.name + "-sink")

    def run_pass(self, t: Timer):
        out = t("call.pipeline_run", SlowLogPipeline(self.spark).run, self.docs(), route_path=self.sink())
        return {k: t(f"action.{k}", out[k].toArrow) for k in DIGESTS}

    def verify(self, raw) -> list[str]:
        self.sink_stats = dir_stats(self.sink())
        return (
            check_class_digest(raw["class_digest"], self.truth)
            + check_class_digest(raw["class_digest_per_source"], self.truth, per_source=True)
            + check_global_digest(raw["global_digest"], self.truth)
            + check_routed(read_sink(self.sink()), self.truth)
        )

    def terminal(self, t: Timer, e):
        def route():
            t("call.route_partitioned", route_partitioned, e, self.sink())
            self.sink_stats = dir_stats(self.sink())
            return lambda: check_routed(read_sink(self.sink()), self.truth)

        def digests():
            ev = self.spark.read.parquet(self.sink())
            pipe = SlowLogPipeline(self.spark)
            cd = t("call.class_digest", pipe.class_digest, ev)
            ps = t("call.class_digest_per_source", pipe.class_digest, ev, per_source=True)
            tbl, pst = cd.toArrow(), ps.toArrow()
            self.groups = tbl.num_rows
            return lambda: (
                check_class_digest(tbl, self.truth)
                + check_class_digest(pst, self.truth, per_source=True)
            )

        def global_():
            ev = self.spark.read.parquet(self.sink())
            gd = t("call.global_digest", global_digest, ev, mode="sketch").toArrow()
            return lambda: check_global_digest(gd, self.truth)

        # the digests scan the routed table, so they stand on no prefix
        return [
            ("route", "promote", route),
            ("aggregate", None, digests),
            ("aggregate_global", None, global_),
        ]


class StreamRoute(Workload):
    """stream_events -> start_routed_sink (availableNow) over small chunk
    files, one file per micro-batch, so per-batch fixed cost dominates.
    Each pass streams every chunk into a fresh sink and checkpoint."""

    name = "stream_route"
    chain = ("stream",)  # the streaming pass cannot be cut into plan prefixes
    spec = gen.Spec("hot", files=6, docs_per_file=8, events_per_doc=50, sources=4)
    files_per_trigger = 1

    def __init__(self):
        super().__init__()
        self.passes = 0
        self.progress: list[list] = []  # each traced pass's micro-batches

    def bind(self, spark, work: str) -> None:
        super().bind(spark, work)
        # recentProgress keeps 100 entries by default; keep every batch
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(4 * self.spec.files))

    def run_pass(self, t: Timer):
        self.passes += 1
        base = os.path.join(self.work, self.name, str(self.passes))
        sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "checkpoint")
        ev = t("call.stream_events", stream_events, self.spark, self.data, self.files_per_trigger)
        q = t("call.start_routed_sink", start_routed_sink, ev, sink, ckpt)
        t("action.stream", q.awaitTermination)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        return {"base": base, "sink": sink, "batches": batches, "run_id": str(q.runId)}

    def verify(self, raw) -> list[str]:
        want = -(-self.spec.files // self.files_per_trigger)
        errs = [] if len(raw["batches"]) == want else [f"{len(raw['batches'])} micro-batches captured, expected {want}"]
        errs += check_routed(read_sink(raw["sink"]), self.truth)
        self.sink_stats = dir_stats(raw["sink"])
        shutil.rmtree(raw["base"], ignore_errors=True)
        return errs

    def latencies_ms(self, raw, wall_s: float) -> list[float]:
        return [p.durationMs["triggerExecution"] for p in raw["batches"]]

    def job_groups(self, raw) -> list[str]:
        return [raw["run_id"]]  # a streaming query runs its jobs in its own group

    def terminal(self, t: Timer, e):
        def stream():
            raw = self.run_pass(t)
            self.progress.append(raw["batches"])
            return lambda: self.verify(raw)

        return [("stream", None, stream)]


WORKLOADS = {w.name: w for w in (RouteWrite, StreamRoute)}
