"""Per-layer tracing of a crawl, done entirely from the benchmark.

``Tracer`` rebinds the public function(s) of each crawl layer, in every
``cola_spark`` module that holds a reference to them, to a wrapper that

  * runs the call and then materialises its output (persist + one
    aggregate) under a Spark job group of its own, so the layer's work
    happens inside the layer's span instead of fused into a later job;
  * records a span (name, start, end, parent, run id) and the row
    counts of the output, kept in memory until the benchmark ends;
  * reads the CPU of the Python workers from /proc around the call.

After the crawl, ``read_stage_metrics`` pulls each group's stage
metrics out of Spark's status store. The program itself traces nothing,
and with the tracer uninstalled it runs exactly as a user runs it.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from procmon import cpu_seconds

# layer -> (module, public function) pairs wrapped for it
LAYERS = {
    "canon": [("cola_spark.operators.dedup", "prepare_frontier")],
    "admit": [
        ("cola_spark.operators.dedup", "admit"),
        ("cola_spark.operators.dedup", "admit_filtered"),
    ],
    "robots": [("cola_spark.operators.robots", "robots_gate")],
    "cut": [
        ("cola_spark.operators.budget", "budget_caps"),
        ("cola_spark.operators.priority", "schedule_cut"),
        ("cola_spark.operators.priority", "apply_global_cap"),
    ],
    "fetch": [("cola_spark.operators.fetch", "fetch_decode_verify")],
    "derive": [
        ("cola_spark.operators.fetch", "discover_links"),
        ("cola_spark.operators.retry", "split_retry"),
    ],
    "budget": [("cola_spark.operators.budget", "update_budget_state_outcomes")],
    "rank": [("cola_spark.operators.ranking", "global_rank")],
    "compact": [
        ("cola_spark.plans.maintenance", "compact_seen"),
        ("cola_spark.plans.maintenance", "compact_filters"),
    ],
}

# the layers whose first argument is the frontier they filter; its row
# count is the denominator of the layer's yield
_INPUT_COUNTED = {"admit", "admit_filtered", "robots_gate", "schedule_cut"}
_MB = 1 << 20


@dataclass
class Span:
    name: str  # layer.function, round=<r> or crawl
    start: float
    end: float
    parent: str | None
    run: str
    group: str | None = None  # Spark job group of the layer call
    rows: dict = field(default_factory=dict)
    py_cpu_s: float = 0.0
    stages: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        return dict(vars(self))


class Tracer:
    """Wraps the layer functions while installed (a context manager)."""

    def __init__(self, spark, run_id: str, jvm_pid: int):
        self.sc = spark.sparkContext
        self.run_id, self.jvm_pid, self.round = run_id, jvm_pid, 0
        self.spans: list[Span] = []
        self._rebound: list[tuple[object, str, object]] = []
        self._cached: list[DataFrame] = []  # this round's materialised outputs
        self._depth = 0

    # -- installation -------------------------------------------------
    def __enter__(self) -> "Tracer":
        for layer, fns in LAYERS.items():
            for modname, fname in fns:
                orig = getattr(importlib.import_module(modname), fname)
                wrapped = self._wrap(layer, fname, orig)
                for mod in [m for n, m in list(sys.modules.items()) if n.startswith("cola_spark")]:
                    for attr, val in list(vars(mod).items()):
                        if val is orig:
                            setattr(mod, attr, wrapped)
                            self._rebound.append((mod, attr, orig))
        return self

    def __exit__(self, *exc) -> None:
        for mod, attr, orig in reversed(self._rebound):
            setattr(mod, attr, orig)
        self._rebound.clear()
        self._release()

    def _release(self) -> None:
        while self._cached:
            self._cached.pop().unpersist()

    # -- the wrapper --------------------------------------------------
    def _wrap(self, layer: str, fname: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._depth:  # a layer calling another: one span only
                return fn(*args, **kwargs)
            if fname in ("prepare_frontier", "split_retry") and self._round_start():
                self._release()  # the previous round is fully committed
            rows = {}
            if fname in _INPUT_COUNTED:
                self.sc.setJobGroup(f"{self.run_id}/trace", "input count")
                rows["in"] = args[0].count()
            group = f"{self.run_id}/{len(self.spans)}/{layer}.{fname}"
            self._depth += 1
            self.sc.setJobGroup(group, f"{layer}.{fname}")
            py0, t0 = cpu_seconds(self.jvm_pid, python_only=True), time.time()
            try:
                out = fn(*args, **kwargs)
                rows.update(self._materialise(fname, out))
            finally:
                t1, py1 = time.time(), cpu_seconds(self.jvm_pid, python_only=True)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self._depth -= 1
            parent = "crawl" if layer in ("rank", "compact") else f"round={self.round}"
            self.spans.append(
                Span(f"{layer}.{fname}", t0, t1, parent, self.run_id, group, rows, py1 - py0)
            )
            if layer == "budget":  # the ledger update closes a round
                self.round += 1
            return out

        return traced

    def _materialise(self, fname: str, out) -> dict:
        """Persist and count the output DataFrame(s) of one call."""
        if not isinstance(out, (DataFrame, tuple)):
            return {}  # compaction returns a count of directories
        first = out[0] if isinstance(out, tuple) else out
        first.persist()
        self._cached.append(first)
        if fname == "fetch_decode_verify":
            r = first.agg(
                F.count(F.lit(1)).alias("out"),
                F.sum(F.col("fetch_ok").cast("long")).alias("ok"),
                F.sum(F.coalesce(F.col("invariant_ok"), F.lit(False)).cast("long")).alias(
                    "invariant_ok"
                ),
            ).first()
            return {"out": r["out"], "ok": r["ok"] or 0, "invariant_ok": r["invariant_ok"] or 0}
        rows = {"out": first.count()}
        if fname == "admit_filtered":
            # suspects (filter positives) live on the per-part result that
            # admit_filtered caches for the round; admitted is derived from it
            from cola_spark.operators import dedup

            res = dedup._PERSISTED[-1]
            rows["suspects"] = res.filter(F.col("blob").isNull() & F.col("suspect")).count()
        return rows

    def _round_start(self) -> bool:
        """True when no layer of the current round has run yet."""
        return not any(s.parent == f"round={self.round}" for s in self.spans)

    # -- results ------------------------------------------------------
    def crawl_spans(self, start: float, end: float) -> list[Span]:
        """Layer spans plus one span per round and one for the crawl."""
        rounds: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.parent and s.parent.startswith("round="):
                rounds.setdefault(s.parent, []).append(s)
        out = [Span("crawl", start, end, None, self.run_id)]
        for name, kids in rounds.items():
            out.append(
                Span(name, min(k.start for k in kids), max(k.end for k in kids), "crawl", self.run_id)
            )
        return out + self.spans


# -- Spark status store ------------------------------------------------
_TERMINAL = ("SUCCEEDED", "FAILED")


def read_stage_metrics(spark, spans: list[Span], timeout_s: float = 30.0) -> None:
    """Fill ``span.stages`` for every span with a job group.

    Path: statusTracker().getJobIdsForGroup -> getJobInfo(j).stageIds ->
    statusStore().stageData(sid, ...), which returns a Scala Seq of the
    stage's attempts. py4j does not apply Scala default arguments, so
    all five are passed. A stage counts once, for the first span whose
    jobs list it: a later job that lists it only skipped it.
    """
    sc = spark.sparkContext
    tracker, gw = sc.statusTracker(), sc._gateway
    store = sc._jsc.sc().statusStore()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    deadline = time.monotonic() + timeout_s
    counted: set[int] = set()
    for span in spans:
        if span.group is None:
            continue
        jobs = sorted(tracker.getJobIdsForGroup(span.group))
        # the listener bus is asynchronous: wait for every job's end event
        while any(tracker.getJobInfo(j).status not in _TERMINAL for j in jobs):
            if time.monotonic() > deadline:
                raise RuntimeError(f"jobs of {span.group} did not finish in the status store")
            time.sleep(0.05)
        totals = dict.fromkeys(
            ("run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write", "spill"), 0
        )
        for j in jobs:
            for sid in tracker.getJobInfo(j).stageIds:
                if sid in counted:
                    continue
                counted.add(sid)
                attempts = store.stageData(sid, False, gw.jvm.java.util.ArrayList(), False, no_quantiles)
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    totals["run_ms"] += s.executorRunTime()
                    totals["cpu_ns"] += s.executorCpuTime()
                    totals["gc_ms"] += s.jvmGcTime()
                    totals["shuffle_read"] += s.shuffleReadBytes()
                    totals["shuffle_write"] += s.shuffleWriteBytes()
                    totals["spill"] += s.diskBytesSpilled()
        span.stages = {
            "run_s": totals["run_ms"] / 1e3,
            "cpu_s": totals["cpu_ns"] / 1e9,
            "gc_s": totals["gc_ms"] / 1e3,
            "shuffle_read_mb": totals["shuffle_read"] / _MB,
            "shuffle_write_mb": totals["shuffle_write"] / _MB,
            "spill_mb": totals["spill"] / _MB,
        }
