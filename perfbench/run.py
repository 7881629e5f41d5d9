"""Crawl benchmark: drives ``run_crawl`` on seeded tables and checks
every crawl against the pure-Python oracle.

    python3 perfbench/run.py --workload fetch_exact --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run launches its own Spark JVM
(``setup_s``: session, package shipping, first Python worker), then
crawls whole crawls until ``--seconds`` have passed, at least one; at
the workload sizes every crawl takes longer than 10 s, so a run is one
crawl on a fresh JVM, the way a crawl job starts. (Warming the JVM with
a smaller crawl first cost more than the measured crawl itself.)
``--trace 0`` reports the end-to-end metrics of those crawls;
``--trace 1`` adds one traced crawl and reports per-layer metrics
instead. The last line of
standard output is the result as JSON; the lines before it describe the
run (machine, inputs, per-crawl figures). The exit code is 1 when any
check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the package under test, from this checkout

import bench_session  # noqa: E402
import checks  # noqa: E402
import procmon  # noqa: E402
import workloads  # noqa: E402
from inputs import make_inputs, to_tables  # noqa: E402
from layers import LAYERS, Tracer, read_stage_metrics  # noqa: E402

T0 = time.perf_counter()
_MB = 1 << 20


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark run: a JVM, one workload, one seed."""

    def __init__(self, wl, seed: int, work: str):
        self.wl, self.seed, self.work = wl, seed, work
        self.inputs = make_inputs(wl.shape, seed)
        self.expected = checks.expected(self.inputs, wl.shape.pages_per_host, wl.max_rounds)
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.crawls: list[dict] = []
        self._want_seen: set[int] | None = None

    # -- set-up -----------------------------------------------------------
    def setup(self) -> float:
        self.spark, seconds = bench_session.start(self.work)
        self.jvm = bench_session.jvm_pid(self.spark)
        self.tables = to_tables(self.spark, self.inputs)
        return seconds

    def want_seen(self) -> set[int]:
        """The oracle's seen set as url hashes, hashed by the program's own
        key function."""
        if self._want_seen is None:
            from pyspark.sql import functions as F

            from cola_spark.functions.urls import url_hash_col

            canon = self.spark.createDataFrame([(c,) for c in sorted(self.expected.seen)], "c string")
            self._want_seen = {r[0] for r in canon.select(url_hash_col(F.col("c"))).collect()}
        return self._want_seen

    # -- one crawl --------------------------------------------------------
    def crawl(self, tag: str, tracer: Tracer | None = None) -> dict:
        wd = os.path.join(self.work, "crawl", tag)
        shutil.rmtree(wd, ignore_errors=True)
        cpu0, steal0 = procmon.cpu_seconds(self.jvm), procmon.steal_seconds()
        py0 = procmon.cpu_seconds(self.jvm, python_only=True)
        error, log, n = None, None, 0
        with procmon.PeakMemory(self.jvm) as mem:
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    log = workloads.run(self.spark, self.wl, self.tables, wd)
                    n = log.count()
                else:
                    with tracer:
                        log = workloads.run(self.spark, self.wl, self.tables, wd)
                        n = log.count()
            except Exception as e:  # a failed crawl is counted, not fatal
                error = f"{type(e).__name__}: {e}"
            secs = time.perf_counter() - t0
        rec = {
            "tag": tag, "rows": n, "secs": secs,
            "cpu_s": procmon.cpu_seconds(self.jvm) - cpu0,
            "py_cpu_s": procmon.cpu_seconds(self.jvm, python_only=True) - py0,
            "steal_s": procmon.steal_seconds() - steal0,
            "peak_rss_mb": mem.peak / _MB,
            "state_mb": procmon.dir_bytes(wd) / _MB,
            "workdir": wd,
        }
        t_check = time.perf_counter()
        rec.update(self.check(wd, log, error))
        rec["check_s"] = time.perf_counter() - t_check
        return rec

    def check(self, wd: str, log, error: str | None) -> dict:
        from cola_spark.plans.scheduler import final_state

        cfg = workloads.crawl_config(self.wl, wd)
        manifest = cfg.io.read_json(os.path.join(wd, "manifest.json")) or {"history": []}
        history = manifest["history"]
        rounds = max(len(history), self.expected.rounds)
        if error is not None:
            failed = {r: [error] for r in range(rounds)}
        else:
            rows = [tuple(r) for r in log.orderBy("global_rank").select(*checks.LOG_COLS).collect()]
            seen = [r[0] for r in final_state(self.spark, cfg)[1].collect()]
            failed = checks.check_crawl(rows, seen, self.want_seen(), self.expected)
        self.attempted += rounds
        self.failed += len(failed)
        self.failures += [f"round {r}: {m}" for r, ms in sorted(failed.items()) for m in ms[:3]]
        return {
            "rounds": rounds,
            "failed_rounds": len(failed),
            "round_secs": [h["secs"] for h in history],
            "log_secs": [h["log_secs"] for h in history],
            "state_secs": [h["state_secs"] for h in history],
            "scheduled": [h["scheduled"] for h in history],
            "fetched_ok": [h["fetched_ok"] for h in history],
        }

    # -- metrics ----------------------------------------------------------
    def end_to_end(self, setup_s: float) -> dict:
        cs = self.crawls
        return {
            "setup_s": (setup_s, "s"),
            "urls_per_s": (_median([c["rows"] / c["secs"] for c in cs]), "1/s"),
            "cpu_s": (_median([c["cpu_s"] for c in cs]), "s"),
            "peak_rss_mb": (_median([c["peak_rss_mb"] for c in cs]), "MB"),
            "state_mb": (_median([c["state_mb"] for c in cs]), "MB"),
        }

    def per_layer(self, traced: dict, tracer: Tracer) -> dict:
        from cola_spark.plans.scheduler import _state_glob, final_state

        read_stage_metrics(self.spark, tracer.spans)
        by_layer: dict[str, list] = {layer: [] for layer in LAYERS}
        for s in tracer.spans:
            by_layer[s.name.split(".")[0]].append(s)
        out = {}
        for layer, spans in by_layer.items():
            out[f"{layer}.wall_s"] = (sum(s.end - s.start for s in spans), "s")
            for key, unit in (
                ("cpu_s", "s"), ("run_s", "s"), ("gc_s", "s"),
                ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
            ):
                out[f"{layer}.{key}"] = (sum(s.stages.get(key, 0.0) for s in spans), unit)
        for layer in ("admit", "fetch"):
            out[f"{layer}.py_cpu_s"] = (sum(s.py_cpu_s for s in by_layer[layer]), "s")

        def rows(name: str, key: str = "out") -> int:
            return sum(s.rows.get(key, 0) for s in tracer.spans if s.name == name)

        admit_in = rows("admit.admit", "in") + rows("admit.admit_filtered", "in")
        admit_out = rows("admit.admit") + rows("admit.admit_filtered")
        robots_in, robots_out = rows("robots.robots_gate", "in"), rows("robots.robots_gate")
        cut_in, cut_out = rows("cut.schedule_cut", "in"), rows("cut.apply_global_cap")
        out.update({
            "canon.rows_out": (rows("canon.prepare_frontier"), "count"),
            "admit.rows_out": (admit_out, "count"),
            "robots.rows_out": (robots_out, "count"),
            "cut.rows_out": (cut_out, "count"),
            "fetch.ok_rows": (rows("fetch.fetch_decode_verify", "ok"), "count"),
            "fetch.invariant_ok_rows": (rows("fetch.fetch_decode_verify", "invariant_ok"), "count"),
            "admit.yield": (admit_out / admit_in if admit_in else 0.0, "ratio"),
            "filter.suspect_ratio": (
                rows("admit.admit_filtered", "suspects") / admit_in if admit_in else 0.0, "ratio"
            ),
            "robots.pass_ratio": (robots_out / robots_in if robots_in else 0.0, "ratio"),
            "cut.carry_ratio": (1.0 - cut_out / cut_in if cut_in else 0.0, "ratio"),
        })
        # per-round times the program writes to its manifest, from the
        # run's first (cold, untraced) crawl: the one the funnel is checked
        # against, and the one the end-to-end metrics measure
        c0 = self.crawls[0]
        out["round.wall_p50_s"] = (_median(c0["round_secs"]), "s")
        out["round.wall_max_s"] = (max(c0["round_secs"], default=0.0), "s")
        out["round.log_s"] = (_median(c0["log_secs"]), "s")
        out["round.commit_s"] = (_median(c0["state_secs"]), "s")

        cfg = workloads.crawl_config(self.wl, traced["workdir"])
        pending, seen, _ = final_state(self.spark, cfg)
        filter_dirs = _state_glob(cfg, "filters")
        out.update({
            "seen.rows": (seen.count(), "count"),
            "seen.dirs": (len(_state_glob(cfg, "seen")), "count"),
            "filter.blob_mb": (sum(procmon.dir_bytes(d) for d in filter_dirs) / _MB, "MB"),
            "pending.rows_end": (pending.count(), "count"),
            # against the untraced crawl that follows it on the same JVM:
            # the first crawl of a run pays the JVM's warm-up
            "trace.overhead_s": (traced["secs"] - self.crawls[-1]["secs"], "s"),
        })
        return out


def funnel_mismatches(traced: dict, tracer: Tracer, untraced: dict) -> list[str]:
    """The traced run's funnel counts must equal both manifests exactly."""
    cut, ok = {}, {}
    for s in tracer.spans:
        rnd = int(s.parent.split("=")[1]) if s.parent.startswith("round=") else None
        if s.name == "cut.apply_global_cap":
            cut[rnd] = cut.get(rnd, 0) + s.rows["out"]
        elif s.name == "fetch.fetch_decode_verify":
            ok[rnd] = ok.get(rnd, 0) + s.rows["ok"]
    got_sched = [cut.get(r, 0) for r in range(len(traced["scheduled"]))]
    got_ok = [ok.get(r, 0) for r in range(len(traced["fetched_ok"]))]
    bad = []
    for name, rec in (("traced", traced), ("untraced", untraced)):
        if got_sched != rec["scheduled"]:
            bad.append(f"funnel: cut rows {got_sched} != {name} manifest scheduled {rec['scheduled']}")
        if got_ok != rec["fetched_ok"]:
            bad.append(f"funnel: fetch ok rows {got_ok} != {name} manifest fetched_ok {rec['fetched_ok']}")
    return bad


def spec_mismatch(metrics: dict, trace: int) -> list[str]:
    """The metrics must be exactly the ones BENCHMARK.json lists for the mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    want = {(m["name"], m["unit"]) for m in spec}
    got = {(name, unit) for name, (_, unit) in metrics.items()}
    return [f"metrics differ from BENCHMARK.json: {sorted(got ^ want)}"] if got != want else []


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench_work = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(bench_work, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    record["machine"] = bench_session.host_facts()
    record["load_before"] = procmon.load_avg()

    problems = checks.selftest()
    run = Run(workloads.WORKLOADS[args.workload], args.seed, work)
    record["inputs"] = run.inputs.stats
    run.failures += [f"selftest: {p}" for p in problems]
    try:
        setup_s = run.setup()
        record["setup_s"] = setup_s
        t_end = time.perf_counter() + args.seconds
        while not run.crawls or time.perf_counter() < t_end:
            run.crawls.append(run.crawl(f"c{len(run.crawls)}"))
        if args.trace:
            tracer = Tracer(run.spark, f"{args.workload}-s{args.seed}-traced", run.jvm)
            t0 = time.time()
            traced = run.crawl("traced", tracer)
            run.crawls.append(run.crawl(f"c{len(run.crawls)}"))
            spans = tracer.crawl_spans(t0, t0 + traced["secs"])
            metrics = run.per_layer(traced, tracer)
            run.failures += funnel_mismatches(traced, tracer, run.crawls[0])
            record["traced"] = {k: v for k, v in traced.items() if k != "workdir"}
            os.makedirs(os.path.join(bench_work, "spans"), exist_ok=True)
            with open(os.path.join(bench_work, "spans", f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump([s.as_dict() for s in spans], f)
        else:
            metrics = run.end_to_end(setup_s)
    finally:
        if getattr(run, "spark", None) is not None:
            bench_session.stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    record["crawls"] = [{k: v for k, v in c.items() if k != "workdir"} for c in run.crawls]
    record["load_after"] = procmon.load_avg()
    record["wall_s"] = time.perf_counter() - T0
    record["failed_ratio"] = run.failed / run.attempted if run.attempted else 0.0
    run.failures += spec_mismatch(metrics, args.trace)
    record["failures"] = run.failures
    correct = not run.failures
    print(json.dumps(record))
    for name, (value, unit) in metrics.items():
        print(f"{name:28s} {value:14.4f} {unit}")
    # rounds that raised or failed a check; the result carries it as failed/attempted
    print(f"{'failed_ratio':28s} {record['failed_ratio']:14.4f} ratio")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": max(run.failed, 0 if correct else 1),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
