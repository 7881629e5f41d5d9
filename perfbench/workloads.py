"""The two crawl workloads and how each one drives the crawl API.

Every workload feeds generated tables into ``plans.scheduler.run_crawl``
and reads the result through ``crawl_log``, as a user does, on a fresh
JVM with its default JIT. The first crawl on a JVM also pays the JVM's
warm-up (JIT compilation, code generation, Python worker start-up); a
warm crawl of the same inputs took about half as long, so a change to
one layer shows in the end-to-end metrics diluted by about half.
fetch_exact is sized so that row work, not only the fixed cost per
round, is a visible part of its crawl. The layers named in each
``why`` are the largest in the traced (warm) crawl. A longer
exact-dedup crawl did not fit the time budget of a benchmark that
starts a JVM per run; fetch_exact's second round runs exact admission
against the seen set that its first round wrote.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from inputs import Shape


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    shape: Shape
    max_rounds: int
    dedup_mode: str = "exact"
    resume_after: int | None = None  # rounds before compaction + resume
    crawl_conf: dict = field(default_factory=dict)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "fetch_exact",
            "two exact-dedup rounds over a wide fresh Zipf frontier at generous rates: "
            "the Python fetch stage is the largest layer, then the cut and admission "
            "against round 0's seen set",
            Shape(n_seeds=8000, n_hosts=800, pages_per_host=50, rate_lo=50, rate_hi=50),
            max_rounds=2,
        ),
        Workload(
            "crawl_hybrid_dup",
            "duplicate-heavy frontier under hybrid cuckoo dedup and tight rates, "
            "compacted then resumed: admission and the cut are the largest layers, "
            "fetch is small",
            Shape(
                n_seeds=1500, n_hosts=150, pages_per_host=6,
                budget_lo=6, budget_hi=12, rate_lo=1, rate_hi=3,
            ),
            max_rounds=3,
            dedup_mode="hybrid",
            resume_after=2,  # compaction folds only two or more deltas
            crawl_conf={"filter_parts": 8, "filter_capacity": 1 << 12},
        ),
    )
}


def crawl_config(w: Workload, workdir: str, max_rounds: int | None = None):
    from cola_spark.plans.scheduler import CrawlConfig

    return CrawlConfig(
        workdir=workdir,
        pages_per_host=w.shape.pages_per_host,
        max_rounds=max_rounds or w.max_rounds,
        fetch_mode="fused",
        dedup_mode=w.dedup_mode,
        **w.crawl_conf,
    )


def run(spark, w: Workload, tables: dict, workdir: str):
    """Crawl to the end as the workload prescribes; return the crawl log."""
    from cola_spark.plans.maintenance import compact_filters, compact_seen
    from cola_spark.plans.scheduler import run_crawl

    args = (spark, tables["seeds"], tables["robots"], tables["budgets"], None)
    os.makedirs(workdir, exist_ok=True)
    if w.resume_after is None:
        return run_crawl(*args, crawl_config(w, workdir))
    run_crawl(*args, crawl_config(w, workdir, w.resume_after))
    cfg = crawl_config(w, workdir)
    compact_seen(spark, cfg)
    compact_filters(spark, cfg)
    return run_crawl(*args, cfg, resume=True)
