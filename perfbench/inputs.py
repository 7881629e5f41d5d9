"""Seeded crawl inputs: seeds, robots and budgets tables.

The package's own generators (``cola_spark.sources``) fix their hash
seeds, so every call yields the same tables. Here every table is a pure
function of a workload seed: host names come from a seeded bijection of
the Zipf ranks onto a wide id space, and seed ``seq`` numbers start at a
seeded offset. The number of seeds per Zipf rank, the robots rules and
the budget and rate of each rank are fixed by the shape, so the shape
of the work (how much the hottest hosts hold, how much is disallowed,
the total budget) stays the same from seed to seed while the concrete
URLs, pages, hashes and host placements change.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np

from cola_spark.plans.oracle import canonicalize


@dataclass(frozen=True)
class Shape:
    n_seeds: int
    n_hosts: int
    pages_per_host: int
    budget_lo: int = 5  # the package's default budget shape: 5-50 pages
    budget_hi: int = 50
    rate_lo: int = 2  # and 2-9 pages per host per round
    rate_hi: int = 9
    zipf_s: float = 1.1


@dataclass
class Inputs:
    seeds: list[dict]  # url, priority, seq, force
    robots: list[dict]  # host, disallow_prefix
    budgets: list[dict]  # host, budget, rate_per_round
    stats: dict


def _spread(lo: int, hi: int, n: int) -> np.ndarray:
    """n values spread evenly over [lo, hi] (a fixed multiset)."""
    return lo + (np.arange(n, dtype=np.int64) * (hi - lo + 1)) // max(n, 1)


def make_inputs(shape: Shape, seed: int) -> Inputs:
    rng = np.random.default_rng([seed, zlib.crc32(repr(shape).encode())])
    n_hosts = shape.n_hosts
    # host of Zipf rank k (0 = hottest): a seeded injection into 10^6 ids
    host_ids = rng.choice(1_000_000, size=n_hosts, replace=False)
    host_names = [f"h{int(h):06d}.example" for h in host_ids]

    # seeds per host rank: Zipf(s) shares rounded by largest remainder,
    # the same for every seed; only the order of the seeds is drawn
    weights = 1.0 / np.arange(1, n_hosts + 1, dtype=np.float64) ** shape.zipf_s
    share = shape.n_seeds * weights / weights.sum()
    counts = np.floor(share).astype(np.int64)
    counts[np.argsort(counts - share)[: shape.n_seeds - int(counts.sum())]] += 1
    ranks = rng.permutation(np.repeat(np.arange(n_hosts), counts))
    pages = rng.integers(0, shape.pages_per_host, size=shape.n_seeds)
    variants = rng.integers(0, 10, size=shape.n_seeds)
    priorities = rng.integers(0, 3, size=shape.n_seeds)
    forces = rng.integers(0, 20, size=shape.n_seeds) == 0
    seq0 = int(rng.integers(0, 1_000)) * 1_000_000
    suffix = {0: "#frag", 1: "?b=2&a=1", 2: "?a=1&b=2"}
    seeds = [
        {
            "url": f"http://{host_names[r]}/p/{p}{suffix.get(int(v), '')}",
            "priority": int(pr),
            "seq": seq0 + i,
            "force": bool(f),
        }
        for i, (r, p, v, pr, f) in enumerate(zip(ranks, pages, variants, priorities, forces))
    ]

    # robots by rank, as the package generator does by id: every 10th
    # host disallows /p/1*, every 50th disallows everything
    robots = []
    for k, host in enumerate(host_names):
        if k % 50 == 7:
            robots.append({"host": host, "disallow_prefix": "/"})
        elif k % 10 == 3:
            robots.append({"host": host, "disallow_prefix": "/p/1"})

    # budget and rate by rank in an order fixed by the shape alone: a
    # seed that gave the hottest hosts the lowest rates would schedule
    # less work, and the seed is meant to move URLs, not the load
    by_rank = np.random.default_rng(zlib.crc32(repr(shape).encode()))
    budget = by_rank.permutation(_spread(shape.budget_lo, shape.budget_hi, n_hosts))
    rate = by_rank.permutation(_spread(shape.rate_lo, shape.rate_hi, n_hosts))
    budgets = [
        {"host": h, "budget": int(b), "rate_per_round": int(r)}
        for h, b, r in zip(host_names, budget, rate)
    ]

    canon = [canonicalize(s["url"]) for s in seeds]
    n_distinct = len(set(canon))
    hot = int(np.bincount(ranks, minlength=n_hosts).max())
    stats = {
        "seeds": shape.n_seeds,
        "hosts": n_hosts,
        "distinct_canonical_urls": n_distinct,
        "duplicate_share": round(1.0 - n_distinct / shape.n_seeds, 4),
        "hottest_host_share": round(hot / shape.n_seeds, 4),
        "total_rate_per_round": int(rate.sum()),
        "total_budget": int(budget.sum()),
    }
    return Inputs(seeds, robots, budgets, stats)


SCHEMAS = {
    "seeds": "url string, priority int, seq long, force boolean",
    "robots": "host string, disallow_prefix string",
    "budgets": "host string, budget long, rate_per_round long",
}


def to_tables(spark, inputs: Inputs) -> dict:
    """The three tables as DataFrames: all the program receives."""
    return {
        name: spark.createDataFrame(
            [tuple(r.values()) for r in getattr(inputs, name)], schema
        )
        for name, schema in SCHEMAS.items()
    }
