"""Output checks against the pure-Python oracle (``plans.oracle``).

Every crawl the benchmark runs is checked here, per round:

  * the crawl log, in ``global_rank`` order, equals the oracle's order
    on (round, priority, host, seq, url_canon);
  * the final seen set equals the oracle's (as url hashes);
  * no robots-disallowed URL appears in the log;
  * ``invariant_ok`` is never false (it is null only on failed fetches);
  * no url_hash is admitted twice: the seen state holds each hash once,
    and the log holds each non-forced url_hash once.

The checks work on plain Python rows, so ``selftest`` can plant defects
in a log without Spark and show that they are caught.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from cola_spark.plans.oracle import run_oracle

LOG_COLS = [
    "round", "priority", "host", "seq", "url_canon",
    "path", "url_hash", "force", "fetch_ok", "invariant_ok",
]
ORDER_KEY = slice(0, 5)  # (round, priority, host, seq, url_canon)


@dataclass
class Expected:
    order: list[tuple]  # ORDER_KEY of every oracle log row, crawl order
    seen: set[str]  # canonical URLs the oracle admitted
    disallow: dict[str, list[str]]
    rounds: int  # rounds the oracle scheduled work in


def expected(inputs, pages_per_host: int, max_rounds: int) -> Expected:
    out = run_oracle(
        inputs.seeds, inputs.robots, inputs.budgets,
        pages_per_host=pages_per_host, max_rounds=max_rounds,
    )
    disallow: dict[str, list[str]] = {}
    for r in inputs.robots:
        disallow.setdefault(r["host"], []).append(r["disallow_prefix"])
    order = [(s["round"], s["priority"], s["host"], s["seq"], s["url_canon"]) for s in out["order"]]
    rounds = 1 + max((o[0] for o in order), default=-1)
    return Expected(order, out["seen"], disallow, rounds)


def check_crawl(
    log: list[tuple], seen_hashes: list[int], want_seen_hashes: set[int], exp: Expected
) -> dict[int, list[str]]:
    """Failures by round. ``log`` rows follow LOG_COLS in global_rank
    order; ``seen_hashes`` is the final seen state, one entry per stored
    row. An end-state failure is charged to the last round."""
    failed: dict[int, list[str]] = {}
    last = max(exp.rounds - 1, max((r[0] for r in log), default=0))

    def fail(rnd: int, msg: str) -> None:
        failed.setdefault(rnd, []).append(msg)

    got_by_round: dict[int, list[tuple]] = {}
    for row in log:
        got_by_round.setdefault(row[0], []).append(tuple(row[ORDER_KEY]))
    want_by_round: dict[int, list[tuple]] = {}
    for row in exp.order:
        want_by_round.setdefault(row[0], []).append(row)
    for rnd in sorted(set(got_by_round) | set(want_by_round)):
        got, want = got_by_round.get(rnd, []), want_by_round.get(rnd, [])
        if got != want:
            diff = next(((a, b) for a, b in zip(got, want) if a != b), None)
            fail(rnd, f"order: {len(got)} rows vs oracle {len(want)}; first diff {diff}")
    if [tuple(r[ORDER_KEY]) for r in log] != exp.order and not failed:
        fail(last, "order: rounds interleave differently from the oracle")

    for row in log:
        rnd, host, path = row[0], row[2], row[5]
        if any(path.startswith(p) for p in exp.disallow.get(host, [])):
            fail(rnd, f"robots: disallowed URL crawled: {row[4]}")
        if row[9] is False or (row[8] and row[9] is not True):
            fail(rnd, f"decode: invariant_ok={row[9]} for {row[4]}")
    hash_rounds: dict[int, list[int]] = {}
    for row in log:
        if not row[7]:
            hash_rounds.setdefault(row[6], []).append(row[0])
    for rounds in hash_rounds.values():
        if len(rounds) > 1:
            fail(rounds[-1], f"dedup: url_hash logged {len(rounds)} times without force")

    dup = [h for h, n in Counter(seen_hashes).items() if n > 1]
    if dup:
        fail(last, f"dedup: {len(dup)} url_hash stored more than once in the seen set")
    got_seen = set(seen_hashes)
    if got_seen != want_seen_hashes:
        fail(
            last,
            f"seen: {len(got_seen - want_seen_hashes)} extra, "
            f"{len(want_seen_hashes - got_seen)} missing vs the oracle",
        )
    return failed


def selftest() -> list[str]:
    """Plant a dropped row and a disallowed URL in an oracle-exact log;
    return what is wrong with the checker (empty when it works)."""
    from inputs import Shape, make_inputs

    shape = Shape(n_seeds=60, n_hosts=12, pages_per_host=20)
    exp = expected(make_inputs(shape, 7), shape.pages_per_host, max_rounds=4)
    canon_hash = {c: i for i, c in enumerate(sorted(exp.seen | {o[4] for o in exp.order}))}
    good = [
        (*o, "/" + o[4].split("/", 3)[3].split("?")[0], canon_hash[o[4]], False, True, True)
        for o in exp.order
    ]
    # forced retries repeat a URL; mark repeats as forced, as the log does
    first: set[str] = set()
    for i, row in enumerate(good):
        if row[4] in first:
            good[i] = row[:7] + (True,) + row[8:]
        first.add(row[4])
    seen = [canon_hash[c] for c in exp.seen]
    problems = []
    if check_crawl(good, seen, set(seen), exp):
        problems.append("an oracle-exact log fails the checks")

    # drop a row of the last round; crawl a fully disallowed host in round 0
    blocked_host = next(h for h, ps in exp.disallow.items() if "/" in ps)
    last = exp.rounds - 1
    drop = max(i for i, row in enumerate(good) if row[0] == last)
    planted = good[:drop] + good[drop + 1 :] + [
        (0, 0, blocked_host, -1, f"http://{blocked_host}/p/0", "/p/0", -1, False, True, True)
    ]
    failed = check_crawl(planted, seen, set(seen), exp)
    if not any(m.startswith("order:") for m in failed.get(last, [])):
        problems.append("a dropped row was not caught")
    if not any(m.startswith("robots:") for m in failed.get(0, [])):
        problems.append("a disallowed URL was not caught")
    return problems
