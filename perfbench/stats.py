"""Arithmetic of the benchmark: summaries, span self-time, ledger diff.

Pure functions, no I/O, so `test_stats.py` can pin every one of them.
"""
import math
import statistics


def median(xs):
    xs = list(xs)
    if not xs:
        raise ValueError("median of no values")
    return statistics.median(xs)


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def fail_ratio(failed, attempted):
    if attempted < 1:
        raise ValueError("no attempted runs")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie in [0, attempted]")
    return failed / attempted


def _union_length(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def span_self_time(spans):
    """{span id: duration not covered by any child span}.

    Children are clipped to their parent and overlapping children (jobs
    that run concurrently) are counted once.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        t0, t1 = s["start_ms"], s["end_ms"]
        covered = _union_length(
            (max(t0, k["start_ms"]), min(t1, k["end_ms"]))
            for k in kids.get(s["id"], ())
            if min(t1, k["end_ms"]) > max(t0, k["start_ms"]))
        out[s["id"]] = (t1 - t0) - covered
    return out


def count_fields_varying(per_pass):
    """Collapse a list of per-pass values of one count into the ledger
    form: the value if every pass agrees, else the observed spread."""
    lo, hi = min(per_pass), max(per_pass)
    if lo == hi:
        return lo
    return {"varying": True, "min": lo, "max": hi,
            "median": median(per_pass)}


def ledger_diff(old, new, fields):
    """Queries whose deterministic counts changed between two ledgers.

    Returns (changed, varying, only_old, only_new): `changed` holds
    (query, field, old, new) for plain counts that differ; `varying`
    holds (query, field) where either ledger marks the count as varying,
    so it cannot be compared exactly.
    """
    changed, varying = [], []
    for q in sorted(set(old) & set(new)):
        for f in fields:
            a, b = old[q].get(f), new[q].get(f)
            if isinstance(a, dict) or isinstance(b, dict):
                varying.append((q, f))
            elif a != b:
                changed.append((q, f, a, b))
    return (changed, varying, sorted(set(old) - set(new)),
            sorted(set(new) - set(old)))
