"""Pure functions that turn the harness's raw records into metrics.

Everything here is deterministic and free of I/O so that it can be unit
tested (see tests/test_benchlib.py). Times are epoch milliseconds.
"""
import math
import statistics


def median(values):
    return statistics.median(values) if values else None


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least a share
    `p` of the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def tail_percentile(values, target, beyond=10):
    """The percentile actually reported for a requested tail `target`.

    A tail percentile is only as good as the samples beyond it, so the rule
    reports the highest percentile, up to `target`, that leaves at least
    `beyond` samples above it; it never reports below the median. Returns
    (percentile used, value, n).
    """
    n = len(values)
    if n == 0:
        return None, None, 0
    p = min(target, 1.0 - beyond / n)
    p = max(0.5, math.floor(p * 100) / 100)
    return p, percentile(values, p), n


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span, children):
    """A span's duration minus the interval its children cover."""
    return (span[1] - span[0]) - covered(children, span[0], span[1])


def table_steps(events, t0):
    """Per-table step intervals of one `rebalanceDatabase` pass.

    Tables run one after another; a table's span ends when its `t__old` copy
    is dropped and the next table's span starts there (the first at `t0`,
    the call's start). Returns {table: {"span", "swap", "drop", "window"}},
    each an interval (start, end); "swap" runs from the first rename's start
    to the second rename's end, and "window", the time the canonical name
    fronts nothing, from the completed rename `t -> t__old` to the completed
    rename `t__vN -> t`. Other renames are ignored.
    """
    pre, steps, start = {}, {}, t0
    for e in events:
        ev, name = e["ev"], e["name"]
        if ev in ("RenameTablePreEvent", "DropTablePreEvent"):
            pre[(ev, name)] = e["t"]
        elif ev == "RenameTableEvent" and e["to"] == name + "__old":
            st = steps.setdefault(name, {})
            st["swap"] = (pre.get(("RenameTablePreEvent", name), e["t"]), None)
            st["vacated"] = e["t"]
        elif ev == "RenameTableEvent" and "__v" in name and e["to"] in steps:
            st = steps[e["to"]]
            st["swap"] = (st["swap"][0], e["t"])
            st["window"] = (st.pop("vacated"), e["t"])
        elif ev == "DropTableEvent" and name.endswith("__old"):
            table = name[: -len("__old")]
            st = steps.setdefault(table, {})
            st["drop"] = (pre.get(("DropTablePreEvent", name), e["t"]), e["t"])
            st["span"] = (start, e["t"])
            start = e["t"]
    return {t: s for t, s in steps.items() if "span" in s}

