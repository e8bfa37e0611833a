"""Statistics and checks shared by run.py and its tests."""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# The layer times of a query (its cumulative prefixes, each timed to the noop
# sink, plus the checksum sink on top) telescope to the query's checksum-sink time
# in the traced run. That sum must match the query's untraced time within this
# share of it, or within PREFIX_TOL_ABS_S, whichever is larger: the
# absolute floor covers the fixed per-job cost (planning, scheduling) that
# varies by a few hundred ms between two runs of the same sub-second query.
# The same band bounds how far below zero a layer's self time may fall by timing
# noise (see self_time_ok).
PREFIX_TOL = 0.25
PREFIX_TOL_ABS_S = 0.25


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3); for one sample all three are that sample."""
    if not xs:
        raise ValueError("quartiles of no samples")
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def iqr_share(xs):
    """Distance between the first and third quartile as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def prefix_sum_ok(layer_sum_s, untraced_s):
    """True when the traced layer times of a query sum to its untraced time
    within the stated tolerance."""
    tol = max(PREFIX_TOL * untraced_s, PREFIX_TOL_ABS_S)
    return abs(layer_sum_s - untraced_s) <= tol


def layer_times(spans):
    """{node name: (best duration, self time, names of the nodes it consumes)} of
    one query's layer tree, from the spans of all its rounds. A node's time is its shortest round: the first round
    of a prefix also compiles its code. Its self time is that time minus the
    times of the prefixes it consumes. Prefixes run one after another, so a
    parent's interval does not contain its children's, and the self times of a
    tree sum to the root's time."""
    by_id = {s["id"]: s for s in spans}
    durs, children = {}, {}
    for s in spans:
        durs.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e9)
        if s["parent"] >= 0:
            children.setdefault(by_id[s["parent"]]["name"], set()).add(s["name"])
    best = {n: min(xs) for n, xs in durs.items()}
    return {n: (b, b - sum(best[c] for c in children.get(n, ())), sorted(children.get(n, ())))
            for n, b in best.items()}


def self_time_ok(self_s, dur_s):
    """False when a layer's self time is negative beyond timing noise (the
    prefix-sum band around the layer's own time): its prefixes then take longer
    than the layer that consumes them."""
    return self_s >= -max(PREFIX_TOL * dur_s, PREFIX_TOL_ABS_S)
