"""Statistics shared by the workload runner and the paired runner."""
import math
import statistics

# a tail percentile must have at least this many samples beyond it
TAIL_BEYOND = 10
# tail levels are searched on this grid of percentiles
TAIL_STEP = 0.01
# a paired comparison needs at least this many pairs, and the change
# must win WINS_NEEDED of every 10 of them to count as a gain
MIN_PAIRS = 10
WINS_NEEDED = 9


def percentile(xs, level):
    """Nearest-rank percentile: the smallest sample with at least
    `level` of the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(level * len(s) - 1e-9))
    return s[k - 1]


def beyond(n, level):
    """Samples strictly beyond the nearest-rank `level` percentile of n."""
    return n - max(1, math.ceil(level * n - 1e-9))


def tail_level(n):
    """Highest percentile level (on a TAIL_STEP grid) of an n-sample
    pool with at least TAIL_BEYOND samples beyond it, or None if n is
    too small for any."""
    best = None
    for i in range(1, int(round(1 / TAIL_STEP))):
        level = round(i * TAIL_STEP, 10)
        if beyond(n, level) >= TAIL_BEYOND:
            best = level
    return best


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Interquartile range as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else math.inf


def paired_verdict(parent, change, better, bound):
    """Verdict for one metric over alternating parent/change pairs.

    `parent` and `change` are equal-length lists, pair i being
    (parent[i], change[i]). Returns one of:
      "unresolved"  - either side's spread exceeds the bound, unless every
                      change run reads better than every parent run;
      "regression"  - the change's median is worse than the parent's by
                      more than the bound;
      "improvement" - the change wins at least WINS_NEEDED of every 10
                      pairs (ties count for neither side) and the medians
                      differ by more than the parent's interquartile range;
      "no change"   - otherwise.
    """
    if len(parent) != len(change) or len(parent) < MIN_PAIRS:
        raise ValueError(f"need at least {MIN_PAIRS} complete pairs")

    def beats(c, p):
        return c < p if better == "lower" else c > p
    clean_sweep = all(beats(c, p) for c in change for p in parent)
    if not clean_sweep and (spread(parent) > bound or spread(change) > bound):
        return "unresolved"
    mp, mc = statistics.median(parent), statistics.median(change)
    worse = (mc - mp) / mp if better == "lower" else (mp - mc) / mp
    if worse > bound:
        return "regression"
    wins = sum(1 for p, c in zip(parent, change) if beats(c, p))
    q1, _, q3 = quartiles(parent)
    if wins * 10 >= WINS_NEEDED * len(parent) and abs(mc - mp) > q3 - q1:
        return "improvement"
    return "no change"
