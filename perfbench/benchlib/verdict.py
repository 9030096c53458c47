"""Comparison of two sets of runs of one metric on one workload."""
import statistics


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values):
    """Distance between the quartiles as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def verdict(base, change, better, bound):
    """`better`, `worse`, `same` or `unresolved` for `change` against
    `base`.

    - worse: the change's median is worse than the base median by more
      than `bound` (a share of the base median), with both sides' spread
      within the bound.
    - better: the change wins at least nine tenths of all (base, change)
      pairs and the medians differ in the metric's good direction by
      more than the base's own quartile distance, with both spreads
      within the bound.
    - Where either side's spread is wider than the bound, the result is
      unresolved unless every change run reads better (or every one
      worse) than every base run.
    - Anything else is `same`: no worse than the bound allows, and no
      gain the runs can show."""
    sign = -1.0 if better == "lower" else 1.0
    bq1, bmed, bq3 = quartiles(base)
    _, cmed, _ = quartiles(change)
    gain = sign * (cmed - bmed)           # > 0 means the change is better
    if max(spread(base), spread(change)) > bound:
        if all(sign * c > sign * b for c in change for b in base):
            return "better"
        if all(sign * c < sign * b for c in change for b in base):
            return "worse"
        return "unresolved"
    if -gain > bound * abs(bmed):
        return "worse"
    wins = sum(sign * c > sign * b for c in change for b in base)
    if gain > (bq3 - bq1) and wins >= 0.9 * len(base) * len(change):
        return "better"
    return "same"
