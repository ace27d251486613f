"""Pure helpers behind the benchmark's numbers (unit-tested in tests/)."""
import math
import statistics


def highest_reportable_percentile(n, tail=10, ladder=(99, 95, 90, 75)):
    """Highest tail percentile on `ladder` with at least `tail` samples
    beyond it among `n`; None when no tail percentile has that many (the
    median is reported regardless)."""
    for q in ladder:
        if n * (100 - q) / 100.0 >= tail:
            return q
    return None


def spread(values):
    """Inter-quartile distance as a share of the median (the steadiness
    figure: statistics.quantiles(n=4) quartiles, exclusive method)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def geomean(values):
    """Geometric mean of positive values: the typical op wall. Each op
    weighs the same whatever its size, and unlike the median of a dozen
    walls it does not jump when the ops near the middle trade places."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` (pairs), clipped to [lo, hi]."""
    segs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            segs.append((s, e))
    segs.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in segs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per span name: total self time, i.e. each span's duration minus the
    part of its interval its child spans cover. `spans` are dicts with
    id, parent, name, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        dur = max(0.0, s["end"] - s["start"])
        covered = union_length(children.get(s["id"], []), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + dur - covered
    return out


def failure_accounting(outcomes):
    """Tally op outcomes. `ok` passed its check; `failed` threw; `wrong`
    returned a result the check rejected; `refused` was turned away by the
    program (an HTTP error, a config it did not process); `guard_skipped`
    is the registry's designed scale-guard refusal, counted apart and not
    as a failure."""
    known = ("ok", "failed", "wrong", "refused", "guard_skipped")
    tally = {k: 0 for k in known}
    for o in outcomes:
        if o not in tally:
            raise ValueError(f"unknown outcome {o!r}")
        tally[o] += 1
    attempted = len(outcomes)
    bad = tally["failed"] + tally["wrong"] + tally["refused"]
    return {"attempted": attempted, "failed": bad,
            "failed_frac": bad / attempted if attempted else 1.0,
            "guard_skipped": tally["guard_skipped"], "tally": tally}


def stratified_panel(weights, k):
    """Split the names of `weights` (name -> reference seconds) into `k`
    contiguous strata by weight and take each stratum's median member."""
    names = sorted(weights, key=lambda n: (weights[n], n))
    k = max(1, min(k, len(names)))
    return [names[(len(names) * i // k + len(names) * (i + 1) // k - 1) // 2] for i in range(k)]
