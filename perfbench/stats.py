"""Percentile helpers. Every summary carries the number of samples it was
taken over, and callers add an effective sample count where samples are
not independent (trades that share a micro-batch share its commit)."""


def percentile(values, q):
    """Linear-interpolated q-th percentile (0-100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summary(values, qs=(50, 90), effective=None):
    """{"p50": .., "p90": .., "n": samples[, "n_eff": effective]}; the
    percentiles are None when there are no samples."""
    out = {f"p{q}": (percentile(values, q) if values else None) for q in qs}
    out["n"] = len(values)
    if effective is not None:
        out["n_eff"] = effective
    return out


def median(values):
    return percentile(values, 50)
