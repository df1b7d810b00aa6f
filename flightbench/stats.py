"""Order statistics and digests used by the benchmark's reports."""
import hashlib
import math
import statistics


def quantile(values, p):
    """The p-quantile (0 <= p <= 1) by linear interpolation between the
    closest ranks of the sorted sample (the "inclusive" method, as in
    numpy's default and `statistics.quantiles(..., method="inclusive")`)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = p * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return statistics.median(values)


def geomean(values):
    """Geometric mean of positive values."""
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def geomean_of_medians(samples):
    """Geometric mean over names of each name's own median, so a pool
    that mixes 0.05 s and 1.6 s queries weighs every name equally."""
    return geomean([median(v) for v in samples.values()])


def cell_str(v):
    """Text of one result cell, the same for Spark's and DuckDB's side."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def rows_digest(rows):
    """SHA-256 over rows of cells in emitted order."""
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(cell_str(c) for c in row).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()
