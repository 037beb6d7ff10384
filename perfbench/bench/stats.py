"""Pure functions behind the benchmark's figures (unit-tested in tests/)."""
import math

# a percentile is reported only when at least this many samples lie beyond it
MIN_BEYOND = 10


def percentile(samples, q):
    """Nearest-rank percentile `q` (0 < q < 1) of `samples`.

    Returns (value, None), or (None, reason) when fewer than MIN_BEYOND
    samples lie above the rank, so a tail figure never rests on a handful
    of points.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return None, "no samples"
    rank = _rank(q, n)
    if n - rank < MIN_BEYOND:
        need = next(m for m in range(MIN_BEYOND, 10 ** 6) if m - _rank(q, m) >= MIN_BEYOND)
        return None, f"p{round(q * 100)} needs >= {need} samples ({MIN_BEYOND} beyond it), have {n}"
    return xs[rank - 1], None


def tail_percentile(samples, candidates=(0.99, 0.95, 0.9, 0.75)):
    """The highest of `candidates` the sample count supports, as
    (q, value), or (None, reason) when even the lowest is unsupported."""
    for q in candidates:
        v, why = percentile(samples, q)
        if v is not None:
            return q, v
    return None, why


def _rank(q, n):
    """1-based nearest rank; rounding first keeps 0.9 * 100 at 90."""
    return max(1, math.ceil(round(q * n, 9)))


def median(samples):
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2


def failed_frac(attempted, failed):
    """Failed or wrong-result ops per op attempted."""
    if attempted < 1:
        raise ValueError("no op was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def client_count(requested, nproc):
    """Closed-loop clients: as requested, but never more than the cores."""
    return max(1, min(int(requested), int(nproc)))


def result_line(correct, attempted, failed, metrics):
    """The final stdout object: exactly correct/attempted/failed/metrics."""
    return {"correct": bool(correct), "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(v["value"]), "unit": v["unit"]}
                        for k, v in metrics.items()}}


def validate_result(obj, names):
    """Raises ValueError unless `obj` is a well-formed result carrying
    exactly the metric `names`."""
    if not isinstance(obj, dict) or set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(obj) if isinstance(obj, dict) else obj!r}")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool) or obj[k] < 0:
            raise ValueError(f"{k} must be a whole number")
    if obj["attempted"] < 1 or obj["failed"] > obj["attempted"]:
        raise ValueError("need attempted >= 1 and failed <= attempted")
    m = obj["metrics"]
    if not isinstance(m, dict) or set(m) != set(names):
        raise ValueError(f"metrics {sorted(m) if isinstance(m, dict) else m!r} != {sorted(names)}")
    for k, v in m.items():
        if set(v) != {"value", "unit"} or not isinstance(v["unit"], str):
            raise ValueError(f"metric {k} must have exactly value and unit")
        if not isinstance(v["value"], (int, float)) or isinstance(v["value"], bool) \
                or not math.isfinite(v["value"]):
            raise ValueError(f"metric {k} value must be a finite number")
    return obj
