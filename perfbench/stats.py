"""Arithmetic behind the benchmark's metrics, kept apart so it can be tested."""
import statistics


def union_ms(spans, lo=None, hi=None):
    """Total length of the union of [start, end] spans, optionally clipped
    to [lo, hi]. Overlapping and nested spans count once."""
    clipped = []
    for s, e in spans:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_s(t0_ms, t1_ms, spans):
    """Seconds of a call's wall time [t0, t1] during which no Spark job of
    the call was running: planning, driver loops, collects' tails, commit."""
    return max(0, (t1_ms - t0_ms) - union_ms(spans, t0_ms, t1_ms)) / 1000.0


def unstolen_share(ticks):
    """Share of the CPU time the machine wanted in a window that it got:
    1 - steal / (busy + steal), from deltas of the /proc/stat `cpu` line
    (user, nice, system, idle, iowait, irq, softirq, steal). On a virtual
    machine whose host runs other guests, the hypervisor takes ("steals")
    vCPU time while the guest is runnable; scaling a wall time by this
    share estimates it on an unshared host, and leaves it unchanged where
    nothing is stolen."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = ticks[:8]
    busy = user + nice + system + irq + softirq
    return 1.0 - steal / (busy + steal) if busy + steal else 1.0


def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, p):
    """p-th percentile (0..100) with linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    f = int(k)
    c = min(f + 1, len(xs) - 1)
    return xs[f] + (xs[c] - xs[f]) * (k - f)


def supported_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50)):
    """Highest candidate percentile with at least ten samples beyond it,
    or None when even the median lacks them."""
    for p in candidates:
        if n * (100.0 - p) / 100.0 >= 10:
            return p
    return None
