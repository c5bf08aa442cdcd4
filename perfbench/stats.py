"""Order statistics and span self times shared by the workloads."""
import statistics


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, p):
    """Nearest-rank percentile `p` (0-100) of `xs`; 0.0 when empty."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def tail(xs, beyond=10):
    """The highest order statistic with at least `beyond` samples above it,
    and the percentile it stands at. Falls back to the maximum when there
    are fewer than twice `beyond` samples."""
    if not xs:
        return 0.0, 0.0
    s = sorted(xs)
    k = len(s) - beyond - 1 if len(s) > 2 * beyond else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s)


def self_times(spans):
    """Self time per layer in seconds. `spans` are
    (id, name, layer, start_us, end_us, parent, group) tuples; a span's self
    time is its duration minus the union of its children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s[5], []).append((s[3], s[4]))
    out = {}
    for sid, _, layer, start, end, _, _ in spans:
        covered, cur_s, cur_e = 0, None, None
        for a, b in sorted(kids.get(sid, [])):
            a, b = max(a, start), min(b, end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[layer] = out.get(layer, 0.0) + (end - start - covered) / 1e6
    return out
