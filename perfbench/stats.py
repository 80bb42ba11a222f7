"""Summary statistics of the benchmark's job records."""
import statistics

TAIL_BEYOND = 10
# /proc/stat cpu fields that make up elapsed CPU time; guest time is
# already counted inside user and nice.
_CPU_FIELDS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def median(values):
    return statistics.median(values)


def quartiles(values):
    """First quartile, median, third quartile (Python's default method)."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail(values, beyond=TAIL_BEYOND):
    """The value at the highest percentile that still has `beyond` samples
    above it, and that percentile. Needs more than `beyond` samples."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples; the tail needs more than {beyond}")
    s = sorted(values)
    return s[n - beyond - 1], 100.0 * (n - beyond) / n


def parse_cpu_line(line):
    """Ticks of the aggregate `cpu` line of /proc/stat, by field name."""
    parts = line.split()
    if not parts or parts[0] != "cpu":
        raise ValueError(f"not a /proc/stat cpu line: {line!r}")
    ticks = [int(x) for x in parts[1:]]
    ticks += [0] * (len(_CPU_FIELDS) - len(ticks))
    return dict(zip(_CPU_FIELDS, ticks))


def steal_frac(before, after):
    """Share of elapsed CPU ticks between two /proc/stat cpu lines that the
    hypervisor stole."""
    b, a = parse_cpu_line(before), parse_cpu_line(after)
    total = sum(a[f] - b[f] for f in _CPU_FIELDS)
    return (a["steal"] - b["steal"]) / total if total > 0 else 0.0


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
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
    """Seconds of each span (by id) not covered by its child spans."""
    out = {}
    for sp in spans:
        kids = [(max(c["start_ns"], sp["start_ns"]), min(c["end_ns"], sp["end_ns"]))
                for c in spans if c["parent"] == sp["id"]]
        kids = [(s, e) for s, e in kids if e > s]
        out[sp["id"]] = (sp["end_ns"] - sp["start_ns"] - covered(kids)) / 1e9
    return out
