"""Pure arithmetic of the benchmark: medians, the tail rule, self times."""
import statistics


def median(xs):
    return statistics.median(xs)


def tail(samples, beyond=10):
    """The highest percentile of `samples` that still has at least
    `beyond` samples above it.

    Samples are sorted ascending; the value at 0-based rank i has
    n - 1 - i samples beyond it, so the highest qualifying rank is
    n - 1 - beyond. Returns (value, percentile, n) with the percentile
    given as 100 * i / (n - 1). Needs more than `beyond` samples.
    """
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples: the tail rule needs more than {beyond}")
    i = n - 1 - beyond
    return xs[i], 100.0 * i / (n - 1), n


def self_times(span):
    """Self time of every span in a tree.

    A span is (name, seconds, children); its children are the blocking
    steps it waited on, one after another, so its self time is its own
    duration minus theirs. Returns [(path, self_seconds)] in depth-first
    order; the self times of a tree sum to the root's duration.
    """
    out = []

    def walk(s, prefix):
        name, secs, kids = s
        path = f"{prefix}/{name}" if prefix else name
        out.append((path, secs - sum(k[1] for k in kids)))
        for k in kids:
            walk(k, path)

    walk(span, "")
    return out


def query_span(sample):
    """The span tree of one traced query sample (see Main.scala)."""
    return ("query", sample["wall_s"], [
        ("build", sample["build_s"], [("analyze", sample["analyze_s"], [])]),
        ("optimize", sample["optimize_s"], []),
        ("physical", sample["physical_s"], []),
        ("stages", sample["stages_s"], []),
        ("final", sample["final_s"], []),
    ])
