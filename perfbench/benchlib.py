"""Pure helpers of the benchmark: statistics, seeded inputs, output hashes.

Nothing here starts a JVM, so `perfbench/tests` can check it in seconds.
"""
import hashlib
import math
import random
import statistics

import pyarrow as pa
import pyarrow.parquet as pq

TAIL_BEYOND = 10


def median(values):
    return statistics.median(values)


def tail(values):
    """The highest percentile that still has TAIL_BEYOND samples above it.

    Returns (value, percentile, n). Sorted ascending, the sample at index
    n - TAIL_BEYOND - 1 has exactly TAIL_BEYOND samples beyond it; its
    percentile is the share of samples at or below it. With n <=
    TAIL_BEYOND no percentile qualifies and the maximum is returned as
    percentile 100, which the artifact then records as unsupported.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0, n
    i = n - TAIL_BEYOND - 1
    return xs[i], 100.0 * (i + 1) / n, n


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def agrees(first, second, bound, better):
    """True when the second set's median is not worse than the first's by
    more than `bound` (a share of the first median)."""
    a, b = statistics.median(first), statistics.median(second)
    if better == "lower":
        return b <= a * (1.0 + bound)
    return b >= a * (1.0 - bound)


def accept(first, second, declared):
    """The acceptance rule for two run sets of one workload.

    `first` and `second` map metric name -> values, one per run;
    `declared` is BENCHMARK.json's end_to_end list. Every spread except
    setup_s's must be within the bound, and the second median must not be
    worse than the first by more than the bound. Returns the failures as
    (metric, reason) pairs; empty means accepted.
    """
    failures = []
    for m in declared:
        name, bound = m["name"], m["bound"]
        a, b = first[name], second[name]
        if name != "setup_s":
            for label, xs in (("first", a), ("second", b)):
                if spread(xs) > bound:
                    failures.append((name, f"{label} spread {spread(xs):.3f} > {bound}"))
        if not agrees(a, b, bound, m["better"]):
            failures.append((name, f"median {median(a):.4g} -> {median(b):.4g}"))
    return failures


# ------------------------------------------------------------ seeded inputs

def rng(workload, seed):
    return random.Random(f"{workload}:{seed}")


def draw_ids(workload, seed, pool_size, k):
    """k distinct row ids out of range(pool_size), sorted."""
    return sorted(rng(workload, seed).sample(range(pool_size), k))


def key_orders(workload, seed, keys, passes):
    """One seeded permutation of `keys` per pass."""
    r = rng(workload, seed)
    out = []
    for _ in range(passes):
        ks = list(keys)
        r.shuffle(ks)
        out.append(ks)
    return out


def force_keys(workload, seed, spec):
    """`spec` maps table -> (key_space, count); returns table -> sorted keys."""
    r = rng(workload, f"force:{seed}")
    return {t: sorted(r.sample(range(space), k)) for t, (space, k) in sorted(spec.items())}


def draw_table(src, dst, id_col, k, workload, seed, row_group_rows=2000):
    """Write the rows of parquet file `src` whose `id_col` is among k
    seeded draws of the file's row positions, in id order, to `dst`."""
    t = pq.read_table(src)
    rows = draw_ids(workload, f"{seed}:{id_col}", t.num_rows, k)
    picked = t.take(pa.array(rows))
    picked = picked.sort_by(id_col)
    pq.write_table(picked, dst, row_group_size=row_group_rows, compression="snappy")
    return picked.num_rows


# ------------------------------------------------------------ output hashes

def _canon(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    if v is None:
        return "null"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return format(v, ".12g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def frame_hash(df):
    """Order-insensitive hash of a pandas frame: column names and dtypes,
    then the sorted multiset of rows. Floats are compared to 12
    significant digits, so a sum taken in another order still matches."""
    cols = sorted(df.columns)
    head = "|".join(f"{c}:{df[c].dtype}" for c in cols)
    rows = sorted("\x1f".join(_canon(v) for v in row)
                  for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(head.encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return h.hexdigest()
