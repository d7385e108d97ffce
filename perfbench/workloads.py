"""The two workloads and their seeded operation sequences.

The seed fixes the order of operations in every pass and, for
`storage_rw`, the parameters of every call; the input tables (the
sf0.01 tables under `data/`) do not depend on it. Pass 0 is the untimed
warm-up.
"""
import random

# Trimmed from the ~40-key relational family so that a warm-up pass and
# at least three timed passes fit one run (see METRICS.md).
OLAP_KEYS = ["tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9", "tpch_q18",
             "tpch_q21", "join_inner", "window_rank", "rollup", "sql_subquery"]

# Run once each at the end of a traced run, for their named
# `Dataset.observe` candidate counts (useful work per result row).
PROBE_KEYS = ["dedup_ngram", "simjoin_topk"]

WRITE_OPS = {"create", "append", "merge", "update", "dv", "delrange",
             "addcol", "ipcw"}
CODECS = ["none", "lz4", "zstd"]


def op_kind(op):
    """'op' for a query key, else 'write' or 'read' for a storage call."""
    head = op.split(":", 1)[0]
    if head == "key":
        return "op"
    return "write" if head in WRITE_OPS else "read"


def storage_pass(rng, base_rows):
    """One `storage_rw` pass: a fresh table from the first `base_rows`
    orders, then one commit of every kind in seeded order with seeded
    row ranges, each followed by one read (snapshot, last commit's
    changes or history), and the three IPC round trips at seeded
    points. Time travel two and four versions back (seeded order), one
    ADD COLUMN and a last snapshot end the pass. Every pass holds the same multiset of reads, and
    reads outnumber writes, so the median op is a read in every pass.
    Updates and deletes only target key ranges that still hold a live
    row, so no call is a no-op or an error."""
    ops = [f"create:0:{base_rows}"]
    live = set(range(base_rows))
    hi = base_rows                     # next key never appended
    writers = ["append", "merge", "update", "dv", "delrange"]
    rng.shuffle(writers)
    reads = ["snap", "snap", "snap", "changes:1", "history"]
    rng.shuffle(reads)
    ipc_at = dict(zip(rng.sample(range(len(writers)), len(CODECS)), CODECS))
    for i, kind in enumerate(writers):
        if kind == "append":
            n = rng.randrange(20, 60)
            ops.append(f"append:{hi}:{n}")
            live.update(range(hi, hi + n))
            hi += n
        elif kind == "merge":
            n = rng.randrange(20, 60)
            lo = rng.randrange(0, hi - n // 2)
            ops.append(f"merge:{lo}:{n}")
            live.update(range(lo, lo + n))
            hi = max(hi, lo + n)
        else:
            w = rng.randrange(5, 25)
            lo = rng.randrange(0, hi - w)
            while not live.intersection(range(lo, lo + w)):
                lo = rng.randrange(0, hi - w)
            ops.append(f"{kind}:{lo}:{lo + w - 1}")
            if kind != "update":
                live.difference_update(range(lo, lo + w))
        ops.append(reads[i])
        if i in ipc_at:
            c = ipc_at[i]
            ops += [f"ipcw:{c}", f"ipcr:{c}", f"ipcd:{c}"]
    ops += rng.sample(["tt:2", "tt:4"], 2) + ["addcol", "snap"]
    return ops


def passes(workload, seed, n_passes, base_rows=2000):
    """`n_passes` operation lists for `workload` under `seed`."""
    rng = random.Random(f"{workload}:{seed}")
    out = []
    for _ in range(n_passes):
        if workload == "storage_rw":
            out.append(storage_pass(rng, base_rows))
        else:
            keys = list(OLAP_KEYS)
            rng.shuffle(keys)
            out.append([f"key:{k}" for k in keys])
    return out
