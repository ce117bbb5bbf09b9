"""Seeded input generator for the consume-job benchmark.

Writes, for one workload and one seed, the parquet tables the program reads
through `graft.Tables` (`events`, `customer`, `orders`, `nation`,
`documents`), in the schema of the shipped synthetic test data. Depth, key
skew, tombstone share and near-duplicate share are set here, never through a
program setting. The same (workload, seed, scale) always gives byte-identical
table contents.

Domains kept from the default `ConsumeParams` and the shipped oracle: events
straddle the 2024-01-15 month split, active orders fall in 1996-1997 (orders
span 1992-1998), and every customer carries one of the five market segments
the two default iterations split between them.
"""

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]

# Workload shapes. `events`/`docs` are the sizes at scale 1.0; the tests run
# the same shapes at a small scale.
SHAPES = {
    # daily increment: shallow histories, uniform keys, one output month
    "consume_daily": dict(
        kind="events", events=50_000, keys_per_event=0.25, zipf=None,
        tombstone=0.15, start="2024-01-01", end="2024-02-01"),
    # full refresh: deep per-listing histories, Zipf-skewed keys, many
    # tombstones, four months of history before the split
    "consume_refresh_skewed": dict(
        kind="events", events=100_000, keys_per_event=0.02, zipf=1.1,
        tombstone=0.35, start="2023-10-01", end="2024-02-01"),
    # document corpus: planted near-duplicate groups plus a few large
    # boilerplate clusters
    "corpus_neardup": dict(
        kind="docs", docs=1_500, dup_share=0.2, mid_share=0.15, boilerplate=(120, 80, 40),
        template_len=200, vocab=30_000, min_len=60, max_len=100),
}

EPOCH = dt.datetime(1970, 1, 1)


def _us(day):
    return int((dt.datetime.fromisoformat(day) - EPOCH).total_seconds()) * 1_000_000


def _write(table, out_dir, name):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _events(rng, shape, scale, out_dir):
    n = max(200, int(shape["events"] * scale))
    n_users = max(20, int(n * shape["keys_per_event"]))
    if shape["zipf"] is None:
        users = rng.integers(0, n_users, n)
    else:
        ranks = np.arange(1, n_users + 1, dtype=np.float64)
        p = ranks ** -shape["zipf"]
        p /= p.sum()
        # hot keys land on random ids, not on the lowest ones
        users = rng.permutation(n_users)[rng.choice(n_users, n, p=p)]
    t0, t1 = _us(shape["start"]), _us(shape["end"])
    # strictly increasing timestamps: no two events share a ts, so every
    # as-of and latest-version tie rule is decided by ts alone
    ts = t0 + np.sort(rng.integers(0, t1 - t0 - n, n)) + np.arange(n)
    tomb = shape["tombstone"]
    rest = (1.0 - tomb) / 4.0
    etype = rng.choice(5, n, p=[rest * 1.2, rest * 1.2, rest * 0.6, rest, tomb])
    # whole-number prices: sums are exact in every engine
    value = rng.integers(1, 400, n).astype(np.float64)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[etype]),
        "value": pa.array(value),
        "props": pa.array(props.astype(object)),
    })
    _write(events, out_dir, "events")

    keys = np.arange(n_users, dtype=np.int64)
    _write(pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array((keys % 25).astype(np.int32)),
        "c_acctbal": pa.array(rng.integers(-999, 9999, n_users).astype(np.float64)),
        "c_mktsegment": pa.array(np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_users)]),
    }), out_dir, "customer")

    # three quarters of the keys have an order inside the 1996-1997 activity
    # window; the rest only outside it
    n_orders = n_users * 2
    o_cust = rng.integers(0, n_users, n_orders)
    active = rng.random(n_users) < 0.75
    d_in0, d_in1 = _us("1996-01-01") // 86_400_000_000, _us("1998-01-01") // 86_400_000_000
    d_lo, d_hi = _us("1992-01-01") // 86_400_000_000, _us("1998-08-01") // 86_400_000_000
    day = rng.integers(d_lo, d_hi, n_orders)
    inside = (day >= d_in0) & (day < d_in1)
    # inactive keys: move any in-window date out of the window
    day = np.where(~active[o_cust] & inside, day - (d_in0 - d_lo), day)
    # active keys: their first order is pinned inside the window
    first = np.unique(o_cust, return_index=True)[1]
    pin = first[active[o_cust[first]]]
    day[pin] = rng.integers(d_in0, d_in1, len(pin))
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(o_cust.astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(rng.integers(100, 500_000, n_orders).astype(np.float64)),
        "o_orderdate": pa.array((day * 86_400_000_000).astype("datetime64[us]")),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                             dtype=object)[rng.integers(0, 5, n_orders)]),
    }), out_dir, "orders")

    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(NATIONS),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }), out_dir, "nation")

    per_key = np.bincount(users, minlength=n_users)
    return {"events": n, "customer": n_users, "orders": n_orders,
            "distinct_keys": int((per_key > 0).sum()),
            "max_versions_per_key": int(per_key.max()),
            "tombstone_share": round(float((etype == 4).mean()), 4)}


def _docs(rng, shape, scale, out_dir):
    """Documents plus the planted near-duplicate structure.

    Small groups are one text and two copies with the same token set after
    lower-casing (reordered, one token repeated, one copy capitalised): their
    MinHash signatures are identical, so LSH finds them with certainty.
    Boilerplate clusters are one long template (200 distinct tokens) and
    copies that each append a token of their own (Jaccard >= 200/202 to every
    member); a copy escapes all six bands with probability below 1e-7.
    Mid-similarity variants of unrelated texts (3-12 of 60-100 tokens
    replaced, Jaccard 0.67-0.94) are LSH candidates that verification
    rejects, and unrelated texts draw from a 30 k-word vocabulary. The groups
    are therefore the connected components of the >= 0.95 pair graph, and
    the expected `dropNearDuplicates` output is every document except the
    non-minimum ids of each group.
    """
    n = max(60, int(shape["docs"] * scale))
    vocab = np.array([f"w{i}" for i in range(shape["vocab"])], dtype=object)
    fresh = iter(range(10**9))

    def text(k=None):
        k = k or int(rng.integers(shape["min_len"], shape["max_len"] + 1))
        return list(vocab[rng.choice(len(vocab), k, replace=False)])

    def same_set(toks):
        out = [toks[i] for i in rng.permutation(len(toks))]
        return out + [out[0]]

    texts, groups = [], []
    for size in shape["boilerplate"]:
        size = max(3, int(size * scale))
        base = text(shape["template_len"])
        groups.append(list(range(len(texts), len(texts) + size)))
        texts.extend([base] + [base + [f"x{next(fresh)}"] for _ in range(size - 1)])
    # groups of three: each drops two documents
    for _ in range(int(n * shape["dup_share"]) // 2):
        base = text()
        groups.append([len(texts), len(texts) + 1, len(texts) + 2])
        texts.extend([base, same_set(base), [t.capitalize() for t in same_set(base)]])
    n_mid = int(n * shape["mid_share"])
    while len(texts) < n - n_mid:
        texts.append(text())
    first, singles = sum(len(g) for g in groups), len(texts)
    for _ in range(n - len(texts)):
        src = list(texts[int(rng.integers(first, singles))])
        for i in rng.choice(len(src), int(rng.integers(3, 13)), replace=False):
            src[i] = f"y{next(fresh)}"
        texts.append(src)

    ids = rng.permutation(n).astype(np.int64)  # members get scattered ids
    strings = [" ".join(t) for t in texts]
    keep = np.ones(n, dtype=bool)
    for g in groups:
        gid = ids[g]
        keep[np.array(g)[gid != gid.min()]] = False
    lang = np.array(["en", "de", "fr", "es", "zh"], dtype=object)[rng.integers(0, 5, n)]
    source = np.array([f"src{i}" for i in range(20)], dtype=object)[rng.integers(0, 20, n)]
    n_chars = np.array([len(s) for s in strings], dtype=np.int64)
    order = np.argsort(ids)
    _write(pa.table({
        "doc_id": pa.array(ids[order]),
        "text": pa.array([strings[i] for i in order]),
        "lang": pa.array(lang[order]),
        "source": pa.array(source[order]),
        "n_chars": pa.array(n_chars[order]),
    }), out_dir, "documents")
    # planted truth: the rows the dedup keeps, in the d6 output columns
    _write(pa.table({
        "doc_id": pa.array(ids[keep]),
        "lang": pa.array(lang[keep]),
        "source": pa.array(source[keep]),
        "n_chars": pa.array(n_chars[keep]),
    }), out_dir, "expected_kept")
    return {"documents": n, "planted_groups": len(groups),
            "largest_group": max(len(g) for g in groups), "mid_variants": n_mid,
            "docs_dropped": int((~keep).sum())}


def generate(workload, seed, out_dir, scale=1.0):
    """Write the workload's tables for `seed` into `out_dir`; return its shape."""
    shape = SHAPES[workload]
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(SHAPES).index(workload)])
    if shape["kind"] == "events":
        return _events(rng, shape, scale, out_dir)
    return _docs(rng, shape, scale, out_dir)
