"""Seeded input generators for the benchmark.

Everything the program sees is made here, from the run's ``--seed``, before
any timed window opens. The generators are plain numpy/pyarrow so they do not
depend on (or exercise) the engine under test.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_NATIONS = 25
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
DATE_SPAN_DAYS = 2400


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, so decimal(18,2) sums are exact on every engine
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def write_star(out_dir: str, seed: int, n_orders: int) -> dict[str, str]:
    """The TPC-H-ish tables of the TESTDATA.md schema (~4 lines per order,
    sf0.001 has 1,500 orders): region / nation / customer / supplier / part
    / orders / lineitem. Returns {table: parquet path}."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, n_orders // 10)
    n_part = max(20, n_orders * 2 // 15)
    n_supp = max(10, n_orders // 150)
    os.makedirs(out_dir, exist_ok=True)
    tables = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(N_NATIONS), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
            "n_regionkey": pa.array(np.arange(N_NATIONS) % 5, pa.int32()),
        }
    )
    ck = np.arange(n_cust)
    tables["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    sk = np.arange(n_supp)
    tables["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    adjectives = np.array(["cold", "small", "large", "red", "fast", "old"])
    nouns = np.array(["widget", "bolt", "gear", "valve", "panel"])
    tables["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(np.char.add(adjectives[rng.integers(0, 6, n_part)], " "),
                                  nouns[rng.integers(0, 5, n_part)]),
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "PROMO", "STANDARD", "LARGE"])[rng.integers(0, 4, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + pk * 0.1, 2),
        }
    )
    ok = np.arange(n_orders)
    tables["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000, 500000, n_orders),
            "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, DATE_SPAN_DAYS, n_orders) * DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    # line numbers 1..k within each order
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_ok,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(EPOCH_1995_US + rng.integers(0, DATE_SPAN_DAYS + 90, n_li) * DAY_US),
        }
    )
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths


# -- dashboard sessions ----------------------------------------------------

def filter_pool(seed: int, size: int) -> list[dict]:
    """A pool of dashboard filter sets. Each set narrows on a segment and
    priority list, a quantity range, an order-date window, and sometimes a
    customer-name search."""
    rng = np.random.default_rng([seed, 2])
    pool = []
    for _ in range(size):
        lo_day = int(rng.integers(0, DATE_SPAN_DAYS - 400))
        start = np.datetime64("1995-01-01") + np.timedelta64(lo_day, "D")
        end = start + np.timedelta64(int(rng.integers(120, 900)), "D")
        qlo = int(rng.integers(1, 25))
        pool.append(
            {
                "segments": sorted(rng.choice(SEGMENTS, int(rng.integers(1, 4)), replace=False).tolist()),
                "priorities": sorted(rng.choice(PRIORITIES, int(rng.integers(2, 5)), replace=False).tolist()),
                "qty": (qlo, qlo + int(rng.integers(10, 30))),
                "dates": (str(start), str(end)),
                "search": f"customer#00000{int(rng.integers(0, 10))}" if rng.random() < 0.3 else "",
            }
        )
    return pool


ZIPF_S = 1.1


def session_plan(seed: int, n: int, pool_size: int) -> list[int]:
    """Filter-set index per session. Even sessions open a set not used
    before; odd sessions repeat an earlier one, drawn Zipf-skewed by order
    of first use (the earliest sets are the most popular). Half the
    sessions repeat, at fixed positions: a first-seen set costs plan
    compilation a repeat may skip, so a seed-dependent mix would make the
    latency percentiles of a short run depend on the seed."""
    rng = np.random.default_rng([seed, 3])
    fresh = iter(rng.permutation(pool_size).tolist())
    seen: list[int] = []
    plan = []
    for i in range(n):
        if i % 2 == 0 or not seen:
            seen.append(next(fresh))
            plan.append(seen[-1])
        else:
            w = 1.0 / np.arange(1, len(seen) + 1) ** ZIPF_S
            plan.append(seen[int(rng.choice(len(seen), p=w / w.sum()))])
    return plan


# -- credit-card micro-batches ---------------------------------------------

CORRUPT_RATE = 0.001
REUSE_RATE = 0.10
BAD_CURRENCY_RATE = 0.02
BAD_AMOUNT_RATE = 0.01
CORRUPT_SHAPES = [
    '{"element": 1, "object": "basic-card", "transaction": {"id": ',
    "not json at all",
    '{"element": 2, "transaction": [}',
]


def cc_batches(seed: int, sizes):
    """Stream of credit-card payload micro-batches (the FIXTURES §4 shape),
    one per entry of the iterable ``sizes``.

    Each batch holds its size in well-formed records plus about
    CORRUPT_RATE × size unparseable lines. About REUSE_RATE of the records
    reuse a txn id from an EARLIER batch (an update); ids are unique within
    a batch, so a keyed merge sees no in-batch conflict. Some records carry
    an out-of-range amount or a non-USD currency, so the data-quality rules
    have something to find."""
    rng = np.random.default_rng([seed, 4])
    seen = np.empty(0, dtype="int64")
    next_id = int(rng.integers(10**9, 2 * 10**9))
    element = 0
    for b, batch_size in enumerate(sizes):
        n_reuse = int(batch_size * REUSE_RATE) if len(seen) else 0
        reused = rng.choice(seen, n_reuse, replace=False) if n_reuse else seen[:0]
        fresh = np.arange(next_id, next_id + batch_size - n_reuse)
        next_id += len(fresh)
        ids = rng.permutation(np.concatenate([reused, fresh]))
        amount = np.round(rng.uniform(1, 5000, batch_size), 2)
        amount[rng.random(batch_size) < BAD_AMOUNT_RATE] = 9999.99
        currency = np.where(rng.random(batch_size) < BAD_CURRENCY_RATE, "EUR", "USD")
        approved = rng.random(batch_size) < 10 / 11
        refund = rng.random(batch_size) < 1 / 11
        card = rng.integers(10**15, 10**16, batch_size)
        merchant = rng.integers(10**8, 19 * 10**7, batch_size)
        recs = [
            {
                "element": element + i,
                "object": "basic-card",
                "transaction": {
                    "id": int(ids[i]),
                    "type": "REFUND" if refund[i] else "PURCHASE",
                    "amount": float(amount[i]),
                    "currency": str(currency[i]),
                    "timestamp": f"2026-01-{1 + (b + i) % 28:02d}T{i % 24:02d}:{i % 60:02d}:00",
                    "approved": bool(approved[i]),
                },
                "card": {"number": int(card[i])},
                "merchant": {"id": int(merchant[i])},
            }
            for i in range(batch_size)
        ]
        lines = [json.dumps(r) for r in recs]
        n_bad = int(rng.binomial(batch_size, CORRUPT_RATE))
        for k in range(n_bad):
            lines.insert(int(rng.integers(0, len(lines) + 1)), CORRUPT_SHAPES[k % len(CORRUPT_SHAPES)])
        yield {"records": recs, "stage_lines": lines, "n_corrupt": n_bad}
        seen = np.concatenate([seen, fresh])
        element += batch_size


# -- corpus + embeddings ---------------------------------------------------

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
SYLLABLES = "ka lo mi ne ru sa ti vo ze pa do fi gu he ja mo ni po qu re".split()
STOP_P = 0.15


def _vocab(rng: np.random.Generator, n: int = 4000) -> np.ndarray:
    """Synthetic 2-3 syllable words; drawn Zipf-like so most trigrams are
    rare, as in real text (a tiny uniform vocabulary would make every
    document a near-duplicate candidate of every other)."""
    k = rng.integers(2, 4, n)
    syl = np.array(SYLLABLES)[rng.integers(0, len(SYLLABLES), (n, 3))]
    return np.unique(["".join(row[:m]) for row, m in zip(syl, k)])


def _doc_text(rng: np.random.Generator, vocab: np.ndarray, weights: np.ndarray) -> str:
    n = int(rng.integers(20, 200))  # some fall under the 50-token floor
    stop = rng.random(n) < STOP_P
    words = np.where(stop, np.array(STOPWORDS)[rng.integers(0, 8, n)],
                     vocab[rng.choice(len(vocab), n, p=weights)])
    lines, i = [], 0
    while i < n:
        k = int(rng.integers(6, 16))
        lines.append(" ".join(words[i:i + k]) + ".")
        i += k
    return "\n".join(lines)


DIM = 64
DUP_RATE = 0.05
NEAR_RATE = 0.05
PII_RATE = 0.1
PII_SNIPPETS = [
    "contact jane.doe{k}@example.com for access",
    "see https://intranet.example.org/doc/{k} for details",
    "call +1 555-{k:03d}-0199 today",
    "host 10.0.{k}.7 was down",
]


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """documents + embeddings parquet with injected exact copies, near
    copies (one word changed in a long document) and PII strings.

    Returns paths and the injected (original_id, copy_id) pairs."""
    rng = np.random.default_rng([seed, 5])
    vocab = _vocab(rng)
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()
    texts = [_doc_text(rng, vocab, weights) for _ in range(n_docs)]
    for i in np.nonzero(rng.random(n_docs) < PII_RATE)[0]:
        snip = PII_SNIPPETS[int(rng.integers(0, len(PII_SNIPPETS)))].format(k=int(rng.integers(0, 250)))
        texts[i] = texts[i] + "\n" + snip + "."
    exact, near = [], []
    base = n_docs
    for src in rng.choice(n_docs, int(n_docs * DUP_RATE), replace=False):
        texts.append(texts[src])
        exact.append((int(src), base))
        base += 1
    long_docs = [i for i, t in enumerate(texts[:n_docs]) if len(t.split()) >= 120]
    for src in rng.choice(long_docs, min(len(long_docs), int(n_docs * NEAR_RATE)), replace=False):
        w = texts[src].split(" ")
        j = int(rng.integers(0, len(w) - 1))
        w[j] = "variant"
        texts.append(" ".join(w))
        near.append((int(src), base))
        base += 1
    docs = pa.table(
        {
            "doc_id": np.arange(len(texts)),
            "text": texts,
            "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, len(texts))],
            "source": [f"src{k}" for k in rng.integers(0, 20, len(texts))],
            "n_chars": [len(t) for t in texts],
        }
    )

    n_base = int(n_vecs * 0.9)
    centers = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, n_base)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_base, DIM))
    src = rng.choice(n_base, n_vecs - n_base, replace=False)
    vecs = np.vstack([vecs, vecs[src] + rng.normal(scale=0.01, size=(len(src), DIM))])
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embs = pa.table(
        {
            "vec_id": np.arange(n_vecs),
            "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(np.concatenate([labels, labels[src]]), pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    paths = {"documents": os.path.join(out_dir, "documents.parquet"),
             "embeddings": os.path.join(out_dir, "embeddings.parquet")}
    pq.write_table(docs, paths["documents"])
    pq.write_table(embs, paths["embeddings"])
    return {"paths": paths, "exact_pairs": exact, "near_pairs": near, "n_vecs": n_vecs}


# -- the query registry's tables --------------------------------------------

EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def write_events(path: str, seed: int, n_events: int, n_users: int) -> None:
    """The ``events`` stream table: skewed users (a few heavy ones, as the
    window queries expect), one month of microsecond timestamps, a JSON
    ``props`` column."""
    rng = np.random.default_rng([seed, 6])
    w = 1.0 / np.arange(1, n_users + 1) ** 0.5
    users = rng.permutation(n_users)[rng.choice(n_users, n_events, p=w / w.sum())]
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_events))
    pq.write_table(
        pa.table(
            {
                "event_id": np.arange(n_events),
                "ts": _ts(ts),
                "user_id": users.astype("int64"),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
                "value": _money(rng, 1, 200, n_events),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        ),
        path,
    )


def write_registry(out_dir: str, seed: int, n_orders: int) -> None:
    """All ten tables the registry queries read, scaled like TESTDATA.md
    (``n_orders`` = 1,500 × sf), in one directory as ``<table>.parquet``."""
    write_star(out_dir, seed, n_orders)
    write_events(os.path.join(out_dir, "events.parquet"), seed, n_orders * 2 // 3, max(15, n_orders // 100))
    info = write_corpus(os.path.join(out_dir, "corpus"), seed, n_orders * 3 // 10, n_orders // 3)
    for t, p in info["paths"].items():
        os.rename(p, os.path.join(out_dir, f"{t}.parquet"))
    os.rmdir(os.path.join(out_dir, "corpus"))
