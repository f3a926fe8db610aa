"""Seeded input generators for the benchmark workloads.

Every input a workload reads is made here from the run's seed, so the
same seed gives byte-identical inputs. The engine only ever sees the
files written below.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts for the TPC-H-shaped tables at the two sizes. "full" matches
# the row counts of the engine's sf0.1 fixture; "tiny" is for the smoke test.
TABLE_ROWS = {
    "full": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                 lineitem=600000, events=100000),
    "tiny": dict(customer=300, supplier=50, part=400, orders=3000,
                 lineitem=12000, events=4000),
}
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
US_PER_DAY = 86_400_000_000


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng, n, first_id, start_us, span_us, users):
    ts = np.sort(start_us + rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(_money(rng, 0, 200, n)),
    })


def tables(out, seed, size):
    """TPC-H-shaped tables plus events, in the engine's fixture layout
    (`<out>/<name>.parquet`)."""
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS[size]
    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(REGIONS)}), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }), f"{out}/nation.parquet")
    nc, ns, npart, no, nl = (n["customer"], n["supplier"], n["part"],
                             n["orders"], n["lineitem"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999, 9999, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999, 9999, ns)),
    }), f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(npart)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                       "SMALL", "STANDARD"], npart)),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(_money(rng, 900, 2000, npart)),
    }), f"{out}/part.parquet")
    day0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    odays = rng.integers(0, 2400, no)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_money(rng, 1000, 400000, no)),
        "o_orderdate": _ts(day0 + odays * US_PER_DAY),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    }), f"{out}/orders.parquet")
    lok = rng.integers(0, no, nl)
    _write(pa.table({
        "l_orderkey": pa.array(lok.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 100000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts(day0 + (odays[lok] + rng.integers(1, 122, nl))
                          * US_PER_DAY),
    }), f"{out}/lineitem.parquet")
    ev0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(_events(rng, n["events"], 0, ev0, 30 * US_PER_DAY, 1500),
           f"{out}/events.parquet")


# ---------------------------------------------------------------- text

def _vocab(rng, n):
    """Distinct synthetic words of 4-9 lowercase letters, as an array
    (drawing from an array is far faster than from a list)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(4, 10))
        words.add("".join(rng.choice(letters, k)))
    return np.array(sorted(words))


def _doc(rng, vocab, lines=3, words=(7, 11)):
    """A document that passes the C4 line filters: >= 3 lines, each of
    >= 3 words ending in terminal punctuation."""
    out = []
    for _ in range(lines):
        k = int(rng.integers(*words))
        out.append(" ".join(rng.choice(vocab, k)) + rng.choice([".", "!", "?"]))
    return out


def _edit(rng, vocab, lines):
    """Near-duplicate: replace one word of one line."""
    lines = list(lines)
    i = int(rng.integers(0, len(lines)))
    ws = lines[i][:-1].split(" ")
    ws[int(rng.integers(0, len(ws)))] = str(rng.choice(vocab))
    lines[i] = " ".join(ws) + lines[i][-1]
    return lines


CORPUS_DOCS = {"full": 5000, "tiny": 600}
CORPUS_COPIES = 6


def corpus(out, seed, size):
    """A corpus with planted near-duplicate clusters of sizes 2-5
    covering about 40% of the documents. Members of a cluster are
    single-word edits of one base text (character-5-gram Jaccard about
    0.9 to each other); documents of different clusters share almost
    no 5-grams. Writes CORPUS_COPIES identical copies so every timed pass
    reads files no earlier pass read, one more full copy for the
    set-up's warm-up pass, and the cluster ground truth."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 4000)
    n = CORPUS_DOCS[size]
    texts, cluster = [], []
    cid = 0
    while len(texts) < n:
        base = _doc(rng, vocab)
        k = int(rng.choice([1, 1, 1, 1, 2, 2, 3, 4, 5]))
        k = min(k, n - len(texts))
        for j in range(k):
            texts.append("\n".join(base if j == 0 else _edit(rng, vocab, base)))
            cluster.append(cid if k > 1 else -1)
        cid += 1
    order = rng.permutation(n)
    ids = np.arange(n, dtype=np.int64) * 7 + 3
    tbl = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array([texts[i] for i in order]),
        "source": pa.array(["web"] * n),
    })
    truth = pa.table({"doc_id": pa.array(ids),
                      "cluster": pa.array([cluster[i] for i in order],
                                          type=pa.int64())})
    first = f"{out}/corpus/copy0/part-0.parquet"
    _write(tbl, first)
    for c in [f"copy{c}" for c in range(1, CORPUS_COPIES)] + ["warmup"]:
        os.makedirs(f"{out}/corpus/{c}", exist_ok=True)
        shutil.copyfile(first, f"{out}/corpus/{c}/part-0.parquet")
    _write(truth, f"{out}/corpus_truth.parquet")


STREAM = {"full": dict(steps=12, docs=200, events=2000, dup_share=0.05),
          "tiny": dict(steps=12, docs=20, events=100, dup_share=0.1)}


def stream(out, seed, size):
    """A sequence of small document and event deltas. About 5% of each
    document delta are verbatim re-sends of documents landed in an
    earlier step (the planted duplicates the ingest must reject); the
    rest are fresh texts. Writes one directory per step plus the
    admission ground truth."""
    rng = np.random.default_rng(seed)
    p = STREAM[size]
    vocab = _vocab(rng, 4000)
    landed = []  # texts of admitted documents
    ev0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    next_id = 0
    truth_ids, truth_admit = [], []
    for s in range(p["steps"]):
        ids, texts = [], []
        for _ in range(p["docs"]):
            if landed and rng.random() < p["dup_share"]:
                texts.append(landed[int(rng.integers(0, len(landed)))])
                admit = False
            else:
                texts.append("\n".join(_doc(rng, vocab)))
                admit = True
            ids.append(next_id)
            truth_ids.append(next_id)
            truth_admit.append(admit)
            next_id += 1
        landed.extend(t for t, a in zip(texts, truth_admit[-len(texts):]) if a)
        _write(pa.table({"doc_id": pa.array(ids, type=pa.int64()),
                         "text": pa.array(texts),
                         "source": pa.array(["web"] * len(ids))}),
               f"{out}/stream/docs/step{s:05d}.parquet")
        _write(_events(rng, p["events"], s * p["events"],
                       ev0 + s * 3_600_000_000, 3_600_000_000, 500),
               f"{out}/stream/events/step{s:05d}.parquet")
    _write(pa.table({"doc_id": pa.array(truth_ids, type=pa.int64()),
                     "admit": pa.array(truth_admit)}),
           f"{out}/stream_truth.parquet")


GENERATORS = {"metric-reads": [tables], "dedup-backfill": [corpus],
              "stream-admit": [stream]}


def generate(workload, out, seed, size):
    for g in GENERATORS[workload]:
        g(out, seed, size)
