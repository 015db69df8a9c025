"""Seeded input generators for the cold/warm benchmark.

Each generator writes parquet files in the table schemas the library's
`graft.core.Tables` loaders and `graft.SparkEntry` oracles read
(`lineitem`/`orders`/`customer`/`nation`/`region`, `events`,
`documents`), so the program sees nothing but these files. The same
seed gives byte-identical files; a different seed gives different ones.

Usage: python3 gen.py <workload> <seed> <out_dir> [scale]
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Benchmark sizes (scale 1.0); BENCHMARK.json records why each was chosen.
TLQ_ORDERS = 75_000           # ~4 lines per order -> ~300k lineitems
REPORT_EVENTS = 6_000
CURATION_DOCS = 500

# Planted rates and densities (also recorded in BENCHMARK.json).
TLQ_DUP_LINE_RATE = 0.10      # lines that repeat a sibling's line number
REPORT_ERROR_RATE = 0.15      # invalid runs, purged by the invalidator
REPORT_REUSE_RATE = 0.40      # runs landing on an already-used container
REPORT_OVERLAP_DENSITY = 8.0  # mean same-type runs overlapping one run
REPORT_MEAN_RUNTIME_S = 50.0
CUR_NEAR_DUP_RATE = 0.10      # docs that are near-copies of another doc
CUR_EVAL_OVERLAP_RATE = 0.04  # docs that copy most of an eval document
CUR_REPETITIVE_RATE = 0.06    # docs dominated by one repeated bigram
CUR_VOCAB = 3000

EPOCH_2024_US = 1_704_067_200_000_000
EPOCH_1992_US = 694_224_000_000_000
DAY_US = 86_400_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1)]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase"]


def rng_for(workload, seed):
    digest = hashlib.sha256(f"{workload}:{seed}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def write(table, path):
    pq.write_table(table, path, compression="snappy",
                   store_schema=False, write_statistics=True)


def ts_us(values):
    return pa.array(values, type=pa.timestamp("us"))


def gen_tlq(rng, out, scale):
    n_orders = max(50, int(TLQ_ORDERS * scale))
    n_cust = max(10, n_orders // 10)
    write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}), f"{out}/region.parquet")
    write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32())}),
        f"{out}/nation.parquet")
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                         "HOUSEHOLD", "MACHINERY"], dtype=object)
    custkey = np.arange(1, n_cust + 1, dtype=np.int64)
    write(pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")

    orderkey = np.arange(1, n_orders + 1, dtype=np.int64)
    odate_days = rng.integers(0, 2405, n_orders)  # 1992-01-01 .. 1998-08
    lines = rng.integers(1, 8, n_orders)
    write(pa.table({
        "o_orderkey": orderkey,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[
            rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900, 500000, n_orders), 2),
        "o_orderdate": ts_us(EPOCH_1992_US + odate_days * DAY_US),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[
            rng.integers(0, 5, n_orders)]}), f"{out}/orders.parquet")

    n_li = int(lines.sum())
    li_order = np.repeat(orderkey, lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_li) - first + 1).astype(np.int32)
    # duplicate order lines: a line repeats the number of the line before
    # it, so the first-wins dedup has to break ties on the later columns
    dup = (rng.random(n_li) < TLQ_DUP_LINE_RATE) & (linenumber > 1)
    linenumber = np.where(dup, linenumber - 1, linenumber).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2000.0, n_li), 2)
    ship_days = np.repeat(odate_days, lines) + rng.integers(1, 122, n_li)
    write(pa.table({
        "l_orderkey": li_order,
        "l_partkey": rng.integers(1, 20001, n_li),
        "l_suppkey": rng.integers(1, 1001, n_li),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[
            rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[
            rng.integers(0, 2, n_li)],
        "l_shipdate": ts_us(EPOCH_1992_US + ship_days * DAY_US)}),
        f"{out}/lineitem.parquet")
    return {"orders": n_orders, "lineitem": n_li, "customer": n_cust,
            "dup_line_rate": TLQ_DUP_LINE_RATE}


def gen_report(rng, out, scale):
    n = max(100, int(REPORT_EVENTS * scale))
    etype = np.array(EVENT_TYPES + ["error"], dtype=object)
    kind = np.where(rng.random(n) < REPORT_ERROR_RATE, 4,
                    rng.integers(0, 4, n))
    runtime = np.round(rng.uniform(0.01, 2 * REPORT_MEAN_RUNTIME_S, n), 2)
    # Same-type runs start as a Poisson stream over a span that grows
    # with n, so each run overlaps REPORT_OVERLAP_DENSITY same-type runs
    # on average at any size: density = 2 * rate_per_type * mean_runtime.
    per_type = n / len(etype)
    span_s = 2.0 * per_type * REPORT_MEAN_RUNTIME_S / REPORT_OVERLAP_DENSITY
    start_us = np.sort(rng.integers(0, int(span_s * 1e6), n))
    # container ids: a run reuses an earlier container with the planted
    # rate (a duplicate container), otherwise it opens a new one
    new = rng.random(n) >= REPORT_REUSE_RATE
    new[0] = True
    opened = np.cumsum(new)
    reuse_pick = (rng.random(n) * (opened - new)).astype(np.int64)
    container = np.where(new, opened - 1, reuse_pick).astype(np.int64)
    iteration = rng.integers(0, 3, n)
    stage = rng.integers(0, 4, n)
    props = [f'{{"iteration": {i}, "stage": {s}}}'
             for i, s in zip(iteration.tolist(), stage.tolist())]
    write(pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts_us(EPOCH_2024_US + start_us),
        "user_id": container,
        "event_type": etype[kind],
        "value": runtime,
        "props": props}), f"{out}/events.parquet")
    return {"events": n, "containers": int(opened[-1]),
            "error_rate": REPORT_ERROR_RATE,
            "container_reuse_rate": REPORT_REUSE_RATE,
            "overlap_density": REPORT_OVERLAP_DENSITY}


def vocabulary(rng, size):
    syll = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "fu",
            "ga", "hi", "jo", "be", "vu", "ze", "wa", "xo", "qi", "ly"]
    words = set()
    while len(words) < size:
        k = int(rng.integers(1, 4))
        words.add("".join(syll[int(i)] for i in rng.integers(0, 20, k)))
    return np.array(sorted(words), dtype=object)


def gen_curation(rng, out, scale):
    n = max(200, int(CURATION_DOCS * scale))
    vocab = vocabulary(rng, CUR_VOCAB)
    zipf = 1.0 / np.arange(1, CUR_VOCAB + 1)
    zipf /= zipf.sum()
    lengths = rng.integers(30, 121, n)
    docs = [list(rng.choice(CUR_VOCAB, size=int(k), p=zipf)) for k in lengths]
    is_eval = (np.arange(n) % 53) == 0
    eval_ids = np.flatnonzero(is_eval)
    planted = {"near_dup": 0, "eval_overlap": 0, "repetitive": 0}
    role = rng.random(n)
    for i in range(n):
        if is_eval[i]:
            continue
        r = role[i]
        if r < CUR_NEAR_DUP_RATE and i > 0:
            # near-copy of an earlier doc: ~5% of tokens substituted
            src = list(docs[int(rng.integers(0, i))])
            for j in np.flatnonzero(rng.random(len(src)) < 0.05):
                src[j] = int(rng.integers(0, CUR_VOCAB))
            docs[i] = src
            planted["near_dup"] += 1
        elif r < CUR_NEAR_DUP_RATE + CUR_EVAL_OVERLAP_RATE:
            # copies 60-90% of one eval document as a contiguous span
            ev = docs[int(rng.choice(eval_ids))]
            k = max(3, int(len(ev) * rng.uniform(0.6, 0.9)))
            at = int(rng.integers(0, len(ev) - k + 1))
            docs[i] = docs[i][: len(docs[i]) // 3] + ev[at:at + k]
            planted["eval_overlap"] += 1
        elif r < (CUR_NEAR_DUP_RATE + CUR_EVAL_OVERLAP_RATE
                  + CUR_REPETITIVE_RATE):
            # one bigram repeated until it holds >= 20% of the bigrams
            a, b = (int(x) for x in rng.integers(0, CUR_VOCAB, 2))
            reps = len(docs[i]) // 6 + 2
            docs[i] = docs[i][: len(docs[i]) // 2] + [a, b] * reps
            planted["repetitive"] += 1
    texts = [" ".join(vocab[t] for t in d) for d in docs]
    write(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"], dtype=object)[
            rng.integers(0, 5, n)],
        "source": np.array([f"src{k}" for k in range(8)], dtype=object)[
            rng.integers(0, 8, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    return {"documents": n, "eval_docs": int(is_eval.sum()),
            "vocabulary": CUR_VOCAB, **{f"planted_{k}": v
                                        for k, v in planted.items()}}


GENERATORS = {"tlq": gen_tlq, "report": gen_report, "curation": gen_curation}
# benchmark workload -> the input sets it reads (disjoint table names)
WORKLOAD_INPUTS = {"tlq_report": ("tlq", "report"), "curation": ("curation",)}


def generate(workload, seed, out, scale=1.0):
    """Write the workload's inputs under `out`; returns a summary with
    row counts, planted rates and total bytes."""
    os.makedirs(out, exist_ok=True)
    info = {}
    for part in WORKLOAD_INPUTS[workload]:
        info.update(GENERATORS[part](rng_for(part, seed), out, scale))
    info["bytes"] = sum(os.path.getsize(os.path.join(out, f))
                        for f in os.listdir(out) if f.endswith(".parquet"))
    return info


if __name__ == "__main__":
    w, s, o = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(w, s, o, float(sys.argv[4]) if len(sys.argv) > 4
                              else 1.0)))
