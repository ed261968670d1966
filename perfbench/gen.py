"""Seeded input generators. Every input a workload feeds graft comes from here.

The same seed gives byte-identical inputs; graft sees only the files written.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def zipf_ranks(rng, n_items, size, s):
    """`size` draws from ranks 0..n_items-1 with P(r) proportional to 1/(r+1)^s."""
    p = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    return rng.choice(n_items, size=size, p=p / p.sum())


def vocabulary(rng, n):
    """`n` distinct lowercase a-z words of 3..9 letters (no \\W, so graft's
    `split(lower(line), "\\W+")` keeps each word whole)."""
    words, seen = [], set()
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


# ---- jdbc_wordcount_rate --------------------------------------------------

def wordcount_lines(seed, n_lines, vocab_size=5000, words_per_line=10, s=1.1):
    """`n_lines` lines of `words_per_line` Zipf-drawn words. The vocabulary
    and its rank order are the same for every seed: which words are hot, and
    so which state partitions are hot, does not change from run to run."""
    vocab = np.array(vocabulary(np.random.default_rng(0), vocab_size))
    rng = np.random.default_rng([seed, 1])
    toks = vocab[zipf_ranks(rng, vocab_size, n_lines * words_per_line, s)]
    return [" ".join(row) for row in toks.reshape(n_lines, words_per_line)]


def word_counts(lines):
    counts = {}
    for line in lines:
        for w in line.split(" "):
            counts[w] = counts.get(w, 0) + 1
    return counts


# ---- topic_ksql_backlog ---------------------------------------------------

def java_bytes_hash(s):
    """java.util.Arrays.hashCode(s.getBytes(UTF_8)), the file-topic sink's
    key hash, so the backlog is partitioned as graft's own producer would."""
    h = 1
    for b in s.encode("utf-8"):
        b = b - 256 if b > 127 else b
        h = (31 * h + b) & 0xFFFFFFFF
    return h - (1 << 32) if h >= (1 << 31) else h


def topic_backlog(topic_dir, topic, seed, n_records, n_partitions,
                  n_users=10000, s=1.0, t0_ms=1_700_000_000_000, stream=2):
    """Write `n_records` JSON-envelope records into `<topic>-<p>.jsonl`,
    key-hash partitioned. Returns {userid: (count, sum_amount)}. `stream`
    picks an independent random stream of the same seed."""
    rng = np.random.default_rng([seed, stream])
    users = [f"u{i:05d}" for i in range(n_users)]
    part = [java_bytes_hash(u) % n_partitions for u in users]
    uid = zipf_ranks(rng, n_users, n_records, s)
    amount = rng.integers(1, 1001, size=n_records)
    region = rng.integers(0, 10, size=n_records)
    cnt = np.bincount(uid, minlength=n_users)
    tot = np.bincount(uid, weights=amount, minlength=n_users)
    os.makedirs(topic_dir, exist_ok=True)
    lines = [[] for _ in range(n_partitions)]
    for i, (u, a, r) in enumerate(zip(uid.tolist(), amount.tolist(), region.tolist())):
        name = users[u]
        lines[part[u]].append(
            f'{{"key":"{name}","value":"{{\\"userid\\":\\"{name}\\",\\"amount\\":{a},'
            f'\\"region\\":\\"r{r}\\"}}","timestamp":{t0_ms + i}}}\n')
    for p in range(n_partitions):
        with open(os.path.join(topic_dir, f"{topic}-{p}.jsonl"), "w") as f:
            f.write("".join(lines[p]))
    return {users[i]: (int(cnt[i]), int(tot[i])) for i in range(n_users) if cnt[i]}


# ---- board: the sf-shaped tables SparkEntry.queries read ------------------

DOC_WORDS = ("a agg batch big column customer data fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _ts_us(start, n_days, rng, size, whole_days, sort=False):
    base = np.datetime64(start, "us").astype(np.int64)
    if whole_days:
        off = rng.integers(0, n_days, size=size) * 86_400_000_000
    else:
        off = rng.integers(0, n_days * 86_400_000_000, size=size)
    return pa.array(base + (np.sort(off) if sort else off), type=pa.timestamp("us"))


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size=size), 2)


def board_tables(out_dir, seed, sf=0.1):
    """The ten tables at scale factor `sf` (sf0.1: 600k lineitem rows), in
    the shapes and value domains the board queries and their oracles use."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "cold", "hot", "red", "small", "new", "old", "large"])
    noun = np.array(["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"])
    pk = np.arange(n_part, dtype=np.int64)
    write("part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                            "PROMO"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us("1995-01-01", 2405, rng, n_ord, True),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us("1995-01-02", 2498, rng, n_li, True)})
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_us("2024-01-01", 30, rng, n_ev, False, sort=True),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": np.array(["view", "click", "purchase", "signup",
                                "error"])[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.0, 560.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()]})

    words = np.array(DOC_WORDS)
    texts = []
    # The duplicate structure (doc lengths, which doc copies which, the words
    # it replaces) is the same for every seed, so the near-duplicate graph's
    # chains, and with them the connected-components rounds of the dedup
    # queries, do not change from run to run. The seed picks the words.
    shape = np.random.default_rng(7)
    for i in range(n_doc):
        if i > 10 and shape.random() < 0.05:
            # near-duplicate of an earlier doc: ~1 word in 10 replaced by "dup"
            toks = texts[int(shape.integers(0, i))].split(" ")
            for j in np.nonzero(shape.random(len(toks)) < 0.1)[0]:
                toks[j] = "dup"
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(shape.integers(10, 101)))]))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    v = centers[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
