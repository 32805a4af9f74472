"""Seeded input generator for the benchmark workloads.

Every input the JVM program sees is written here from one seed: the base
tables, the micro-batches of the write path (CDC key/op mixes, document
and embedding slices), the probe mix of the read path and the gate order
of the batch workload. The same seed gives byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Where each input property comes from. "measured": read off the
# engine's sf0.1 test-tier tables; "prototype": the per-call sizes that
# sized the layers on the 4-core host; "YCSB": Cooper et al., SoCC 2010;
# "unverified": no source, chosen only so the listed behaviour occurs.
#
# Corpus (measured, sf0.1 documents.parquet): 31 distinct tokens, the 30
# words below near-uniformly (8 829..9 182 uses each) plus "dup"; 10..100
# words per document; 5.1% near-duplicates; 41/15/15/15/15% languages.
VOCAB = (
    "a the data table row column key value part line order batch stream "
    "spark query scan sort hash join merge filter group agg window vector "
    "fast slow small big customer"
).split()
DUP_P = 0.05
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64
N_LABELS = 10

# Table-workload base sizes (unverified: below sf0.1's 150 000 orders
# and 5 000 documents, so three set-ups fit one run's time).
BASE = {"orders": 20000, "cust": 2000, "docs": 1000, "emb": 1000}
# Write-path micro-batch shape (prototype: a ~150-key CDC batch, an
# 80-document append, a 40-vector append; DV deletes of 1-2 rows).
CDC_CHANGES = 150
DOC_APPEND = 80
EMB_APPEND = 40
# CDC op mix (unverified): 40% inserts, 45% updates, 15% deletes, and a
# second update for 10% of the changed keys, so every batch holds all
# three Debezium ops and repeated keys for the latest-change fold.
CDC_MIX = {"c": 0.40, "u": 0.45, "d": 0.15}
CDC_REPEAT_P = 0.10
# Probe skew (YCSB): Zipfian popularity with YCSB's constant 0.99.
ZIPF_S = 0.99
# One round is one write batch per stream, each compacting its table
# before its refresh, and one probe of each kind; a measured block is one
# round, so every block holds every op kind (a structural choice, not a
# measured read/write ratio). The program runs the first round untimed
# to warm the JVM, and rounds past the second only when a block takes
# less than the run's seconds.
PROBES = ["bm25", "phrase", "topk", "view", "point", "range"]
MAX_ROUNDS = 12
# Range probes (unverified): 200 consecutive keys from a uniform start.
RANGE_WIDTH = 200
# Batch workload: catalog gates, and the star-schema scale factor (the
# engine's test tiers are sf0.01 and sf0.1).
GATES = ["d10_simhash_clusters", "a8_percentiles",
         "d6_simhash_pairs", "c1_corpus_curation", "v15_ivfpq_residual",
         "t6_bpe_tokens", "q5_local_supplier_volume", "q21_waiting_supplier",
         "a10_pivot"]
GATE_SCALE = 0.01
GATE_DOCS = 300  # the dedup gates' oracles grow fast with corpus size
# The batch workload's input is one fixed star schema, so its oracle
# answers are computed once per build; the workload seed orders the gates.
STAR_SEED = 20240101
# table -> partition and sort key of the multi-file rewrite ("" = one file)
GATE_TABLES = {"region": "", "nation": "", "customer": "c_custkey",
               "supplier": "s_suppkey", "orders": "o_orderkey",
               "lineitem": "l_orderkey", "events": "event_id",
               "documents": "doc_id", "embeddings": "vec_id"}


def _zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class Gen:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        # a per-seed popularity order of the vocabulary (query skew)
        self.vocab_rank = list(self.rng.permutation(VOCAB))
        self.centers = self.rng.normal(0, 0.15, (N_LABELS, DIM))

    # -- rows ---------------------------------------------------------
    def texts(self, n: int) -> list:
        """Uniform words, 10..100 per document; about DUP_P of them are a
        copy of an earlier document with a "dup" token appended."""
        lens = self.rng.integers(10, 101, n)
        words = self.rng.integers(0, len(VOCAB), int(lens.sum()))
        out, at = [], 0
        for i, ln in enumerate(lens):
            if i and self.rng.random() < DUP_P:
                out.append(out[int(self.rng.integers(0, i))] + " dup")
            else:
                out.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
            at += ln
        return out

    def vectors(self, n: int):
        labels = self.rng.integers(0, N_LABELS, n)
        v = self.centers[labels] + self.rng.normal(0, 0.1, (n, DIM))
        return v.astype(np.float32), labels.astype(np.int32)

    @staticmethod
    def emb_table(ids, vecs, extra=None) -> pa.Table:
        cols = {"vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}
        if extra:
            cols.update(extra)
        return pa.table(cols)

    # -- the shared table fixture ---------------------------------------
    def fixture_base(self, out: str) -> dict:
        n_o, n_c = BASE["orders"], BASE["cust"]
        pq.write_table(pa.table({
            "o_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_nationkey": pa.array(self.rng.integers(0, 25, n_c), pa.int32())}),
            f"{out}/cust.parquet")
        pq.write_table(pa.table({
            "c_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)]}),
            f"{out}/nat.parquet")
        pq.write_table(pa.table({
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(self.rng.integers(0, n_c, n_o), pa.int64()),
            "price_cents": pa.array(self.rng.integers(100000, 50000000, n_o),
                                    pa.int64())}),
            f"{out}/orders.parquet")
        docs = self.texts(BASE["docs"])
        pq.write_table(pa.table({"doc_id": pa.array(np.arange(len(docs)), pa.int64()),
                                 "text": docs}), f"{out}/docs.parquet")
        vecs, _ = self.vectors(BASE["emb"])
        pq.write_table(self.emb_table(np.arange(BASE["emb"]), vecs),
                       f"{out}/emb.parquet")
        return {"base_orders": n_o, "docs": docs, "vecs": vecs}

    # -- workloads -------------------------------------------------------
    def ingest_maintain(self, out: str):
        base = self.fixture_base(out)
        rng = self.rng
        n_o, docs, vecs = base["base_orders"], base["docs"], base["vecs"]
        live_orders = list(range(n_o))
        next_order = n_o
        live_docs = list(range(len(docs)))
        next_doc = len(docs)
        live_emb = list(range(len(vecs)))
        next_emb = len(vecs)
        cdc = {k: [] for k in ("batch", "o_orderkey", "o_custkey",
                               "price_cents", "op", "seq")}
        adds = {"batch": [], "doc_id": [], "text": []}
        emb_b, emb_ids, emb_v = [], [], []
        ops = []
        seq = 0
        # probe skew: hot keys, documents, vectors and terms
        hot_keys, key_p = rng.permutation(n_o), _zipf_probs(n_o)
        hot_docs, doc_p = rng.permutation(len(docs)), _zipf_probs(len(docs))
        hot_vecs, vec_p = rng.permutation(len(vecs)), _zipf_probs(len(vecs))
        term_p = _zipf_probs(len(VOCAB))

        def take(pool):  # remove and return one random live key
            j = int(rng.integers(0, len(pool)))
            pool[j], pool[-1] = pool[-1], pool[j]
            return pool.pop()

        def probe(kind):
            p = {"kind": kind}
            if kind == "bm25":
                n = int(rng.integers(1, 4))
                p["query"] = " ".join(self.vocab_rank[int(i)] for i in rng.choice(
                    len(VOCAB), n, replace=False, p=term_p))
            elif kind == "phrase":
                words = docs[int(hot_docs[rng.choice(len(docs), p=doc_p)])].split()
                a = int(rng.integers(0, len(words) - 1))
                p["query"] = " ".join(words[a:a + 2])
            elif kind == "topk":
                ids = hot_vecs[rng.choice(len(vecs), 3, p=vec_p)]
                p["vectors"] = [[float(x) for x in vecs[int(i)]] for i in ids]
            elif kind == "point":
                p["key"] = int(hot_keys[rng.choice(n_o, p=key_p)])
            elif kind == "range":
                lo = int(rng.integers(0, n_o - RANGE_WIDTH))
                p["lo"], p["hi"] = lo, lo + RANGE_WIDTH
            return p

        for r in range(MAX_ROUNDS):
            writes = []
            # orders: Debezium-style inserts/updates/deletes; some keys
            # change twice in a batch so the latest-change fold matters
            changes = []
            for _ in range(CDC_CHANGES):
                x = rng.random()
                if x < CDC_MIX["c"]:
                    k, op = next_order, "c"
                    next_order += 1
                    live_orders.append(k)
                elif x < CDC_MIX["c"] + CDC_MIX["u"]:
                    k, op = live_orders[int(rng.integers(0, len(live_orders)))], "u"
                else:
                    k, op = take(live_orders), "d"
                changes.append((k, op))
                if op != "d" and rng.random() < CDC_REPEAT_P:
                    changes.append((k, "u"))
            for k, op in changes:
                seq += 1
                cdc["batch"].append(r)
                cdc["o_orderkey"].append(k)
                cdc["o_custkey"].append(int(rng.integers(0, BASE["cust"])))
                cdc["price_cents"].append(int(rng.integers(100000, 50000000)))
                cdc["op"].append(op)
                cdc["seq"].append(seq)
            writes.append({"kind": "orders", "batch": r, "deletes": []})
            # documents: an appended slice (ids continue past the base
            # with a per-batch offset) plus a DV delete of older docs
            dels = [take(live_docs) for _ in range(int(rng.integers(1, 3)))]
            for t in self.texts(DOC_APPEND):
                adds["batch"].append(r)
                adds["doc_id"].append(next_doc)
                adds["text"].append(t)
                live_docs.append(next_doc)
                next_doc += 1
            writes.append({"kind": "docs", "batch": r, "deletes": dels})
            # embeddings: the same shape
            dels = [take(live_emb) for _ in range(int(rng.integers(1, 3)))]
            new_vecs, _ = self.vectors(EMB_APPEND)
            for v in new_vecs:
                emb_b.append(r)
                emb_ids.append(next_emb)
                emb_v.append(v)
                live_emb.append(next_emb)
                next_emb += 1
            writes.append({"kind": "emb", "batch": r, "deletes": dels})
            # the round's six probes, shuffled, two after each write
            probes = [probe(str(k)) for k in rng.permutation(PROBES)]
            for j, w in enumerate(writes):
                ops.append(w)
                ops += probes[2 * j:2 * j + 2]
        pq.write_table(pa.table({
            "batch": pa.array(cdc["batch"], pa.int32()),
            "o_orderkey": pa.array(cdc["o_orderkey"], pa.int64()),
            "o_custkey": pa.array(cdc["o_custkey"], pa.int64()),
            "price_cents": pa.array(cdc["price_cents"], pa.int64()),
            "op": cdc["op"], "seq": pa.array(cdc["seq"], pa.int64())}),
            f"{out}/orders_cdc.parquet")
        pq.write_table(pa.table({"batch": pa.array(adds["batch"], pa.int32()),
                                 "doc_id": pa.array(adds["doc_id"], pa.int64()),
                                 "text": adds["text"]}), f"{out}/docs_add.parquet")
        pq.write_table(self.emb_table(emb_ids, emb_v,
                                      {"batch": pa.array(emb_b, pa.int32())}),
                       f"{out}/emb_add.parquet")
        return {"base_orders": n_o, "ops": ops, "ops_per_block": len(ops) // MAX_ROUNDS}

    def batch_gates(self, out: str):
        # the star schema is fixed (see STAR_SEED); the seed orders the gates
        order = [GATES[int(i)] for i in self.rng.permutation(len(GATES))]
        return {"gates": order, "tables": GATE_TABLES, "ops_per_block": len(GATES)}

    # -- the star schema the catalog gates read -------------------------
    def star(self, out: str, f: float):
        rng = self.rng
        n_c, n_s = int(150000 * f), int(10000 * f)
        n_o, n_e = int(1500000 * f), int(1000000 * f)
        n_d, n_v, n_u, n_p = GATE_DOCS, int(20000 * f), int(15000 * f), int(200000 * f)
        pq.write_table(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                            "MIDDLE EAST"]}), f"{out}/region.parquet")
        pq.write_table(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                                 "n_name": [f"NATION_{i}" for i in range(25)],
                                 "n_regionkey": pa.array([i % 5 for i in range(25)],
                                                         pa.int32())}),
                       f"{out}/nation.parquet")

        def cents(lo, hi, n):
            return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

        pq.write_table(pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": cents(-999.99, 9999.99, n_c),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_c)}),
            f"{out}/customer.parquet")
        pq.write_table(pa.table({
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": cents(-999.99, 9999.99, n_s)}),
            f"{out}/supplier.parquet")
        day0 = np.datetime64("1995-01-01")
        odate = day0 + rng.integers(0, 2404, n_o).astype("timedelta64[D]")
        pq.write_table(pa.table({
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
            "o_totalprice": cents(1000, 500000, n_o),
            "o_orderdate": pa.array(odate.astype("datetime64[us]")),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_o)}),
            f"{out}/orders.parquet")
        lines = rng.integers(1, 8, n_o)
        lok = np.repeat(np.arange(n_o), lines)
        n_l = len(lok)
        lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
        qty = rng.integers(1, 51, n_l).astype(np.float64)
        ship = np.repeat(odate, lines) + rng.integers(1, 122, n_l).astype("timedelta64[D]")
        pq.write_table(pa.table({
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * cents(900, 2100, n_l), 2),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_l),
            "l_linestatus": rng.choice(["F", "O"], n_l),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"))}),
            f"{out}/lineitem.parquet")
        t0 = np.datetime64("2024-01-01T00:00:00", "us")
        ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n_e).astype("timedelta64[us]"))
        etype = rng.choice(["view", "click", "purchase", "signup", "error"], n_e)
        pq.write_table(pa.table({
            "event_id": pa.array(np.arange(n_e), pa.int64()),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, n_u, n_e), pa.int64()),
            "event_type": etype,
            "value": np.round(rng.exponential(40.0, n_e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]}),
            f"{out}/events.parquet")
        texts = self.texts(n_d)
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(n_d), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_d, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_d)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
            f"{out}/documents.parquet")
        vecs, labels = self.vectors(n_v)
        pq.write_table(self.emb_table(np.arange(n_v), vecs,
                                      {"label": pa.array(labels, pa.int32())}),
                       f"{out}/embeddings.parquet")


def generate_star(out: str):
    """Writes the batch workload's fixed star schema under `out`."""
    os.makedirs(out, exist_ok=True)
    Gen(STAR_SEED).star(out, GATE_SCALE)


def generate(workload: str, seed: int, out: str) -> dict:
    """Writes the workload's inputs under `out` and returns its plan (also
    written as `out/plan.json`, the file the JVM program reads)."""
    os.makedirs(out, exist_ok=True)
    plan = getattr(Gen(seed), workload)(out)
    plan["workload"], plan["seed"] = workload, seed
    with open(f"{out}/plan.json", "w") as f:
        json.dump(plan, f)
    return plan
