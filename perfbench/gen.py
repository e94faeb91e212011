"""Seeded input generator for the perfbench workloads.

Every table and request list a run feeds the engine is made here from the
run's seed; the same seed gives byte-identical inputs. Planted structure
(near-duplicate pairs, duplicated spans, leaked eval runs) is recorded in
the request plan, so the checks know the right answer by construction.
"""
import json
import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SOURCES = [f"src{i}" for i in range(20)]

# Sizes per workload. Chosen so one run (set-up, measured window, checks)
# stays well inside a minute on a 4-core machine; README.md records why.
SIZES = {
    "serve": {"docs": 1500, "topics": 16, "queries": 600, "analytics_sf": 0.01},
    "ingest": {"docs": 600, "eval_docs": 60, "near_dup_pairs": 40, "exact_pairs": 15,
               "span_groups": 10, "span_copies": 5, "leaked": 25,
               "batches": 40, "new_per_batch": 12, "notion_per_batch": 6,
               "upserts_per_batch": 3, "deletes_per_batch": 2},
}


def vocabulary(rng, n=2500):
    """Pronounceable lowercase ASCII words, unique, deterministic per seed."""
    cons, vows = list("bcdfghklmnprstvz"), list("aeiou")
    out, seen = [], set()
    while len(out) < n:
        k = rng.integers(2, 5)
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))]
                    for _ in range(k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class Words:
    """Zipf-weighted word sampler over a seeded vocabulary."""

    def __init__(self, rng):
        self.rng = rng
        self.vocab = np.array(vocabulary(rng))
        p = 1.0 / np.arange(1, len(self.vocab) + 1) ** 0.9
        self.p = p / p.sum()

    def take(self, n):
        return list(self.rng.choice(self.vocab, size=n, p=self.p))


def _write(path, table):
    pq.write_table(table, path, row_group_size=1 << 20)


def documents_table(ids, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def sentences(rng, words, n):
    """n words cut into sentences of 6 to 30 words."""
    out, left = [], n
    while left > 0:
        k = min(left, int(rng.integers(6, 31)))
        out.append(" ".join(words.take(k)) + ".")
        left -= k
    return " ".join(out)


def topical_docs(rng, words, n, lo, hi, topics):
    """Documents about one of `topics` topics: nine words in ten come from
    the topic's own 150-word slice of the vocabulary, so embeddings cluster
    the way a real corpus's do and an IVF probe has cells worth pruning."""
    vocab = words.vocab
    slices = [vocab[rng.choice(len(vocab), 150, replace=False)] for _ in range(topics)]
    ids = list(range(n))
    texts = []
    for _ in ids:
        own = slices[rng.integers(topics)]
        k = int(rng.integers(lo, hi))
        w = np.where(rng.random(k) < 0.9, rng.choice(own, k), words.take(k))
        texts.append(" ".join(w))
    langs = list(rng.choice(LANGS, size=n, p=LANG_P))
    sources = list(rng.choice(SOURCES, size=n))
    return ids, texts, langs, sources


def prose_docs(rng, words, n, lo, hi, first_id=0):
    ids = list(range(first_id, first_id + n))
    texts = [sentences(rng, words, int(rng.integers(lo, hi))) for _ in ids]
    langs = list(rng.choice(LANGS, size=n, p=LANG_P))
    sources = list(rng.choice(SOURCES, size=n))
    return ids, texts, langs, sources


def query_texts(rng, texts, n):
    """Runs of 4 to 9 words lifted from corpus documents: a user looking for
    something the corpus holds."""
    out = []
    while len(out) < n:
        w = texts[rng.integers(len(texts))].split()
        s = int(rng.integers(0, max(1, len(w) - 9)))
        q = " ".join(w[s:s + int(rng.integers(4, 10))])
        if q and q not in out:
            out.append(q)
    return out


def gen_serve(rng, out):
    z = SIZES["serve"]
    words = Words(rng)
    ids, texts, langs, sources = topical_docs(rng, words, z["docs"], 20, 260, z["topics"])
    _write(os.path.join(out, "documents.parquet"),
           documents_table(ids, texts, langs, sources))
    analytics_tables(rng, out, z["analytics_sf"])
    kinds = ["knn", "ivf", "ivfpq", "bm25", "hybrid"]
    qs = query_texts(rng, texts, z["queries"])
    # each round of ten queries runs every kind twice, in a seeded order
    plan = []
    for i in range(0, len(qs) - 9, 10):
        order = list(rng.permutation(kinds * 2))
        plan += [{"kind": k, "text": qs[i + j]} for j, k in enumerate(order)]
    return {"queries": plan}


def perturb(rng, words, text, r):
    w = text.split()
    for i in rng.choice(len(w), size=r, replace=False):
        w[i] = words.take(1)[0]
    return " ".join(w)


def curation_corpus(rng, words, out, z):
    """The base corpus: prose documents with planted near-duplicate pairs,
    exact copies, duplicated spans and runs leaked from the eval set."""
    n = z["docs"]
    ids, texts, langs, sources = prose_docs(rng, words, n, 40, 120)
    order = rng.permutation(n)
    cursor = 0

    def pick(k):
        nonlocal cursor
        s = [int(x) for x in order[cursor:cursor + k]]
        cursor += k
        return s

    # near-duplicate pairs: a copy of an original with one word changed in
    # every 40 (3-gram Jaccard ~0.85, above the 0.8 threshold)
    pairs = []
    origs, copies = pick(z["near_dup_pairs"]), pick(z["near_dup_pairs"])
    for a, b in zip(origs, copies):
        nw = len(texts[a].split())
        texts[b] = perturb(rng, words, texts[a], max(1, nw // 40))
        pairs.append(sorted([ids[a], ids[b]]))
    # exact duplicates: verbatim copies
    exact = []
    for a, b in zip(pick(z["exact_pairs"]), pick(z["exact_pairs"])):
        texts[b] = texts[a]
        exact.append(sorted([ids[a], ids[b]]))
    # duplicated spans: one 12-word boilerplate run pasted into several docs
    spans = []
    for _ in range(z["span_groups"]):
        run = " ".join(words.take(12))
        members = pick(z["span_copies"])
        for m in members:
            w = texts[m].split()
            p = int(rng.integers(0, len(w)))
            texts[m] = " ".join(w[:p] + run.split() + w[p:])
        spans.append({"run": run, "docs": sorted(ids[m] for m in members)})
    # the held-out eval set and leaked 16-word runs of it in train docs
    eids, etexts, elangs, esources = prose_docs(rng, words, z["eval_docs"], 60, 100,
                                                first_id=10_000_000)
    leaked = []
    for m in pick(z["leaked"]):
        e = int(rng.integers(len(etexts)))
        ew = etexts[e].split()
        s = int(rng.integers(0, len(ew) - 16))
        w = texts[m].split()
        p = int(rng.integers(0, len(w)))
        texts[m] = " ".join(w[:p] + ew[s:s + 16] + w[p:])
        leaked.append(ids[m])
    _write(os.path.join(out, "documents.parquet"),
           documents_table(ids, texts, langs, sources))
    _write(os.path.join(out, "eval.parquet"),
           documents_table(eids, etexts, elangs, esources))
    truth = {"near_dup_pairs": pairs, "exact_pairs": exact, "spans": spans,
             "leaked_docs": sorted(leaked)}
    return ids, texts, truth


def notion_lines(doc_id, text):
    block = {"page_id": str(doc_id), "block_idx": 0, "type": "paragraph",
             "paragraph": {"rich_text": [{"type": "text",
                                          "text": {"content": text}}]}}
    return json.dumps(block)


def gen_ingest(rng, out):
    z = SIZES["ingest"]
    words = Words(rng)
    ids, texts, truth = curation_corpus(rng, words, out, z)
    current = dict(zip(ids, texts))
    next_id = 1_000_000
    batches = []
    for b in range(z["batches"]):
        new = []
        for i in range(z["new_per_batch"]):
            if i == 0:
                t = " ".join(words.take(4))  # under 50 chars: the chunker drops it
            else:
                t = " ".join(words.take(int(rng.integers(15, 100))))
            new.append({"doc_id": next_id, "text": t})
            next_id += 1
        notion, plain = new[:z["notion_per_batch"]], new[z["notion_per_batch"]:]
        npath = os.path.join(out, f"notion_{b}.jsonl")
        with open(npath, "w") as f:
            for d in notion:
                f.write(notion_lines(d["doc_id"], d["text"]) + "\n")
        pool = sorted(current)
        chosen = [int(x) for x in rng.choice(pool, size=z["upserts_per_batch"] +
                                             z["deletes_per_batch"], replace=False)]
        upserts = [{"doc_id": d, "text": " ".join(words.take(int(rng.integers(15, 100))))}
                   for d in chosen[:z["upserts_per_batch"]]]
        deletes = chosen[z["upserts_per_batch"]:]
        # probes: four new and two upserted documents must be found by their
        # own text (they stay below the 1000-char chunk size, so each is one
        # chunk); two deleted documents must never come back
        indexed = [d for d in new if len(d["text"]) >= 50]
        probes = [{"doc_id": d["doc_id"], "text": d["text"], "expect": "found"}
                  for d in indexed[:4] + upserts[:2]]
        probes += [{"doc_id": d, "text": current[d], "expect": "absent"} for d in deletes[:2]]
        for d in deletes:
            del current[d]
        current.update({d["doc_id"]: d["text"] for d in upserts + indexed})
        batches.append({"notion_path": npath, "notion": notion, "plain": plain,
                        "upserts": upserts, "deletes": deletes, "probes": probes})
    return {"batches": batches, **truth}


def analytics_tables(rng, out, sf):
    """TPC-H-shaped tables, an event stream and an embeddings table for the
    registered analytics queries, at scale factor `sf`."""
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord = int(1500000 * sf)
    _write(os.path.join(out, "region.parquet"), pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}))
    _write(os.path.join(out, "nation.parquet"), pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    # money columns carry distinct cents so top-k orderings have no ties
    _write(os.path.join(out, "customer.parquet"), pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.permutation(1100000)[:n_cust] / 100 - 999.99, 2)),
        "c_mktsegment": pa.array(rng.choice(segs, n_cust))}))
    _write(os.path.join(out, "supplier.parquet"), pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.permutation(1100000)[:n_supp] / 100 - 999.99, 2))}))
    adjs, nouns = ["large", "small", "blue", "red", "green", "shiny", "old", "new"], \
        ["ring", "anvil", "widget", "gear", "bolt", "spring", "valve", "lever"]
    _write(os.path.join(out, "part.parquet"), pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{adjs[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                       "STANDARD"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10, 1))}))
    base = np.datetime64("1995-01-01T00:00:00", "us")
    odays = rng.integers(0, 2405, n_ord)
    _write(os.path.join(out, "orders.parquet"), pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(1000 + rng.choice(50_000_000, n_ord, replace=False) / 100, 2)),
        "o_orderdate": pa.array(base + odays.astype("timedelta64[D]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                "4-NOT SPECIFIED", "5-LOW"], n_ord))}))
    per = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    n_li = len(okeys)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(os.path.join(out, "lineitem.parquet"), pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * (900 + rng.integers(0, 1100, n_li) / 10)
                                             + rng.integers(0, 100, n_li) / 100, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(base + (np.repeat(odays, per) + rng.integers(1, 122, n_li))
                               .astype("timedelta64[D]"), pa.timestamp("us"))}))
    n_ev, n_users = int(1_000_000 * sf), int(15000 * sf)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    micros = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    _write(os.path.join(out, "events.parquet"), pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(t0 + micros.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(["signup", "purchase", "view", "click", "error"],
                                          n_ev)),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)])}))
    n_emb = int(20000 * sf)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(os.path.join(out, "embeddings.parquet"), pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}))


GENERATORS = {"serve": gen_serve, "ingest": gen_ingest}


def generate(workload, seed, out):
    """Write the workload's tables under `out` and return its request plan
    (also written to `out/inputs.json` for the JVM side)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, list(GENERATORS).index(workload)])
    plan = GENERATORS[workload](rng, out)
    plan = {"workload": workload, "seed": seed, **plan}
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(plan, f)
    return plan
