"""Output checks, each made apart from the engine.

Every check re-derives the right answer from the generated inputs with
numpy, DuckDB or plain Python and compares the engine's result with it.
`selftest` corrupts a copy of a run's results (a dropped hit, a perturbed
score, a missing row, ...) and shows that each check rejects it.
"""
import copy
import json
import math
import os
import re
import sys
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

K = 10
TOL = 1e-9
NPROBE = 4
PLANTED_RECALL_BOUND = 0.75  # planted pairs MinHash must find (the banding curve gives ~0.95)
JACCARD = 0.8
BM25_K1, BM25_B = 1.2, 0.75
VEC_W, TXT_W = 0.7, 0.3
PACK_TOTAL, PACK_PER_DOC = 400, 120


def tokens(text):
    return [t for t in re.split("[^a-z0-9]+", text.lower()) if t]


def top(scores, ids, k):
    """Indices of the top k by (score desc, id asc)."""
    order = sorted(range(len(ids)), key=lambda i: (-scores[i], ids[i]))
    return order[:k]


def same_top(got, want_ids, want_scores, k, tol, problems, what):
    """`got` = [(id, score)]; must be the k best of the reference, allowing
    swaps only between items whose reference scores tie within `tol`."""
    if len(got) != min(k, len(want_ids)):
        problems.append(f"{what}: {len(got)} hits, expected {min(k, len(want_ids))}")
        return
    ref = dict(zip(want_ids, want_scores))
    order = top(want_scores, want_ids, k)
    if not order:
        return
    kth = want_scores[order[-1]]
    for cid, s in got:
        if cid not in ref:
            problems.append(f"{what}: returned unknown id {cid}")
        elif abs(ref[cid] - s) > tol:
            problems.append(f"{what}: {cid} scored {s}, true score {ref[cid]}")
        elif ref[cid] < kth - tol:
            problems.append(f"{what}: {cid} ({ref[cid]}) is below the true top-{k}")
    got_ids = {c for c, _ in got}
    for i in order:
        if want_scores[i] > kth + tol and want_ids[i] not in got_ids:
            problems.append(f"{what}: missed true top-{k} hit {want_ids[i]}")


class Bm25:
    def __init__(self, ids, texts):
        self.ids = ids
        self.toks = [Counter(tokens(t)) for t in texts]
        self.dl = np.array([sum(c.values()) for c in self.toks], dtype=float)
        self.avgdl = self.dl.mean()
        self.df = Counter()
        for c in self.toks:
            self.df.update(c.keys())

    def scores(self, query):
        terms = list(dict.fromkeys(tokens(query)))
        n = len(self.ids)
        # df over the documents that contain a query term, as the engine counts it
        out = {}
        for i, c in enumerate(self.toks):
            s, hit = 0.0, False
            for t in terms:
                tf = c.get(t, 0)
                if tf:
                    hit = True
                    idf = math.log((n - self.df[t] + 0.5) / (self.df[t] + 0.5) + 1.0)
                    s += idf * (tf * (BM25_K1 + 1)) / (
                        tf + BM25_K1 * (1 - BM25_B + BM25_B * self.dl[i] / self.avgdl))
            if hit:
                out[self.ids[i]] = round(s, 6)
        return out


def check_serve(plan, res, work):
    problems = []
    ch = pq.read_table(os.path.join(work, "out", "chunks.parquet")).to_pandas()
    ids = ch.chunk_id.tolist()
    emb = np.stack(ch.embedding.to_numpy()).astype(np.float64)
    norms = np.linalg.norm(emb, axis=1)
    content = dict(zip(ids, ch.content))
    doc_of = dict(zip(ids, ch.document_id))
    docs = pq.read_table(os.path.join(work, "data", "documents.parquet")).to_pandas()
    meta = {d: (l, s) for d, l, s in zip(docs.doc_id, docs.lang, docs.source)}
    bm = Bm25(ids, ch.content.tolist())
    cells = pq.read_table(os.path.join(work, "out", "cells.parquet")).to_pandas()
    cell_of = dict(zip(cells.chunk_id, cells.centroid_id))
    cent = pq.read_table(os.path.join(work, "out", "centroids.parquet")).to_pandas()
    cvec = np.stack(cent.centroid_vec.to_numpy()).astype(np.float64)
    cnorm = np.linalg.norm(cvec, axis=1)
    # the IVF index: every chunk sits in the cell of its nearest centroid
    ccos = (emb @ cvec.T) / np.maximum(np.outer(norms, cnorm), 1e-300)
    cpos = {c: i for i, c in enumerate(cent.centroid_id)}
    own = ccos[np.arange(len(ids)), [cpos[cell_of[c]] for c in ids]]
    misplaced = int((own < ccos.max(axis=1) - 1e-9).sum())
    if misplaced:
        problems.append(f"IVF store: {misplaced} chunks are not in their nearest centroid's cell")
    recalls, pq_recalls = [], []
    for n, r in enumerate(res["records"]):
        what = f"query {n} ({r['kind']} '{r['text']}')"
        if "qvec" in r:
            q = np.array(r["qvec"], dtype=np.float64)
            qn = np.linalg.norm(q)
            cos = emb @ q / np.where(norms * qn == 0, 1, norms * qn)
            true = ((cos + 1) / 2).tolist()
            best = {ids[i] for i in top(true, ids, K)}
        if r["kind"] == "knn":
            same_top([(h[0], h[1]) for h in r["hits"]], ids, true, K, 1e-9, problems, what)
        elif r["kind"] in ("ivf", "ivfpq"):
            # the probe opens the NPROBE cells whose centroids are nearest
            qc = (cvec @ q / np.where(cnorm * qn == 0, 1, cnorm * qn)).tolist()
            probed = {cent.centroid_id[i] for i in top(qc, list(cent.centroid_id), NPROBE)}
            inside = [i for i, c in enumerate(ids) if cell_of[c] in probed]
            in_ids, in_true = [ids[i] for i in inside], [true[i] for i in inside]
            got = [(h[0], h[1]) for h in r["hits"]]
            if r["kind"] == "ivf":
                # exact top-10 within the probed cells
                same_top(got, in_ids, in_true, K, 1e-9, problems, what)
            else:
                # ADC ranks approximately; the returned hits must still come
                # from the probed cells, in order, with exact cosine scores
                ref = dict(zip(ids, true))
                for cid, s in got:
                    if abs(ref.get(cid, -9) - s) > 1e-9:
                        problems.append(f"{what}: {cid} scored {s}, true cosine score "
                                        f"{ref.get(cid)}")
                    elif cell_of[cid] not in probed:
                        problems.append(f"{what}: {cid} is outside the probed cells")
                if len(got) != K or len({c for c, _ in got}) != K:
                    problems.append(f"{what}: {len(got)} hits, expected {K} distinct")
                if [s for _, s in got] != sorted((s for _, s in got), reverse=True):
                    problems.append(f"{what}: hits not in score order")
                cell_best = {in_ids[i] for i in top(in_true, in_ids, K)}
                pq_recalls.append(len(cell_best & {c for c, _ in got}) / K)
            recalls.append(len(best & {h[0] for h in r["hits"]}) / K)
        elif r["kind"] == "bm25":
            sc = bm.scores(r["text"])
            same_top([(h[0], h[1]) for h in r["hits"]], list(sc), list(sc.values()), K,
                     2e-6, problems, what)
        elif r["kind"] == "hybrid":
            sc = bm.scores(r["text"])
            vec = [ids[i] for i in top(true, ids, 2 * K)]
            txt = [list(sc)[i] for i in top(list(sc.values()), list(sc), 2 * K)]
            ref = dict(zip(ids, true))
            fused = {}
            for c in set(vec) | set(txt):
                vs = ref[c] if c in vec else 0.0
                ts = sc[c] if c in txt else 0.0
                fused[c] = VEC_W * vs + TXT_W * ts
            same_top([(h[0], h[3]) for h in r["hits"]], list(fused), list(fused.values()), K,
                     2e-6, problems, what)
            got = {h[0] for h in r["hits"]}
            att = r["attached"]
            if {a[0] for a in att} != got:
                problems.append(f"{what}: attribution rows do not match the fused hits")
            for cid, did, lang, src, _ in att:
                if doc_of.get(cid) != did or meta.get(did) != (lang, src):
                    problems.append(f"{what}: {cid} attributed to {did}/{lang}/{src}")
            total, want = 0, []
            for cid, _, _, _, s in att:
                c = content[cid]
                t = len(c) // 4
                if total + t <= PACK_TOTAL:
                    if t > PACK_PER_DOC:
                        want.append([cid, c[:PACK_PER_DOC * 4] + "...", s])
                        total += PACK_PER_DOC
                    else:
                        want.append([cid, c, s])
                        total += t
            if r["packed"] != want:
                problems.append(f"{what}: token-budget packing differs from the greedy reference")
    # recall is reported, not bounded: with two to four probes a run it
    # swings with the seed, while the checks above hold exactly
    recall = float(np.mean(recalls)) if recalls else 0.0
    pq_recall = float(np.mean(pq_recalls)) if pq_recalls else 0.0
    return problems, {"recall_at_10": recall, "pq_cell_recall": pq_recall}


def shingles(text, n):
    w = tokens(text)
    if len(w) >= n:
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}
    return {" ".join(w)}


def components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def check_curate(plan, res, work):
    problems = []
    data = os.path.join(work, "data")
    docs = pq.read_table(os.path.join(data, "documents.parquet")).to_pandas()
    ev = pq.read_table(os.path.join(data, "eval.parquet")).to_pandas()
    text = dict(zip(docs.doc_id, docs.text))
    r = res["curation"]
    # near-dup pairs: exact 3-gram Jaccard at or above the threshold
    sh = {d: shingles(t, 3) for d, t in text.items()}
    found = set()
    for a, b, j in r["pairs"]:
        true = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if true < JACCARD - TOL or abs(true - j) > 1e-9:
            problems.append(f"near-dup pair ({a},{b}) reported {j}, true Jaccard {true}")
        found.add((min(a, b), max(a, b)))
    planted = [tuple(p) for p in plan["near_dup_pairs"]
               if len(sh[p[0]] & sh[p[1]]) / len(sh[p[0]] | sh[p[1]]) >= JACCARD]
    rec = sum(p in found for p in planted) / max(1, len(planted))
    if rec < PLANTED_RECALL_BOUND:
        problems.append(f"planted near-dup recall {rec:.3f} below {PLANTED_RECALL_BOUND}")
    # clusters: min id of each connected component of the reported pairs
    comp = components(found)
    got = {a: c for a, c in r["clusters"]}
    if got != comp:
        problems.append(f"near-dup clusters differ from the components of the pairs "
                        f"({len(got)} vs {len(comp)} members)")
    # exact groups: the DuckDB oracle SQL of dedup_exact_groups over the corpus
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(data, 'documents.parquet')}'")
    want = con.execute("""SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
        MIN(doc_id) AS canonical_id, array_to_string(list_sort(list(doc_id)), ',') AS dup_ids
        FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1""").fetchall()
    if sorted(map(tuple, r["exact"])) != sorted(want):
        problems.append(f"exact-dup groups differ from the DuckDB oracle "
                        f"({len(r['exact'])} vs {len(want)} groups)")
    # duplicated spans: the maximal runs covered by 5-token windows that
    # occur at least twice in the corpus, recomputed in full
    toks = {d: tokens(t) for d, t in text.items()}
    grams = Counter(tuple(w[i:i + 5]) for w in toks.values() for i in range(len(w) - 4))
    want_spans = set()
    for d, w in toks.items():
        covered = [False] * len(w)
        for i in range(len(w) - 4):
            if grams[tuple(w[i:i + 5])] >= 2:
                covered[i:i + 5] = [True] * 5
        i = 0
        while i < len(w):
            if covered[i]:
                j = i
                while j + 1 < len(w) and covered[j + 1]:
                    j += 1
                want_spans.add((d, i + 1, j + 1))
                i = j + 1
            else:
                i += 1
    got_spans = {tuple(x) for x in r["spans"]}
    if got_spans != want_spans:
        problems.append(f"duplicated spans differ from the recomputed maximal runs "
                        f"({len(got_spans - want_spans)} extra, {len(want_spans - got_spans)} "
                        f"missing)")
    for g in plan["spans"]:
        run = tokens(g["run"])
        for d in g["docs"]:
            w = toks[d]
            pos = next(i for i in range(len(w)) if w[i:i + len(run)] == run)
            if not any(s <= pos + 1 and e >= pos + len(run) for dd, s, e in got_spans
                       if dd == d):
                problems.append(f"planted span in doc {d} not flagged")
    # decontamination: exact 8-gram overlap with the eval set, complete
    eg = set().union(*(shingles(t, 8) for t in ev.text))
    true_overlap = {d: len(shingles(t, 8) & eg) for d, t in text.items()}
    true_overlap = {d: n for d, n in true_overlap.items() if n}
    if {d: n for d, n in r["decon"]} != true_overlap:
        problems.append(f"decontamination flags differ from the exact 8-gram overlap "
                        f"({len(r['decon'])} vs {len(true_overlap)} docs)")
    missing = set(plan["leaked_docs"]) - set(true_overlap)
    if missing:
        problems.append(f"leaked docs not flagged: {sorted(missing)[:5]}")
    if not r["mixture"] or any(lang not in ("en", "de", "fr", "es") for lang, _, _ in
                               r["mixture"]):
        problems.append("mixture split is empty or holds an unweighted language")
    return problems, {}


def check_ingest(plan, res, work):
    problems = []
    deleted = set()
    for rec, b in zip(res["records"], plan["batches"]):
        deleted |= set(b["deletes"])
        deleted -= {u["doc_id"] for u in b["upserts"]}
        if len(rec["queries"]) != len(b["probes"]):
            problems.append(f"batch {rec['batch']}: {len(rec['queries'])} of "
                            f"{len(b['probes'])} queries answered")
        for q in rec["queries"]:
            docs = [h[0] for h in q["hits"]]
            if q["expect"] == "found" and q["doc_id"] not in docs:
                problems.append(f"batch {rec['batch']}: doc {q['doc_id']} not found by its text")
            if deleted & set(docs):
                problems.append(f"batch {rec['batch']}: deleted doc(s) "
                                f"{sorted(deleted & set(docs))} returned")
            if any(h[1] > 1 + TOL or h[1] < -TOL for h in q["hits"]):
                problems.append(f"batch {rec['batch']}: score outside [0, 1]")
    return problems, {}


def normalize(df):
    """The oracle compare's normalisation: columns by name, timestamps to
    microseconds, objects as strings, rows sorted by every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif str(df[c].dtype) == "object":
            df[c] = df[c].apply(lambda v: str(v))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frames_differ(got, exp):
    g, x = normalize(got), normalize(exp)
    if list(g.columns) != list(x.columns):
        return f"columns {list(g.columns)} vs oracle {list(x.columns)}"
    if len(g) != len(x):
        return f"{len(g)} rows vs oracle {len(x)}"
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), x[c].tolist())):
            same = (isinstance(a, float) and isinstance(b, float) and
                    math.isnan(a) and math.isnan(b)) or a == b
            if not same:
                return f"column {c} row {i}: {a!r} vs oracle {b!r}"
    return None


def check_analytics(plan, res, work, results=None):
    problems = []
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)
    for name in sorted(oracle):
        got = results[name] if results else pd.read_parquet(os.path.join(out, "results", name))
        why = frames_differ(got, con.execute(oracle[name]).fetchdf())
        if why:
            problems.append(f"{name}: {why}")
    return problems, {}


def check_serve_all(plan, res, work, results=None):
    problems, extra = check_serve(plan, res, work)
    return problems + check_analytics(plan, res, work, results)[0], extra


def check_ingest_all(plan, res, work, results=None):
    return check_ingest(plan, res, work)[0] + check_curate(plan, res, work)[0], {}


CHECKS = {"serve": check_serve_all, "ingest": check_ingest_all}


def check(workload, plan, res, work):
    problems, extra = CHECKS[workload](plan, res, work)
    return {"ok": not problems, "problems": problems, **extra}


def corruptions(workload, plan, res, work):
    """(name, corrupted result copy or analytics frames) for the self-test."""
    out = []

    def mutated(fn):
        r = copy.deepcopy(res)
        fn(r)
        return r
    recs = res["records"]
    if workload == "serve":
        def first(kind):
            return next(i for i, r in enumerate(recs) if r["kind"] == kind)
        for kind in ("knn", "ivf", "bm25", "hybrid"):
            i = first(kind)
            out.append((f"{kind}: dropped hit",
                        mutated(lambda r, i=i: r["records"][i]["hits"].pop())))
            col = 3 if kind == "hybrid" else 1
            out.append((f"{kind}: perturbed score", mutated(
                lambda r, i=i, c=col: r["records"][i]["hits"][0].__setitem__(
                    c, r["records"][i]["hits"][0][c] + 1e-4))))
        i = first("knn")
        out.append(("knn: swapped in a non-top hit", mutated(
            lambda r, i=i: r["records"][i]["hits"].__setitem__(
                -1, [r["records"][first("ivfpq")]["hits"][-1][0], r["records"][i]["hits"][-1][1]]))))
        i = first("hybrid")
        out.append(("hybrid: wrong source attributed", mutated(
            lambda r, i=i: r["records"][i]["attached"][0].__setitem__(3, "src-wrong"))))
        out.append(("hybrid: packed past the token budget", mutated(
            lambda r, i=i: r["records"][i]["packed"].append(["x", "y" * 4000, 0.0]))))
        out.append(("ivf/ivfpq: every probe returns nothing", mutated(lambda r: [
            rec["hits"].clear() for rec in r["records"] if rec["kind"] in ("ivf", "ivfpq")])))
        i = first("ivfpq")
        out.append(("ivfpq: hits out of score order", mutated(
            lambda r, i=i: r["records"][i]["hits"].reverse())))
    if workload == "ingest":
        out.append(("dedup: pair below threshold", mutated(
            lambda r: r["curation"]["pairs"].append([0, 1, 0.9]))))
        out.append(("dedup: planted pairs dropped", mutated(
            lambda r: r["curation"].__setitem__("pairs", r["curation"]["pairs"][:5]))))
        out.append(("dedup: exact group row missing", mutated(
            lambda r: r["curation"]["exact"].pop())))
        out.append(("clusters: member moved", mutated(
            lambda r: r["curation"]["clusters"][0].__setitem__(1, -1))))
        out.append(("spans: span row missing", mutated(
            lambda r: r["curation"]["spans"].pop())))
        out.append(("spans: span widened", mutated(
            lambda r: r["curation"]["spans"][0].__setitem__(2, r["curation"]["spans"][0][2] + 40))))
        out.append(("decon: overlap count off", mutated(
            lambda r: r["curation"]["decon"][0].__setitem__(1, r["curation"]["decon"][0][1] + 1))))
        gone = sorted({d for b in plan["batches"][:len(recs)] for d in b["deletes"]})
        out.append(("fresh doc missing from its own query", mutated(
            lambda r: r["records"][0]["queries"][0].__setitem__("hits", []))))
        out.append(("deleted doc returned", mutated(
            lambda r: r["records"][-1]["queries"][0]["hits"].append([gone[0], 0.5]))))
    if workload == "serve":
        out_dir = os.path.join(work, "out", "results")
        names = sorted(os.listdir(out_dir))
        frames = {n: pd.read_parquet(os.path.join(out_dir, n)) for n in names}
        n0 = next(n for n in names if len(frames[n]) > 1)
        f = dict(frames)
        f[n0] = frames[n0].iloc[1:]
        out.append((f"{n0}: missing row", ("results", f)))
        def numeric(n):
            return [c for c, t in frames[n].dtypes.items()
                    if str(t).startswith(("float", "int"))] if len(frames[n]) else []
        num = next(n for n in names if numeric(n))
        c = numeric(num)[0]
        g = dict(frames)
        g[num] = frames[num].copy()
        g[num].loc[g[num].index[0], c] = g[num][c].iloc[0] + 1
        out.append((f"{num}: perturbed value", ("results", g)))
    return out


def selftest(workload, plan, res, work):
    ok = True
    for name, bad in corruptions(workload, plan, res, work):
        if isinstance(bad, tuple):
            problems, _ = CHECKS[workload](plan, res, work, results=bad[1])
        else:
            problems, _ = CHECKS[workload](plan, bad, work)
        rejected = bool(problems)
        ok = ok and rejected
        print(f"[perfbench] self-test {workload}: {name}: "
              f"{'rejected' if rejected else 'NOT REJECTED'}", file=sys.stderr)
    return ok
