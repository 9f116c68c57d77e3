"""Seeded input generator. Writes every input a workload feeds the program
(parquet blobs, corpora, CDC batches, query lists) plus meta.json, which
records the traffic dimensions and the expectations the checks use.
The same seed gives the same inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes (one place, so a change to the benchmark is visible here)
CDC_BOOT = dict(seed_rows=100_000, blob_frac=0.01, blobs=36)
CDC_CATALOG = dict(seed_rows=100_000, blob_rows=40, blobs=90)
UPDATE_SHARE, DUP_SHARE, KEY_SKEW = 0.85, 0.05, 1.3
SEARCH = dict(docs=5000, vocab=3000, vectors=2000, dim=32, cells=16, probes=8, batches=80,
              updates=20, inserts=10, deletes=5, serves_per_write=10, clients=8,
              stream_len=4000, mix=(("bm25", 0.4), ("phrase", 0.3), ("ann", 0.3)))
CURATE = dict(docs=3000, dup_clusters=50, near_dups=50, contaminated=40, low_quality=100,
              repetitive=60, spanish=60, bench_passages=40, token_budget=2048,
              min_quality=0.6, max_dup3=0.3)
SEED_MTIME_MS = 1_700_000_000_000


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def _words(rng, n, prefix=""):
    syl = np.array(["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "ve", "za", "bri", "dor",
                    "fen", "gul", "hat", "jin", "kor", "lem", "mos", "nix"])
    out, seen = [], set()
    while len(out) < n:
        w = prefix + "".join(rng.choice(syl, rng.integers(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out)


# ------------------------------------------------------------------ cdc
def _unique_in_order(a):
    _, idx = np.unique(a, return_index=True)
    return a[np.sort(idx)]


def _lineitem(rng, comments, keys, version):
    n = len(keys)
    return pa.table({
        "l_orderkey": pa.array(keys // 4 + 1, pa.int64()),
        "l_linenumber": pa.array((keys % 4 + 1).astype(np.int32), pa.int32()),
        "l_partkey": pa.array(rng.integers(1, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1_000, n), pa.int64()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n)),
        "l_shipdate": pa.array((8000 + rng.integers(0, 2500, n)).astype(np.int32), pa.int32()).cast(pa.date32()),
        "l_comment": pa.array(comments[rng.integers(0, len(comments), n)]),
        "l_version": pa.array(np.full(n, version, np.int64)),
    })


def cdc(out, seed, boot):
    p = CDC_BOOT if boot else CDC_CATALOG
    rng = np.random.default_rng(seed)
    vocab = _words(rng, 400)
    comments = np.array([" ".join(rng.choice(vocab, rng.integers(3, 7))) for _ in range(5000)])
    n = p["seed_rows"]
    seed_tab = _lineitem(rng, comments, np.arange(n), 0)
    _write(seed_tab, f"{out}/seed/seed.parquet")
    cap = n + p["blobs"] * (p.get("blob_rows") or int(n * p["blob_frac"]))
    qty = np.zeros(cap)
    qty[:n] = seed_tab.column("l_quantity").to_numpy()
    present = np.zeros(cap, bool)
    present[:n] = True
    hot = rng.permutation(n)  # key popularity order for the skewed updates
    next_key = n
    blobs = []
    m = p.get("blob_rows") or int(n * p["blob_frac"])
    for k in range(p["blobs"]):
        n_upd = int(round(m * UPDATE_SHARE))
        n_ins = m - n_upd
        ranks = (rng.zipf(KEY_SKEW, 4 * n_upd) - 1) % n
        upd = _unique_in_order(hot[ranks])[:n_upd]
        if len(upd) < n_upd:
            extra = np.setdiff1d(rng.choice(n, 2 * n_upd, replace=False), upd)
            upd = np.concatenate([upd, extra[: n_upd - len(upd)]])
        ins = np.arange(next_key, next_key + n_ins)
        next_key += n_ins
        keys = np.concatenate([upd, ins])
        main = _lineitem(rng, comments, keys, 2 * (k + 1))
        d = max(1, int(round(m * DUP_SHARE)))
        dkeys = rng.choice(keys, d, replace=False)
        dup = _lineitem(rng, comments, dkeys, 2 * (k + 1) + 1)
        for t in (main, dup):
            kk = (t.column("l_orderkey").to_numpy() - 1) * 4 + t.column("l_linenumber").to_numpy() - 1
            qty[kk] = t.column("l_quantity").to_numpy()
            present[kk] = True
        mtime = SEED_MTIME_MS + 10_000 * (k + 1)
        if boot:  # the repeated keys arrive in a second, later file of the landing
            files = [f"blobs/b{k:04d}-a.parquet", f"blobs/b{k:04d}-b.parquet"]
            _write(main, f"{out}/{files[0]}")
            _write(dup, f"{out}/{files[1]}")
            mtimes = [mtime, mtime + 1000]
        else:     # one file; the repeated keys carry a higher l_version
            files = [f"blobs/b{k:04d}.parquet"]
            _write(pa.concat_tables([main, dup]), f"{out}/{files[0]}")
            mtimes = [mtime]
        blobs.append(dict(files=files, mtimes=mtimes, rows=m + d,
                          expect_count=int(present.sum()), expect_qty=float(qty[present].sum())))
    return dict(seed_file="seed/seed.parquet", seed_mtime_ms=SEED_MTIME_MS, seed_rows=n,
                seed_qty=float(qty[:n].sum()), blobs=blobs,
                traffic=dict(seed_rows=n, rows_per_blob=m + max(1, int(round(m * DUP_SHARE))),
                             update_share=UPDATE_SHARE, insert_share=1 - UPDATE_SHARE,
                             duplicate_share=DUP_SHARE, key_skew_zipf=KEY_SKEW))


# --------------------------------------------------------------- search
def search(out, seed):
    s = SEARCH
    rng = np.random.default_rng(seed)
    vocab = _words(rng, s["vocab"])
    w = 1.0 / np.arange(1, s["vocab"] + 1) ** 1.1
    w /= w.sum()

    def doc():
        return " ".join(vocab[rng.choice(s["vocab"], rng.integers(20, 80), p=w)])

    corpus = {i: doc() for i in range(s["docs"])}
    _write(pa.table({"doc_id": pa.array(list(corpus), pa.int64()),
                     "text": pa.array(list(corpus.values()))}), f"{out}/search/docs.parquet")
    centers = rng.normal(size=(s["cells"], s["dim"]))
    lab = rng.integers(0, s["cells"], s["vectors"])
    vecs = (centers[lab] + 0.35 * rng.normal(size=(s["vectors"], s["dim"]))).astype(np.float32)
    _write(pa.table({"vec_id": pa.array(np.arange(s["vectors"]), pa.int64()),
                     "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}),
           f"{out}/search/emb.parquet")
    plab = rng.integers(0, s["cells"], s["probes"])
    probes = (centers[plab] + 0.35 * rng.normal(size=(s["probes"], s["dim"]))).astype(np.float32)
    _write(pa.table({"probe_id": pa.array(1_000_000 + np.arange(s["probes"]), pa.int64()),
                     "embedding": pa.array(list(probes), pa.list_(pa.float32()))}),
           f"{out}/search/probes.parquet")
    mid = np.arange(20, 400)
    bm25 = [" ".join(vocab[rng.choice(mid, 2, replace=False)]) for _ in range(64)]
    phrase = []
    ids = list(corpus)
    while len(phrase) < 64:
        toks = corpus[ids[rng.integers(0, len(ids))]].split()
        i = rng.integers(0, len(toks) - 1)
        phrase.append(f"{toks[i]} {toks[i + 1]}")
    batches = []
    next_id = s["docs"]
    for b in range(s["batches"]):
        live = np.array(sorted(corpus))
        picked = rng.choice(live, s["updates"] + s["deletes"], replace=False)
        upd, dels = picked[: s["updates"]], picked[s["updates"]:]
        removals = [(int(i), corpus[int(i)]) for i in picked]
        ups = [(int(i), doc()) for i in upd] + [(next_id + j, doc()) for j in range(s["inserts"])]
        next_id += s["inserts"]
        for i in dels:
            del corpus[int(i)]
        for i, t in ups:
            corpus[i] = t
        for name, rows in (("upserts", ups), ("removals", removals)):
            _write(pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                             "text": pa.array([r[1] for r in rows])}), f"{out}/search/cdc/{b:04d}-{name}.parquet")
        batches.append(dict(upserts=f"search/cdc/{b:04d}-upserts.parquet",
                            removals=f"search/cdc/{b:04d}-removals.parquet",
                            rows=len(ups) + len(removals)))
    kinds = [k for k, _ in s["mix"]]
    kp = np.array([p for _, p in s["mix"]])
    sizes = {"bm25": len(bm25), "phrase": len(phrase), "ann": s["probes"]}
    streams = []
    for _ in range(s["clients"]):
        ks = rng.choice(len(kinds), s["stream_len"], p=kp)
        streams.append([[kinds[k], int((rng.zipf(1.5) - 1) % sizes[kinds[k]])] for k in ks])
    return dict(docs_file="search/docs.parquet", emb_file="search/emb.parquet",
                probes_file="search/probes.parquet", bm25=bm25, phrase=phrase,
                check_bm25=bm25[:6], check_phrase=phrase[:6], streams=streams, cdc=batches,
                serves_per_write=s["serves_per_write"], min_recall=0.8,
                traffic=dict(docs=s["docs"], vocab=s["vocab"], vectors=s["vectors"], dim=s["dim"],
                             cdc_updates=s["updates"], cdc_inserts=s["inserts"],
                             cdc_deletes=s["deletes"], serves_per_write=s["serves_per_write"],
                             query_mix=dict(s["mix"]), query_skew_zipf=1.5))


# -------------------------------------------------------------- curate
def curate(out, seed):
    c = CURATE
    rng = np.random.default_rng(seed)
    vocab = _words(rng, 2000)
    stop = np.array(["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"])
    w = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    w /= w.sum()

    def text(lo=40, hi=120):
        n = rng.integers(lo, hi)
        t = vocab[rng.choice(len(vocab), n, p=w)]
        mask = rng.random(n) < 0.25
        t[mask] = rng.choice(stop, mask.sum())
        return list(t)

    docs = [" ".join(text()) for _ in range(c["docs"])]
    base = rng.permutation(c["docs"])
    clusters, near, contaminated = [], [], []
    pos = 0
    for _ in range(c["dup_clusters"]):
        i = int(base[pos]); pos += 1
        members = [i]
        for _ in range(rng.integers(1, 4)):
            docs.append(docs[i]); members.append(len(docs) - 1)
        clusters.append(members)
    for _ in range(c["near_dups"]):
        i = int(base[pos]); pos += 1
        t = docs[i].split()
        for j in rng.choice(len(t), 2, replace=False):
            t[j] = vocab[rng.integers(0, len(vocab))]
        docs.append(" ".join(t)); near.append([i, len(docs) - 1])
    bench_vocab = _words(rng, 300, prefix="q")
    passages = [" ".join(rng.choice(bench_vocab, 20)) for _ in range(c["bench_passages"])]
    for _ in range(c["contaminated"]):
        t = text()
        cut = rng.integers(0, len(t))
        p = passages[rng.integers(0, len(passages))]
        docs.append(" ".join(t[:cut] + [p] + t[cut:])); contaminated.append(len(docs) - 1)
    for _ in range(c["low_quality"]):
        docs.append(" ".join(str(x) for x in rng.integers(0, 10**6, rng.integers(20, 60))) + " !!! ###")
    for _ in range(c["repetitive"]):
        unit = list(vocab[rng.choice(len(vocab), 3)])
        docs.append(" ".join(unit * int(rng.integers(10, 30))))
    es = np.array(["el", "la", "de", "que", "y", "en", "un", "una", "los", "es"])
    for _ in range(c["spanish"]):
        t = text()
        t = [es[rng.integers(0, len(es))] if rng.random() < 0.4 else x for x in t]
        docs.append(" ".join(t))
    _write(pa.table({"doc_id": pa.array(np.arange(len(docs)), pa.int64()), "text": pa.array(docs)}),
           f"{out}/curate/docs.parquet")
    _write(pa.table({"bench_id": pa.array(np.arange(len(passages)), pa.int64()),
                     "text": pa.array(passages)}), f"{out}/curate/bench.parquet")
    n = len(docs)
    return dict(docs_file="curate/docs.parquet", bench_file="curate/bench.parquet",
                token_budget=c["token_budget"], min_quality=c["min_quality"], max_dup3=c["max_dup3"],
                clusters=clusters, near=near, contaminated=contaminated,
                traffic=dict(docs=n, exact_dup_share=sum(len(x) - 1 for x in clusters) / n,
                             near_dup_share=len(near) / n, contaminated_share=len(contaminated) / n,
                             low_quality_share=c["low_quality"] / n, repetitive_share=c["repetitive"] / n,
                             non_english_share=c["spanish"] / n, token_budget=c["token_budget"]))


def generate(workload, out, seed):
    os.makedirs(out, exist_ok=True)
    if workload in ("cdc_boot", "cdc_catalog"):
        meta = cdc(out, seed, workload == "cdc_boot")
    elif workload == "search_mixed":
        meta = search(out, seed)
    else:
        meta = curate(out, seed)
    meta["seed"] = seed
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f)
    return meta
