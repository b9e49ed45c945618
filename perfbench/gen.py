"""Seeded workload generator for the graft benchmark.

Every input the engine sees is written here, from the seed alone: the same
(workload, seed) pair gives byte-identical files. Nothing is read from outside
the output directory. Sizes of every written file are recorded in
`manifest.json` next to the inputs.

Tables follow the schemas of the engine's test tables (TESTDATA.md): the
`documents` text is drawn from the same 30-word core vocabulary (the LM filter
thresholds of the curation funnel are tuned to it) plus a Zipf tail of rarer
words, so postings lists differ in length from token to token.

Id-range limits the engine relies on:
  - document ids stay below 10,000,000: the curation funnel reserves the
    offsets 10M, 20M, 30M, 50M and 60M for its derived rows;
  - order, part and customer keys, shifted by a seed-derived offset, stay
    inside [0, 2^32), so every seed takes the packed-key triangle path.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORE = ("spark window merge table column vector stream value data small join "
        "filter big group hash customer sort order slow line part fast row "
        "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
DIMS = 64
DOC_ID_LIMIT = 10_000_000
KEY_LIMIT = 2 ** 32
SYLL = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "be", "do", "fu", "go"]

# Workload sizes. Small on purpose: the engine's per-request cost is driver
# planning and job scheduling, so a larger input mostly lengthens set-up.
# `serve` also holds the fact tables its analytic requests read; `maintain`
# holds the initial corpus its set-up curates (`documents`, core vocabulary
# only: the funnel's LM filter thresholds are tuned to it) and the stream
# of micro-batches, whose doc ids start at BATCH_ID0.
SIZES = {
    "serve": dict(docs=1200, replicas=0.0, tail_p=0.06, requests=450,
                  orders=12000, customers=1500, parts=2500),
    "maintain": dict(corpus=150, corpus_replicas=0.15, docs=2400,
                     replicas=0.2, tail_p=0.06, batch=150, redeliver=0.05),
}
BATCH_ID0 = 1_000_000
# one serve round: a request of each kind
KINDS = ["bm25", "knn", "hybrid", "filtered", "q01_pricing_summary",
         "q03_join_revenue", "q04_star_join", "q10_distinct_agg",
         "q151_triangles"]


def tail_vocab(n=400):
    words = []
    for a in SYLL:
        for b in SYLL:
            for c in SYLL:
                words.append(a + b + c)
    rng = np.random.default_rng(12345)  # fixed: the vocabulary is not seeded
    idx = rng.permutation(len(words))[:n]
    return [words[i] for i in sorted(idx)]


def zipf_probs(n, s=1.05):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def make_text(rng, tail, tail_p, n_tok):
    core = rng.integers(0, len(CORE), n_tok)
    use_tail = rng.random(n_tok) < tail_p
    tail_idx = rng.choice(len(tail), n_tok, p=zipf_probs(len(tail)))
    return " ".join(tail[t] if u else CORE[c]
                    for c, u, t in zip(core, use_tail, tail_idx))


def perturb(rng, text, rate=0.08):
    toks = text.split(" ")
    for i in range(len(toks)):
        if rng.random() < rate:
            toks[i] = CORE[int(rng.integers(0, len(CORE)))]
    return " ".join(toks)


def documents(rng, n, replicas, tail_p, id0=0):
    """Base docs plus perturbed copies (near-duplicate clusters), ids from
    `id0`. Copy ids continue after the base ids, so every id stays far
    below the limit."""
    tail = tail_vocab()
    rows = []
    for i in range(n):
        text = make_text(rng, tail, tail_p, int(rng.integers(8, 100)))
        rows.append((id0 + i, text, LANGS[int(rng.choice(5, p=LANG_P))],
                     f"src{int(rng.integers(0, N_SOURCES))}"))
    nxt = id0 + n
    for i in rng.permutation(n)[: int(n * replicas)]:
        for _ in range(int(rng.integers(1, 4))):
            _, text, lang, src = rows[i]
            rows.append((nxt, perturb(rng, text), lang, src))
            nxt += 1
    assert nxt < DOC_ID_LIMIT
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })


def embeddings(rng, doc_ids):
    """One 64-dim vector per document (vec_id = doc_id), around 16 centres,
    so a source filter on documents selects vectors by id."""
    centres = rng.normal(0, 0.15, (16, DIMS))
    label = rng.integers(0, 16, len(doc_ids))
    vec = (centres[label] + rng.normal(0, 0.08, (len(doc_ids), DIMS)))
    vec = vec.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(doc_ids, pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def requests(rng, docs, emb, n):
    """Seeded single-query requests for the serve loop: query tokens drawn
    Zipf-skewed from the index vocabulary (ranked by corpus frequency),
    query vectors drawn from `embeddings` plus noise."""
    counts = {}
    for t in docs.column("text").to_pylist():
        for w in t.split(" "):
            counts[w] = counts.get(w, 0) + 1
    vocab = sorted(counts, key=lambda w: (-counts[w], w))
    p = zipf_probs(len(vocab), 1.0)
    vecs = emb.column("embedding").to_pylist()
    rows = []
    for i in range(n):
        nq = int(rng.integers(1, 4))
        q = " ".join(vocab[j] for j in rng.choice(len(vocab), nq, p=p))
        base = np.asarray(vecs[int(rng.integers(0, len(vecs)))])
        v = (base + rng.normal(0, 0.03, DIMS)).astype(np.float32)
        rows.append((i, KINDS[i % len(KINDS)], q, v,
                     f"src{int(rng.integers(0, N_SOURCES))}"))
    return pa.table({
        "req_id": pa.array([r[0] for r in rows], pa.int64()),
        "kind": pa.array([r[1] for r in rows], pa.string()),
        "query": pa.array([r[2] for r in rows], pa.string()),
        "vec": pa.array([list(r[3]) for r in rows], pa.list_(pa.float32())),
        "source": pa.array([r[4] for r in rows], pa.string()),
    })


def batches(rng, docs, size, redeliver):
    """Micro-batch schedule after the initial corpus (batch 0, loaded by
    the set-up): docs arrive `size` at a time as batches 1, 2, ...; about
    `redeliver` of each batch re-sends docs of earlier batches (same
    content); batch 1 is delivered twice under the same id (a replay)."""
    n = docs.num_rows
    out = []
    sent = []
    for b, lo in enumerate(range(0, n, size), start=1):
        idx = list(range(lo, min(n, lo + size)))
        if sent:
            k = max(1, int(len(idx) * redeliver))
            idx += [int(i) for i in rng.choice(sent, k, replace=False)]
        sent.extend(range(lo, min(n, lo + size)))
        out.append((b, docs.take(pa.array(idx, pa.int64()))))
        if b == 1:
            out.append((b, out[-1][1]))
    return out


def lineitem_orders(rng, seed, orders, customers, parts):
    shift = (seed * 2654435761) % (KEY_LIMIT // 2)
    okey = np.arange(orders, dtype=np.int64) + shift
    ckey = np.arange(customers, dtype=np.int64) + shift
    day = np.datetime64("1992-01-01", "us")
    span = 10 * 365
    odate = day + rng.integers(0, span, orders).astype("timedelta64[D]")
    pri = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                    "5-LOW"])
    o = pa.table({
        "o_orderkey": okey,
        "o_custkey": ckey[rng.integers(0, customers, orders)],
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[
            rng.integers(0, 3, orders)]),
        "o_totalprice": np.round(rng.uniform(900, 500000, orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(pri[rng.integers(0, 5, orders)]),
    })
    lines = rng.integers(1, 8, orders)
    n = int(lines.sum())
    l_ok = np.repeat(okey, lines)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    # skewed part popularity: co-purchase graph with hubs and triangles
    pp = zipf_probs(parts, 0.8)
    l_pk = rng.choice(parts, n, p=pp).astype(np.int64) + shift
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 120, n).astype(
        "timedelta64[D]")
    li = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": l_pk,
        "l_suppkey": rng.integers(0, 1000, n).astype(np.int64),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 5000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    assert int(l_ok.max()) < KEY_LIMIT and int(l_pk.max()) < KEY_LIMIT
    li = li.take(pa.array(rng.permutation(n)))
    o = o.take(pa.array(rng.permutation(orders)))
    cust = pa.table({
        "c_custkey": ckey,
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
        "c_nationkey": rng.integers(0, 25, customers).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, customers), 2),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"])[rng.integers(0, 5, customers)]),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"]),
    })
    return {"lineitem": li, "orders": o, "customer": cust,
            "nation": nation, "region": region}


def _write(tables, out, manifest):
    for name, t in tables.items():
        path = os.path.join(out, name + ".parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(t, path, compression="snappy")
        manifest[name + ".parquet"] = os.path.getsize(path)


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under `out`; returns the
    manifest (file -> bytes)."""
    size = SIZES[workload]
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    manifest = {}
    if workload == "serve":
        docs = documents(rng, size["docs"], size["replicas"], size["tail_p"])
        emb = embeddings(rng, docs.column("doc_id").to_pylist())
        tables = {"documents": docs, "embeddings": emb,
                  "requests": requests(rng, docs, emb, size["requests"])}
        tables.update(lineitem_orders(rng, seed, size["orders"],
                                      size["customers"], size["parts"]))
    else:
        tables = {"documents": documents(rng, size["corpus"],
                                         size["corpus_replicas"], 0.0)}
        docs = documents(rng, size["docs"], size["replicas"], size["tail_p"],
                         id0=BATCH_ID0)
        for i, (b, t) in enumerate(batches(rng, docs, size["batch"],
                                           size["redeliver"])):
            tables[f"batches/{i + 1:04d}_b{b:04d}"] = t
    _write(tables, out, manifest)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
