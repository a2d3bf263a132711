#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the tables a workload reads into an output directory, plus a
`manifest.json` that records every generator argument, the generated
sizes and a content hash. The same seed and arguments give byte-identical
files, so the hash in the manifest identifies the input exactly.

    python3 perfbench/gen.py --set orders,docs --seed 7 --out /tmp/in

Sets:
  orders   events.parquet + order_topic.jsonl (the wire `order` topic)
  docs     documents.parquet
  vectors  embeddings.parquet

The table schemas are the engine's (`graft.Tables`): `events`,
`documents`, `embeddings`. On `events`, `user_id` plays the order id,
`signup` plays `order.placed` and `purchase` plays `order.fulfilled`.
"""
import argparse
import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
NOISE_TYPES = np.array(["view", "click", "error"])
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def add_args(p):
    o = p.add_argument_group("orders")
    o.add_argument("--orders", type=int, default=20000, help="order count")
    o.add_argument("--unpaired-frac", type=float, default=0.1,
                   help="share of orders that have only one half")
    o.add_argument("--dup-frac", type=float, default=0.02,
                   help="share of order events delivered twice")
    o.add_argument("--malformed-frac", type=float, default=0.01,
                   help="share of wire records that are malformed")
    o.add_argument("--noise-frac", type=float, default=0.25,
                   help="share of events that are not order halves")
    o.add_argument("--span-s", type=float, default=6 * 3600,
                   help="placement times spread uniformly over this span")
    o.add_argument("--gap-min-s", type=float, default=1.0,
                   help="fulfilment gap, log-uniform lower end")
    o.add_argument("--gap-max-s", type=float, default=3600.0,
                   help="fulfilment gap, log-uniform upper end")
    o.add_argument("--shuffle-s", type=float, default=30.0,
                   help="arrival order is event time plus U(0, shuffle-s)")
    o.add_argument("--early-frac", type=float, default=0.05,
                   help="share of paired orders whose fulfilled half "
                        "arrives before the placed half")
    d = p.add_argument_group("docs")
    d.add_argument("--docs", type=int, default=1000, help="document count")
    d.add_argument("--doc-words-min", type=int, default=8)
    d.add_argument("--doc-words-max", type=int, default=60)
    d.add_argument("--exact-dup-frac", type=float, default=0.05)
    d.add_argument("--near-dup-frac", type=float, default=0.08,
                   help="copies of an earlier document with 1-3 words mutated")
    d.add_argument("--shared-span-frac", type=float, default=0.08,
                   help="documents that embed a 12-20 word span of an "
                        "earlier document")
    d.add_argument("--vocab", type=int, default=2000, help="vocabulary size")
    v = p.add_argument_group("vectors")
    v.add_argument("--vectors", type=int, default=2000, help="vector count")
    v.add_argument("--dim", type=int, default=64,
                   help="embedding dimension (the engine's schema is 64)")
    v.add_argument("--clusters", type=int, default=10)
    v.add_argument("--spread", type=float, default=0.5,
                   help="within-cluster noise norm relative to the centre")


def gen_orders(rng, a):
    n = a.orders
    placed = EPOCH_US + (rng.random(n) * a.span_s * 1e6).astype(np.int64)
    lo, hi = math.log(a.gap_min_s), math.log(a.gap_max_s)
    gap = np.exp(lo + rng.random(n) * (hi - lo))
    fulfilled = placed + (gap * 1e6).astype(np.int64)
    unpaired = rng.random(n) < a.unpaired_frac
    keep_placed = ~unpaired | (rng.random(n) < 0.5)
    keep_fulfilled = ~unpaired | ~keep_placed
    ids = np.arange(n, dtype=np.int64)

    user = np.concatenate([ids[keep_placed], ids[keep_fulfilled]])
    ts = np.concatenate([placed[keep_placed], fulfilled[keep_fulfilled]])
    etype = np.concatenate([np.full(keep_placed.sum(), "signup"),
                            np.full(keep_fulfilled.sum(), "purchase")])
    dup = rng.random(len(user)) < a.dup_frac
    user = np.concatenate([user, user[dup]])
    ts = np.concatenate([ts, ts[dup]])
    etype = np.concatenate([etype, etype[dup]])

    n_noise = int(round(len(user) * a.noise_frac / (1 - a.noise_frac)))
    user = np.concatenate([user, rng.integers(0, n, n_noise)])
    ts = np.concatenate([ts, EPOCH_US + (rng.random(n_noise) * a.span_s * 1e6)
                         .astype(np.int64)])
    etype = np.concatenate([etype, NOISE_TYPES[rng.integers(0, 3, n_noise)]])

    # arrival order: event time plus a bounded delay; then a share of
    # paired orders has its fulfilled half overtake the placed half
    arrival = ts + (rng.random(len(ts)) * a.shuffle_s * 1e6).astype(np.int64)
    first_p = {}
    first_f = {}
    for i in range(len(user)):
        t = etype[i]
        if t == "signup":
            first_p.setdefault(user[i], i)
        elif t == "purchase":
            first_f.setdefault(user[i], i)
    paired = [u for u in first_p if u in first_f]
    paired.sort()
    n_early = int(round(len(paired) * a.early_frac))
    early = rng.choice(len(paired), n_early, replace=False) if n_early else []
    for k in early:
        u = paired[k]
        i, j = first_p[u], first_f[u]
        arrival[i], arrival[j] = max(arrival[i], arrival[j]) + 1, \
            min(arrival[i], arrival[j])
    order = np.lexsort((np.arange(len(ts)), arrival))
    user, ts, etype = user[order], ts[order], etype[order]

    m = len(user)
    value = np.round(rng.random(m) * 200.0, 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, m)
                                    .astype(str)), "}")
    events = pa.table({
        "event_id": pa.array(np.arange(m, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(etype.astype(object), type=pa.string()),
        "value": pa.array(value),
        "props": pa.array(props.astype(object), type=pa.string()),
    })

    wire = (etype == "signup") | (etype == "purchase")
    lines = []
    for u, t, e in zip(user[wire], ts[wire], etype[wire]):
        lines.append(json.dumps({
            "event.type": "order.placed" if e == "signup" else "order.fulfilled",
            "event.timestamp": int(t // 1000),
            "facility.id": str(int(u) % 10),
            "order.id": str(int(u))}, separators=(",", ":")))
    n_bad = int(round(len(lines) * a.malformed_frac))
    bad_kinds = ["not json at all", '{"facility.id":"3","order.id":"17"}',
                 '{"event.type":', "[1, 2"]
    slots = np.sort(rng.choice(len(lines) + n_bad, n_bad, replace=False))
    out, src, b = [], iter(lines), 0
    for i in range(len(lines) + n_bad):
        if b < n_bad and slots[b] == i:
            out.append(bad_kinds[b % len(bad_kinds)])
            b += 1
        else:
            out.append(next(src))
    sizes = {
        "orders": n, "events": m, "order_halves": int(wire.sum()),
        "paired_orders": len(paired), "early_arrivals": n_early,
        "duplicates": int(dup.sum()), "noise_events": n_noise,
        "wire_records": len(out), "malformed_records": n_bad,
    }
    return {"events.parquet": events, "order_topic.jsonl": out}, sizes


def gen_docs(rng, a):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab, seen = [], set()
    while len(vocab) < a.vocab:
        w = "".join(letters[rng.integers(0, 26, rng.integers(2, 10))])
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    vocab = np.array(vocab)
    p = 1.0 / np.arange(1, a.vocab + 1) ** 1.05
    p /= p.sum()
    docs, kinds = [], {"exact": 0, "near": 0, "span": 0}
    for i in range(a.docs):
        r = rng.random()
        if i > 0 and r < a.exact_dup_frac:
            words = list(docs[rng.integers(0, i)])
            kinds["exact"] += 1
        elif i > 0 and r < a.exact_dup_frac + a.near_dup_frac:
            words = list(docs[rng.integers(0, i)])
            for _ in range(rng.integers(1, 4)):
                words[rng.integers(0, len(words))] = vocab[
                    rng.choice(a.vocab, p=p)]
            kinds["near"] += 1
        else:
            k = rng.integers(a.doc_words_min, a.doc_words_max + 1)
            words = list(vocab[rng.choice(a.vocab, k, p=p)])
            if i > 0 and r < (a.exact_dup_frac + a.near_dup_frac
                              + a.shared_span_frac):
                src = docs[rng.integers(0, i)]
                ln = min(len(src), int(rng.integers(12, 21)))
                at = rng.integers(0, len(src) - ln + 1)
                pos = rng.integers(0, len(words) + 1)
                words[pos:pos] = src[at:at + ln]
                kinds["span"] += 1
        docs.append(words)
    texts = [" ".join(w) for w in docs]
    table = pa.table({
        "doc_id": pa.array(np.arange(a.docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(LANGS[rng.choice(5, a.docs, p=LANG_P)].astype(object),
                         type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(a.docs)],
                           type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    sizes = {"documents": a.docs, "vocab": a.vocab,
             "exact_dups": kinds["exact"], "near_dups": kinds["near"],
             "shared_spans": kinds["span"],
             "chars": int(sum(len(t) for t in texts))}
    return {"documents.parquet": table}, sizes


def gen_vectors(rng, a):
    centers = rng.standard_normal((a.clusters, a.dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, a.clusters, a.vectors)
    x = centers[label] + a.spread * rng.standard_normal((a.vectors, a.dim)) \
        / math.sqrt(a.dim)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, a.vectors * a.dim + 1, a.dim, dtype=np.int32)),
        pa.array(x.reshape(-1), type=pa.float32()))
    table = pa.table({
        "vec_id": pa.array(np.arange(a.vectors, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(label.astype(np.int32)),
    })
    sizes = {"vectors": a.vectors, "dim": a.dim, "clusters": a.clusters}
    return {"embeddings.parquet": table}, sizes


SETS = {"orders": gen_orders, "docs": gen_docs, "vectors": gen_vectors}


def write(out, files):
    os.makedirs(out, exist_ok=True)
    for name, data in files.items():
        path = os.path.join(out, name)
        if isinstance(data, pa.Table):
            pq.write_table(data, path, compression="snappy",
                           row_group_size=1 << 20)
        else:
            with open(path, "w") as f:
                f.write("\n".join(data) + "\n")


def content_hash(out, names):
    h = hashlib.sha256()
    for name in sorted(names):
        h.update(name.encode())
        with open(os.path.join(out, name), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("--set", required=True,
                   help="comma-separated: " + ", ".join(sorted(SETS)))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    add_args(p)
    a = p.parse_args()
    files, sizes = {}, {}
    for name in a.set.split(","):
        stream = sorted(SETS).index(name)
        f, sz = SETS[name](np.random.default_rng([GENERATOR_VERSION, a.seed, stream]), a)
        files.update(f)
        sizes.update(sz)
    write(a.out, files)
    manifest = {
        "generator_version": GENERATOR_VERSION,
        "set": a.set,
        "seed": a.seed,
        "args": {k: v for k, v in vars(a).items() if k not in ("out",)},
        "sizes": sizes,
        "files": sorted(files),
        "content_sha256": content_hash(a.out, files),
    }
    with open(os.path.join(a.out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    m = main()
    print(json.dumps({"content_sha256": m["content_sha256"], "sizes": m["sizes"]}))
