"""Seeded input generator for the graft benchmark.

Writes one workload's parquet inputs plus `truth.json`, the facts the
generator planted, which the benchmark checks every op's output against.
The same (workload, seed) always gives byte-identical files: numpy's PCG64
stream drives every choice and pyarrow writes without timestamps.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. `qc_plan` is sized so that scans, the rule
# aggregation, the diff shuffle and the parquet writes dominate an op;
# `small_plans` so that per-command fixed cost dominates; `corpus_dedup`
# so that no single pipeline step takes more than half a pass.
SIZES = {
    "qc_plan": {"orders": 100_000},
    "small_plans": {"orders": 1_500, "docs": 800},
    "corpus_dedup": {"docs": 3_000, "heldout": 300, "leaks": 20,
                     "exact_clusters": 90, "near_clusters": 80,
                     "vectors": 1_500, "dims": 16, "queries": 40},
}

STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
LANGS = np.array(["en", "de", "fr", "es", "zh"])
SOURCES = np.array(["web", "books", "code", "news", "forums", "wiki"])
PRICE_BOUND = 1_000_000  # rule `o_totalprice <= 1000000` in plans/qc_plan.json
HELDOUT_ID_BASE = 10_000_000
QUERY_ID_BASE = 10_000_000


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def md5_32(s):
    """graft.functions.Portable.md5Hash32: first 8 md5 hex digits."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def checksum(rows):
    """graft.rules.Fingerprint over already-stringified column tuples."""
    return str(sum(md5_32("|".join(r)) for r in rows))


# ---------------------------------------------------------------- orders


def orders_tables(rng, n):
    """orders + lineitem with planted rule violations and total mismatches.

    Every order's o_totalprice equals its lineitems' exact decimal total
    (as the plan's view computes it, then cast to double) except the
    planted rows, so the diff's expected key set is known exactly.
    """
    keys = np.arange(1, n + 1, dtype=np.int64)
    n_lines = rng.integers(1, 8, size=n)
    per = max(3, n // 500)  # rows per planted set
    picks = rng.choice(n, size=6 * per, replace=False)
    neg_price, bad_status, over_bound, null_prio, mismatch, no_lines = (
        np.sort(picks[i * per:(i + 1) * per]) for i in range(6))
    n_lines[no_lines] = 0
    li_order = np.repeat(keys, n_lines)
    m = len(li_order)
    # Lineitems whose order does not exist: one-sided rows in the diff.
    orphans = np.arange(n + 1, n + 1 + per, dtype=np.int64)
    li_order = np.concatenate([li_order, orphans])
    m_all = len(li_order)
    first = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    line_no = np.concatenate([np.arange(m) - first + 1,
                              np.ones(per, dtype=np.int64)]).astype(np.int32)
    qty = rng.integers(1, 51, size=m_all)
    unit_cents = rng.integers(90_000, 200_000, size=m_all)
    price_cents = qty * unit_cents // 100
    disc = rng.integers(0, 11, size=m_all)  # hundredths
    tax = rng.integers(0, 9, size=m_all)
    micro = price_cents * (100 - disc) * (100 + tax)  # units of 1e-6
    totals_micro = np.bincount(li_order[:m] - 1, weights=micro[:m], minlength=n)
    total = totals_micro / 1e6  # exact ints / 1e6: correctly rounded
    total[no_lines] = rng.integers(1_000, 100_000, size=per) / 100.0
    total[mismatch] += rng.integers(500, 50_000, size=per) / 100.0
    total[neg_price] = -rng.integers(100, 10_000, size=per) / 100.0
    total[over_bound] = PRICE_BOUND + rng.integers(100_000, 90_000_000, size=per) / 100.0
    status = STATUSES[rng.integers(0, 3, size=n)].astype(object)
    status[bad_status] = "X"
    prio = PRIORITIES[rng.integers(0, 5, size=n)].astype(object)
    prio[null_prio] = None
    days = rng.integers(8036, 10591, size=n).astype(np.int32)  # 1992..1998
    orders = pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, n // 10 + 2, size=n).astype(np.int64),
        "o_orderstatus": pa.array(status, pa.string()),
        "o_totalprice": total,
        "o_orderdate": pa.array(days, pa.date32()),
        "o_orderpriority": pa.array(prio, pa.string()),
    })
    lineitem = pa.table({
        "l_orderkey": li_order,
        "l_linenumber": line_no,
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": price_cents / 100.0,
        "l_discount": disc / 100.0,
        "l_tax": tax / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=m_all)]),
        "l_shipdate": pa.array(rng.integers(8036, 10591, size=m_all).astype(np.int32), pa.date32()),
    })
    computed = np.full(n, np.nan)
    has = n_lines > 0
    computed[has] = totals_micro[has] / 1e6
    diff_keys = sorted(
        [int(k) for k, t, c, h in zip(keys, total, computed, has) if not h or t != c]
        + [int(k) for k in orphans])
    truth = {
        "orders_rows": n,
        "lineitem_rows": m_all,
        "rule_invalid": [len(neg_price), len(bad_status), len(over_bound), len(null_prio)],
        "invalid_keys": sorted(int(k) for k in np.concatenate(
            [neg_price, bad_status, over_bound, null_prio]) + 1),
        "over_bound_max": float(total[over_bound].max()),
        "diff_keys": diff_keys,
        "profile": {"o_orderkey": [n, 0, n],
                    "o_orderstatus": [n, 0, 4],
                    "o_orderpriority": [n, len(null_prio), 5]},
        "checksum": checksum((str(k), s) for k, s in zip(keys, status)),
    }
    return orders, lineitem, truth


# ---------------------------------------------------------------- corpus


def vocabulary(rng, size, alphabet, length=(3, 9)):
    words, seen = [], set()
    letters = np.array(list(alphabet))
    while len(words) < size:
        w = "".join(letters[rng.integers(0, len(letters), size=rng.integers(*length))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def word_probs(size):
    # Shifted Zipf: a realistic head of common words, but no 3-word
    # sequence common enough to make shingle postings quadratic.
    p = 1.0 / (np.arange(size) + 10.0)
    return p / p.sum()


def texts(rng, vocab, probs, n, lo, hi):
    lens = rng.integers(lo, hi + 1, size=n)
    idx = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    out, at = [], 0
    for k in lens:
        out.append(" ".join(vocab[idx[at:at + k]]))
        at += k
    return out


def shingles(text, n=3):
    t = text.split(" ")
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def edit_one_word(rng, text, vocab):
    """Replace one word away from the edges: 3-shingle Jaccard >= 0.8 for
    texts of 30+ words (checked by the caller)."""
    t = text.split(" ")
    i = int(rng.integers(3, len(t) - 3))
    t[i] = vocab[int(rng.integers(0, len(vocab)))]
    return " ".join(t)


def documents_table(ids, txt, langs, sources, n_chars=None):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(txt, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array(n_chars if n_chars is not None else [len(t) for t in txt], pa.int64()),
    })


def corpus_tables(rng, cfg):
    """Corpus with planted exact-dup and near-dup clusters, a held-out set
    with planted leaks, and embeddings whose queries have planted twins."""
    vocab = vocabulary(rng, 20_000, "abcdefghijklmnopqrstuvwxyz")
    probs = word_probs(len(vocab))
    n = cfg["docs"]
    base = texts(rng, vocab, probs, n, 30, 80)
    langs = LANGS[rng.integers(0, len(LANGS), size=n)].astype(object)
    sources = SOURCES[rng.integers(0, len(SOURCES), size=n)].astype(object)
    pos = rng.permutation(n)
    e, c = cfg["exact_clusters"], cfg["near_clusters"]
    exact, near = [], []
    at = 0
    for _ in range(e):  # exact copies of one text, 2-4 docs each
        size = int(rng.integers(2, 5))
        members = [int(p) for p in pos[at:at + size]]
        at += size
        for p in members[1:]:
            base[p], langs[p] = base[members[0]], langs[members[0]]
        exact.append(members)
    for _ in range(c):  # one-word edits of one text, 2-5 docs each
        size = int(rng.integers(2, 6))
        members = [int(p) for p in pos[at:at + size]]
        at += size
        root = shingles(base[members[0]])
        used = {base[members[0]]}
        for p in members[1:]:
            while True:
                t = edit_one_word(rng, base[members[0]], vocab)
                if t not in used and jaccard(root, shingles(t)) >= 0.8:
                    break
            used.add(t)
            base[p], langs[p] = t, langs[members[0]]
        near.append(members)
    assert len(set(base)) == n - sum(len(m) - 1 for m in exact), "unplanted duplicate"
    ids = rng.permutation(np.arange(1, n + 1, dtype=np.int64))
    docs = documents_table(ids, base, langs, sources)

    keep_exact = set(int(i) for i in ids)
    for m in exact:
        keep_exact -= set(sorted(int(ids[p]) for p in m)[1:])
    edges, keep = [], set(keep_exact)
    for m in near:
        mids = [int(ids[p]) for p in m]
        sh = {i: shingles(base[p]) for i, p in zip(mids, m)}
        for a in range(len(mids)):
            for b in range(a + 1, len(mids)):
                x, y = sorted((mids[a], mids[b]))
                if jaccard(sh[x], sh[y]) >= 0.8:
                    edges.append([x, y])
        keep -= set(sorted(mids)[1:])

    # Held-out eval set: its own vocabulary (disjoint from the corpus's,
    # so only planted leaks can collide), except the leaks, which are
    # one-word edits of corpus documents.
    h = cfg["heldout"]
    eval_vocab = vocabulary(rng, 5_000, "abcdefghijklmnopqrstuvwxyz0123456789", (5, 9))
    eval_vocab = np.array([w for w in eval_vocab if any(ch.isdigit() for ch in w)], dtype=object)
    held = texts(rng, eval_vocab, word_probs(len(eval_vocab)), h, 30, 80)
    leak_rows = np.sort(rng.choice(h, size=cfg["leaks"], replace=False))
    leak_src = rng.choice(n, size=cfg["leaks"], replace=False)
    for r, s in zip(leak_rows, leak_src):
        held[r] = edit_one_word(rng, base[s], eval_vocab)
    held_ids = HELDOUT_ID_BASE + np.arange(h, dtype=np.int64)
    heldout = documents_table(held_ids, held, LANGS[rng.integers(0, 5, size=h)],
                              SOURCES[rng.integers(0, 6, size=h)])

    # Embeddings: a Gaussian mixture; each query is a corpus vector plus
    # noise far below the neighbour spacing, so its top-1 is that vector.
    v, d, q = cfg["vectors"], cfg["dims"], cfg["queries"]
    centers = rng.normal(size=(16, d))
    vecs = (centers[rng.integers(0, 16, size=v)] + 0.35 * rng.normal(size=(v, d))).astype(np.float32)
    twins = rng.choice(v, size=q, replace=False)
    qvecs = (vecs[twins] + 1e-4 * rng.normal(size=(q, d))).astype(np.float32)
    vec_ids = np.arange(1, v + 1, dtype=np.int64)
    emb_type = pa.list_(pa.float32())
    embeddings = pa.table({"vec_id": vec_ids,
                           "embedding": pa.array(list(vecs), emb_type)})
    queries = pa.table({"vec_id": QUERY_ID_BASE + np.arange(q, dtype=np.int64),
                        "embedding": pa.array(list(qvecs), emb_type)})
    truth = {
        "docs_rows": n, "heldout_rows": h, "vectors_rows": v, "queries_rows": q,
        "exact_kept": len(keep_exact),
        "exact_kept_sum": int(sum(keep_exact)),
        "near_edges": sorted(edges),
        "canonical_ids": sorted(keep),
        "leak_ids": sorted(int(held_ids[r]) for r in leak_rows),
        "knn_twins": {str(QUERY_ID_BASE + i): int(vec_ids[t]) for i, t in enumerate(twins)},
    }
    return {"documents": docs, "heldout": heldout, "embeddings": embeddings,
            "queries": queries}, truth


def small_corpus(rng, n):
    """Tiny corpus for the corpus-QC / refresh / release-gate plans."""
    vocab = vocabulary(rng, 3_000, "abcdefghijklmnopqrstuvwxyz")
    probs = word_probs(len(vocab))
    txt = texts(rng, vocab, probs, n, 20, 70)
    per = max(2, n // 200)
    picks = rng.choice(n, size=4 * per, replace=False)
    dup_src, dup_dst, short, bad_meta = (picks[i * per:(i + 1) * per] for i in range(4))
    sources = SOURCES[rng.integers(0, len(SOURCES), size=n)].astype(object)
    for s, t in zip(dup_src, dup_dst):
        txt[t], sources[t] = txt[s], sources[s]
    for i in short:
        txt[i] = " ".join(txt[i].split(" ")[:3])
    n_chars = [len(t) for t in txt]
    for i in bad_meta:
        n_chars[i] += int(rng.integers(1, 50))
    ids = np.arange(1, n + 1, dtype=np.int64)
    langs = LANGS[rng.integers(0, len(LANGS), size=n)]
    docs = documents_table(ids, txt, langs, sources, n_chars)
    first = {}
    for i, t in zip(ids, txt):
        first.setdefault(t, int(i))
    kept = sorted(first.values())
    truth = {
        "docs_rows": n,
        "distinct_texts": len(kept),
        "short_docs": len(short),
        "meta_mismatch": len(bad_meta),
        "n_sources": len(set(sources)),
        "refreshed_checksum": checksum((str(i), txt[i - 1]) for i in kept),
        "corpus_checksum": checksum((str(i), t) for i, t in zip(ids, txt)),
    }
    return docs, truth


def generate(workload, seed, out):
    rng = np.random.Generator(np.random.PCG64(seed))
    cfg = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    if workload == "qc_plan":
        orders, lineitem, truth = orders_tables(rng, cfg["orders"])
        tables = {"orders": orders, "lineitem": lineitem}
    elif workload == "small_plans":
        orders, lineitem, truth = orders_tables(rng, cfg["orders"])
        docs, dtruth = small_corpus(rng, cfg["docs"])
        truth["corpus"] = dtruth
        tables = {"orders": orders, "lineitem": lineitem, "documents": docs}
    elif workload == "corpus_dedup":
        tables, truth = corpus_tables(rng, cfg)
    else:
        raise SystemExit(f"unknown workload {workload!r}")
    for name, table in tables.items():
        write(table, os.path.join(out, f"{name}.parquet"))
    truth["sizes"] = cfg
    truth["seed"] = seed
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
