"""Seeded input generator and independent ground truth for the graft benchmark.

graft only ever sees the parquet files written under `<dir>/inputs`; the
ground truth under `<dir>/truth.npz` is computed here with numpy and DuckDB
and never with graft.

    python3 perfbench/gen.py --workload ann-serve --seed 7 --out perfbench/.scratch/example
"""
import argparse
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 32
K = 10
DENSITY = 256

# Input sizes per workload. `store` is the number of vectors the index is
# built over, `queries` the distinct query vectors the run cycles through.
SIZES = {
    "ann-serve": dict(store=12000, clusters=48, queries=80, exact=16),
    "ann-upsert": dict(store=6000, clusters=24, rounds=24, new=200, updated=200,
                       deleted=200, self_queries=4, probe_queries=4),
    "dedup": dict(docs=3000, planted=150, vocab=20000, min_len=80, max_len=200),
}

# Filters carried by a share of the single ann-serve queries, with the share of
# records each admits ("bucket" is uniform on 0..99).
FILTERS = [("bucket < 10", 0.10), ("bucket < 50", 0.50)]
FILTERED_SHARE = 0.3

# Word-substitution rates of the planted near-duplicates. Every planted
# cluster holds a base document, which takes the cluster's smallest id, and
# one near-copy of it at each rate, so every seed yields the same cluster
# shapes and duplicateGroups converges in the same number of rounds.
EDIT_RATES = (0.01, 0.02, 0.03, 0.05)
SHINGLE = 3
PERMS, BANDS = 16, 8
# MinHash LSH with BANDS bands of PERMS/BANDS rows collides half-way near
# (1/BANDS)^(BANDS/PERMS): the similarity the banding is designed for.
DESIGN_SIMILARITY = (1.0 / BANDS) ** (BANDS / PERMS)
LSH_THRESHOLD = 0.5


def vec_array(mat):
    mat = np.ascontiguousarray(mat, dtype=np.float32)
    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1)))


def meta_array(buckets, tags):
    keys, vals = [], []
    for b, t in zip(buckets, tags):
        keys += ["bucket", "tag"]
        vals += [str(int(b)), t]
    offsets = pa.array(np.arange(0, 2 * len(buckets) + 1, 2, dtype=np.int32))
    return pa.MapArray.from_arrays(offsets, pa.array(keys), pa.array(vals))


def write_records(path, ids, vecs, buckets, tags):
    cols = {"id": pa.array(ids, pa.int64()), "embedding": vec_array(vecs),
            "metadata": meta_array(buckets, tags)}
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "part-00000.parquet"))


def clustered(rng, n, clusters):
    """`n` vectors around `clusters` centres of uneven size; returns the
    vectors, the centres and the generating cluster of each vector."""
    centres = rng.normal(0.0, 1.0, (clusters, DIM)).astype(np.float32)
    weights = rng.gamma(2.0, 1.0, clusters)
    member = rng.choice(clusters, size=n, p=weights / weights.sum())
    vecs = centres[member] + rng.normal(0.0, 0.35, (n, DIM)).astype(np.float32)
    return vecs.astype(np.float32), centres, member


def skewed_queries(rng, centres, n):
    """Queries near the centres, with clusters drawn Zipf-like so a few
    clusters take most of the traffic."""
    rank = rng.permutation(len(centres))
    p = 1.0 / np.arange(1, len(centres) + 1) ** 1.1
    pick = rank[rng.choice(len(centres), size=n, p=p / p.sum())]
    q = centres[pick] + rng.normal(0.0, 0.35, (n, DIM)).astype(np.float32)
    return q.astype(np.float32)


def exact_topk(queries, vecs, ids, admit=None, k=K):
    """Exact top-k per query under squared L2: ascending distance, ties to
    the smaller id. A float64 shortlist by the expanded form is re-ranked
    with distances summed from the float32 inputs, as graft's kernel does.
    `admit[i]`, when given, masks the records query i may return; rows with
    fewer than k admitted records are padded with id -1."""
    v64 = vecs.astype(np.float64)
    norms = (v64 ** 2).sum(axis=1)
    q64 = queries.astype(np.float64)
    out_ids = np.full((len(queries), k), -1, np.int64)
    out_d = np.full((len(queries), k), np.inf)
    for lo in range(0, len(queries), 128):
        approx = norms[None, :] - 2.0 * (q64[lo:lo + 128] @ v64.T)
        for i, row in enumerate(approx, start=lo):
            keep = None if admit is None or admit[i] is None else np.flatnonzero(admit[i])
            cand = row if keep is None else row[keep]
            m = min(k + 16, len(cand))
            short = np.argpartition(cand, m - 1)[:m]
            short = short if keep is None else keep[short]
            d = ((v64[short] - q64[i]) ** 2).sum(axis=1)
            order = np.lexsort((ids[short], d))[:k]
            out_ids[i, :len(order)] = ids[short][order]
            out_d[i, :len(order)] = d[order]
    return out_ids, out_d


def admits(buckets, flt):
    """Records a FilterDsl string admits, evaluated with DuckDB over the
    generated metadata rather than with graft."""
    if not flt:
        return None
    con = duckdb.connect()
    con.register("m", pa.table({"bucket": pa.array(buckets, pa.int64())}))
    return con.execute(f"SELECT ({flt}) AS a FROM m").fetchnumpy()["a"].astype(bool)


def gen_ann_serve(rng, out):
    s = SIZES["ann-serve"]
    vecs, centres, _ = clustered(rng, s["store"], s["clusters"])
    ids = rng.permutation(np.arange(1, 4 * s["store"]))[:s["store"]].astype(np.int64)
    buckets = rng.integers(0, 100, s["store"])
    tags = rng.choice(["red", "green", "blue", "amber"], s["store"])
    write_records(f"{out}/inputs/records", ids, vecs, buckets, tags)
    q = skewed_queries(rng, centres, s["queries"])
    # Single queries carry a filter on a share of them; batch queries none.
    flt = np.array([""] * s["queries"], dtype=object)
    shared = rng.random(s["queries"]) < FILTERED_SHARE
    flt[shared] = rng.choice([f for f, _ in FILTERS], int(shared.sum()))
    pq.write_table(pa.table({"query_id": pa.array(np.arange(s["queries"]), pa.int32()),
                             "qvec": vec_array(q), "filter": pa.array(list(flt), pa.string()),
                             "exact": pa.array(np.arange(s["queries"]) < s["exact"])}),
                   f"{out}/inputs/queries.parquet")
    cache = {f: admits(buckets, f) for f in set(flt)}
    t_ids, _ = exact_topk(q, vecs, ids)
    f_ids, _ = exact_topk(q, vecs, ids, [cache[f] for f in flt])
    np.savez(f"{out}/truth.npz", ids=ids, vecs=vecs, buckets=buckets, queries=q,
             filters=flt.astype(str), top_ids=t_ids, filtered_top_ids=f_ids,
             exact=np.array(s["exact"]))


def gen_ann_upsert(rng, out):
    s = SIZES["ann-upsert"]
    vecs, centres, _ = clustered(rng, s["store"], s["clusters"])
    next_id = s["store"] + 1
    ids = np.arange(1, next_id, dtype=np.int64)
    write_records(f"{out}/inputs/store", ids, vecs, rng.integers(0, 100, len(ids)),
                  rng.choice(["red", "green"], len(ids)))
    live = set(ids.tolist())
    rows = []  # (round, seq, id, op, vec)
    expected, self_q, probe_q, dead_sets = [], [], [], []
    dead = set()
    seq = 0
    for r in range(1, s["rounds"] + 1):
        pool = np.array(sorted(live))
        picked = rng.choice(pool, s["updated"] + s["deleted"], replace=False)
        updated, deleted = picked[:s["updated"]], picked[s["updated"]:]
        new = np.arange(next_id, next_id + s["new"], dtype=np.int64)
        next_id += s["new"]
        upserts = np.concatenate([new, updated])
        uvecs = skewed_queries(rng, centres, len(upserts))
        for i, v in zip(upserts, uvecs):
            seq += 1
            rows.append((r, seq, int(i), "upsert", v))
        for i in deleted:
            seq += 1
            rows.append((r, seq, int(i), "delete", None))
        live -= set(deleted.tolist())
        live |= set(upserts.tolist())
        dead |= set(deleted.tolist())
        sel = rng.choice(len(upserts), s["self_queries"], replace=False)
        self_q.append((upserts[sel], uvecs[sel]))
        probe_q.append(skewed_queries(rng, centres, s["probe_queries"]))
        expected.append(np.array(sorted(live), np.int64))
        dead_sets.append(np.array(sorted(dead), np.int64))
    zero = np.zeros(DIM, np.float32)
    chg = pa.table({
        "round": pa.array([r for r, *_ in rows], pa.int32()),
        "seq": pa.array([q for _, q, *_ in rows], pa.int64()),
        "id": pa.array([i for _, _, i, *_ in rows], pa.int64()),
        "op": pa.array([o for *_, o, _ in rows], pa.string()),
        "embedding": vec_array(np.stack([zero if v is None else v for *_, v in rows])),
        "metadata": meta_array([0] * len(rows), ["new"] * len(rows)),
    })
    # Deletes carry no payload.
    emb = chg.column("embedding").combine_chunks()
    mask = pa.array([o == "delete" for *_, o, _ in rows])
    chg = chg.set_column(4, "embedding", pa.ListArray.from_arrays(
        emb.offsets, emb.values, mask=mask))
    for r in range(1, s["rounds"] + 1):
        part = chg.filter(pa.compute.equal(chg.column("round"), r)).drop_columns(["round"])
        os.makedirs(f"{out}/inputs/changes/round={r}", exist_ok=True)
        pq.write_table(part, f"{out}/inputs/changes/round={r}/part-00000.parquet")
    # Expected store after each round, recomputed with DuckDB from the change
    # log alone: the last change per id wins, deletes remove.
    con = duckdb.connect()
    con.register("chg", chg.select(["round", "seq", "id", "op"]))
    con.register("base", pa.table({"id": pa.array(ids)}))
    for r in range(1, s["rounds"] + 1):
        got = con.execute(f"""
            WITH last AS (SELECT id, arg_max(op, seq) AS op FROM chg WHERE round <= {r} GROUP BY id)
            SELECT id FROM base WHERE id NOT IN (SELECT id FROM last)
            UNION ALL SELECT id FROM last WHERE op = 'upsert' ORDER BY id""").fetchnumpy()["id"]
        assert np.array_equal(got, expected[r - 1]), "change-log replay disagrees with DuckDB"
    np.savez(f"{out}/truth.npz", self_ids=np.stack([i for i, _ in self_q]),
             **{f"expected_{r + 1}": e for r, e in enumerate(expected)},
             **{f"dead_{r + 1}": d for r, d in enumerate(dead_sets)})
    qv = np.stack([np.concatenate([self_q[r][1], probe_q[r]]) for r in range(s["rounds"])])
    pq.write_table(pa.table({
        "round": pa.array(np.repeat(np.arange(1, s["rounds"] + 1), qv.shape[1]), pa.int32()),
        "query_id": pa.array(np.tile(np.arange(qv.shape[1]), s["rounds"]), pa.int32()),
        "qvec": vec_array(qv.reshape(-1, DIM))}), f"{out}/inputs/queries.parquet")


def shingles(tokens):
    return {tuple(tokens[i:i + SHINGLE]) for i in range(len(tokens) - SHINGLE + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def gen_dedup(rng, out):
    s = SIZES["dedup"]
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(sorted({"".join(rng.choice(letters, rng.integers(3, 10)))
                             for _ in range(s["vocab"] * 2)}))[:s["vocab"]]
    vocab = rng.permutation(vocab)

    def doc():
        return list(rng.choice(vocab, rng.integers(s["min_len"], s["max_len"] + 1)))

    docs, cluster, is_base = [], [], []
    for c in range(s["planted"]):
        base = doc()
        docs.append(base)
        cluster.append(c)
        is_base.append(True)
        for rate in EDIT_RATES:
            v = list(base)
            for pos in np.flatnonzero(rng.random(len(v)) < rate):
                v[pos] = vocab[rng.integers(len(vocab))]
            docs.append(v)
            cluster.append(c)
            is_base.append(False)
    while len(docs) < s["docs"]:
        docs.append(doc())
        cluster.append(len(docs) + s["planted"])
        is_base.append(True)
    order = rng.permutation(len(docs))
    # Ids follow the shuffled order, except that each base swaps places
    # with the first member of its cluster.
    first = {}
    for pos, i in enumerate(order):
        first.setdefault(cluster[i], pos)
    for pos, i in enumerate(order):
        if is_base[i] and first[cluster[i]] != pos:
            j = first[cluster[i]]
            order[pos], order[j] = order[j], order[pos]
    doc_ids = np.arange(1, len(docs) + 1, dtype=np.int64)
    docs = [docs[i] for i in order]
    cluster = np.array([cluster[i] for i in order], np.int64)
    pq.write_table(pa.table({"doc_id": pa.array(doc_ids),
                             "text": pa.array([" ".join(d) for d in docs])}),
                   f"{out}/inputs/documents.parquet")
    pairs, sims = [], []
    for c in np.unique(cluster):
        members = np.flatnonzero(cluster == c)
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i], members[j]
                pairs.append((doc_ids[a], doc_ids[b]))
                sims.append(jaccard(docs[a], docs[b]))
    np.savez(f"{out}/truth.npz", doc_ids=doc_ids, cluster=cluster,
             pairs=np.array(pairs, np.int64).reshape(-1, 2), sims=np.array(sims),
             recall_from=np.array(max(DESIGN_SIMILARITY, LSH_THRESHOLD)))


GENERATORS = {"ann-serve": gen_ann_serve, "ann-upsert": gen_ann_upsert, "dedup": gen_dedup}


def generate(workload, seed, out):
    os.makedirs(f"{out}/inputs", exist_ok=True)
    GENERATORS[workload](np.random.default_rng([seed, sorted(GENERATORS).index(workload)]), out)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)
