"""Output checks: graft's answers against the generator's ground truth, or
against properties the method must have. Every check returns a list of
problems; an empty list means the output passed. test_checks.py feeds each
check a corrupted result and shows that it fails.
"""
import json
import math
import os

import numpy as np

import gen

# Mean recall@10 IVF must reach at 32 probes on these clustered stores.
IVF_RECALL_FLOOR = 0.95
# Share of planted pairs at or above both the LSH design similarity and the
# verification threshold that MinHash LSH (16 permutations, 8 bands) must
# report.
DEDUP_RECALL_FLOOR = 0.8
DIST_TOL = 1e-6


def _load(run_dir, name):
    with open(os.path.join(run_dir, "out", name)) as f:
        return json.load(f)


def sq_dist(vec, q):
    return float(((np.asarray(vec, np.float64) - np.asarray(q, np.float64)) ** 2).sum())


def recall(answers, truth_ids):
    """Mean over answers of |returned ∩ true top-k| / |true top-k|."""
    shares = []
    for a in answers:
        true = [i for i in truth_ids[a["q"]] if i >= 0]
        if true:
            shares.append(len(set(a["ids"]) & set(true)) / len(true))
    return float(np.mean(shares)) if shares else 1.0


def check_recall(answers, truth_ids, floor=IVF_RECALL_FLOOR):
    r = recall(answers, truth_ids)
    return [] if r >= floor else [f"recall@{gen.K} {r:.4f} below the floor {floor}"]


def check_distances(answers, vec_of, queries):
    """Returned distances equal squared L2 recomputed here."""
    return [f"query {a['q']}: id {i} distance {d} != {sq_dist(vec_of[i], queries[a['q']])}"
            for a in answers for i, d in zip(a["ids"], a["d"])
            if not math.isclose(d, sq_dist(vec_of[i], queries[a["q"]]), rel_tol=1e-9, abs_tol=DIST_TOL)]


def check_order(answers):
    """Single-query results ascend by distance, ties to the smaller id."""
    return [f"query {a['q']}: results do not ascend by distance"
            for a in answers if list(zip(a["d"], a["ids"])) != sorted(zip(a["d"], a["ids"]))]


def check_filter(answers, bucket_of, filters):
    """Every result of a filtered query is admitted by its filter."""
    ops = {"<": lambda x, v: x < v, "<=": lambda x, v: x <= v, ">": lambda x, v: x > v,
           ">=": lambda x, v: x >= v, "=": lambda x, v: x == v, "!=": lambda x, v: x != v}
    problems = []
    for a in answers:
        flt = filters[a["q"]]
        if not flt:
            continue
        key, op, value = flt.split(" ", 2)
        assert key == "bucket", flt
        bad = [i for i in a["ids"] if not ops[op](bucket_of[i], float(value))]
        if bad:
            problems.append(f"query {a['q']} ({flt}) returned records it does not admit: {bad}")
    return problems


def check_exact(answers, truth_ids):
    """Exact search returns exactly the true top-k, in order."""
    return [f"exact query {a['q']}: ids {a['ids']} != {list(truth_ids[a['q']])}"
            for a in answers if list(a["ids"]) != [int(i) for i in truth_ids[a["q"]]]]


def check_same(batch, single):
    """Sampled single queries return what the batch returned for them."""
    by_q = {a["q"]: a for a in batch}
    single = list({s["q"]: s for s in single}.values())
    return [f"query {s['q']}: single {s['ids']} != batch {by_q.get(s['q'], {}).get('ids')}"
            for s in single
            if s["q"] not in by_q or s["ids"] != by_q[s["q"]]["ids"]
            or not np.allclose(s["d"], by_q[s["q"]]["d"], rtol=1e-9, atol=DIST_TOL)]


def check_centroids(n_centroids, n_store, density=gen.DENSITY):
    want = math.ceil(n_store / density)
    return [] if n_centroids == want else [f"{n_centroids} centroids, want ceil({n_store}/{density}) = {want}"]


def check_assignment(assigned, centroids, vec_of):
    """Each sampled record sits in its nearest centroid (ties to the lower id)."""
    cids = np.array([c["cluster_id"] for c in centroids])
    cents = np.array([c["centroid"] for c in centroids], np.float64)
    problems = []
    for a in assigned:
        d = ((cents - np.asarray(vec_of[a["id"]], np.float64)) ** 2).sum(axis=1)
        best = cids[np.lexsort((cids, d))[0]]
        if a["cluster_id"] != best:
            problems.append(f"record {a['id']} in cluster {a['cluster_id']}, nearest is {best}")
    return problems


def check_round(rnd, expected, dead, self_ids):
    """After a round: both stores hold exactly the expected ids, no deleted
    id is returned, and each upserted vector finds itself first at 0."""
    problems = []
    for store in ("store_ids", "index_ids"):
        if rnd[store] != [int(i) for i in expected]:
            problems.append(f"round {rnd['round']}: {store} has {len(rnd[store])} ids, "
                            f"expected {len(expected)} (contents differ)")
    dead, live = set(int(i) for i in dead), set(int(i) for i in expected)
    for a in rnd["answers"]:
        if dead & set(a["ids"]):
            problems.append(f"round {rnd['round']} query {a['q']}: deleted ids {sorted(dead & set(a['ids']))} returned")
        if set(a["ids"]) - live:
            problems.append(f"round {rnd['round']} query {a['q']}: ids outside the store returned")
        if a["q"] < len(self_ids) and (not a["ids"] or a["ids"][0] != self_ids[a["q"]] or a["d"][0] != 0.0):
            problems.append(f"round {rnd['round']} query {a['q']}: upserted id {self_ids[a['q']]} "
                            f"not first at distance 0 (got {a['ids'][:1]} {a['d'][:1]})")
    return problems


def check_pairs(pairs, cluster_of, truth_sim, recall_from, floor=DEDUP_RECALL_FLOOR):
    """No pair spans two planted clusters, reported similarities are the
    true ones, and planted pairs with similarity at or above `recall_from`
    are recalled at or above the floor."""
    problems = []
    got = set()
    for a, b, j in pairs:
        a, b = int(a), int(b)
        got.add((a, b))
        if cluster_of[a] != cluster_of[b]:
            problems.append(f"pair ({a}, {b}) spans planted clusters {cluster_of[a]} and {cluster_of[b]}")
        elif not math.isclose(j, truth_sim[(a, b)], abs_tol=1e-9):
            problems.append(f"pair ({a}, {b}) jaccard {j} != {truth_sim[(a, b)]}")
    above = [p for p, s in truth_sim.items() if s >= recall_from]
    r = sum(p in got for p in above) / len(above) if above else 1.0
    if r < floor:
        problems.append(f"planted-pair recall {r:.4f} below the floor {floor}")
    return problems


def check_groups(groups, cluster_of):
    """No duplicate group spans two planted clusters."""
    members = {}
    for doc, rep in groups:
        members.setdefault(int(rep), set()).add(cluster_of[int(doc)])
    return [f"group {rep} spans planted clusters {sorted(c)}" for rep, c in members.items() if len(c) > 1]


def _answers(rows):
    """Batch rows (query, id, distance) as per-query answers ordered by
    (distance, id); a batch result carries no order of its own."""
    out = {}
    for q, i, d in sorted(rows, key=lambda r: (r[0], r[2], r[1])):
        a = out.setdefault(q, {"q": q, "ids": [], "d": []})
        a["ids"].append(i)
        a["d"].append(d)
    return list(out.values())


def check(workload, run_dir):
    t = np.load(os.path.join(run_dir, "truth.npz"))
    if workload == "ann-serve":
        vec_of = dict(zip(t["ids"].tolist(), t["vecs"]))
        bucket_of = dict(zip(t["ids"].tolist(), t["buckets"].tolist()))
        single = _load(run_dir, "answers.json")
        batch = _answers(_load(run_dir, "batch.json"))
        exact = _answers(_load(run_dir, "exact.json"))
        built = _load(run_dir, "build.json")
        problems = []
        if len(exact) != int(t["exact"]) or len(batch) != len(t["queries"]):
            problems.append(f"{len(exact)} exact and {len(batch)} batch answers for "
                            f"{int(t['exact'])} and {len(t['queries'])} queries")
        return (problems + check_recall(single, t["filtered_top_ids"])
                + check_distances(single, vec_of, t["queries"])
                + check_order(single)
                + check_filter(single, bucket_of, t["filters"].tolist())
                + check_exact(exact, t["top_ids"]) + check_distances(exact, vec_of, t["queries"])
                + check_recall(batch, t["top_ids"]) + check_distances(batch, vec_of, t["queries"])
                + check_same(batch, [a for a in single if not a["filter"]])
                + check_centroids(built["centroids"], built["store"])
                + check_assignment(_load(run_dir, "assigned.json"), _load(run_dir, "centroids.json"), vec_of))
    if workload == "ann-upsert":
        problems = []
        rounds = _load(run_dir, "rounds.json")
        if not rounds:
            problems.append("no round completed")
        for rnd in rounds:
            r = rnd["round"]
            problems += check_round(rnd, t[f"expected_{r}"], t[f"dead_{r}"], t["self_ids"][r - 1].tolist())
        return problems
    if workload == "dedup":
        cluster_of = dict(zip(t["doc_ids"].tolist(), t["cluster"].tolist()))
        truth_sim = {(int(a), int(b)): float(s) for (a, b), s in zip(t["pairs"], t["sims"])}
        return (check_pairs(_load(run_dir, "pairs.json"), cluster_of, truth_sim, float(t["recall_from"]))
                + check_groups(_load(run_dir, "groups.json"), cluster_of))
    raise ValueError(workload)
