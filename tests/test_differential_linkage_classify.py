"""Randomized differential tests: one seeded random corpus, ONE Spark
run, exhaustive comparison against a pure-Python reference — wide
input coverage at property-test strength without a Spark job per
hypothesis example (the engine kernels are cluster-side; per-example
generation belongs to the pure-Python suite in test_properties.py)."""

import hashlib
import random
import re

from pyspark.sql import functions as F


def _norm(text: str) -> str:
    # mirrors dedup.normalized_text: lower, collapse \s+ runs, trim
    return re.sub(r"\s+", " ", text.lower()).strip()


def _lev(a: str, b: str) -> int:
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def _linkage_corpus(n=80, seed=7):
    rng = random.Random(seed)
    alphabet = "abcdef ghij"
    docs = []
    base = "common block head "
    for i in range(n):
        # half share the blocking prefix with random mutations of a
        # shared body; half are free-form noise (other blocks)
        if i % 2 == 0:
            body = list("the quick brown fox body text here")
            for _ in range(rng.randrange(0, 12)):
                pos = rng.randrange(len(body))
                body[pos] = rng.choice(alphabet)
            docs.append((i, base + "".join(body)))
        else:
            docs.append(
                (i, "".join(rng.choice(alphabet + "XY \t") for _ in range(rng.randrange(5, 60))))
            )
    return docs


def test_edit_distance_pairs_differential(spark):
    from defenda_data_lake_spark.operators.linkage import edit_distance_pairs

    docs = _linkage_corpus()
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    got = {(r.id_a, r.id_b): r.distance for r in edit_distance_pairs(df).collect()}

    # pure-Python reference: same blocking (3 tokens), all pairs, same
    # 64-char prefixes, distance <= 8
    sides = []
    for i, text in docs:
        norm = _norm(text)
        if not norm:
            continue
        pfx = norm[:64]
        blk = " ".join(norm.split(" ")[:3])
        sides.append((i, pfx, blk))
    want = {}
    for ai in range(len(sides)):
        for bi in range(ai + 1, len(sides)):
            ia, pa, ba = sides[ai]
            ib, pb, bb = sides[bi]
            if ba != bb:
                continue
            d = _lev(pa, pb)
            if d <= 8:
                want[(min(ia, ib), max(ia, ib))] = d
    assert got == want and len(want) > 10  # the corpus must exercise links


def test_neighborhood_pairs_subset_of_allpairs(spark):
    from defenda_data_lake_spark.operators.linkage import edit_distance_pairs

    df = spark.createDataFrame(_linkage_corpus(seed=11), ["doc_id", "text"])
    allp = {(r.id_a, r.id_b): r.distance for r in edit_distance_pairs(df).collect()}
    near = {
        (r.id_a, r.id_b): r.distance
        for r in edit_distance_pairs(df, neighbor_window=10).collect()
    }
    assert set(near) <= set(allp)
    assert all(allp[k] == v for k, v in near.items())
    # identical prefixes sort adjacent, so each exact-dup GROUP forms a
    # connected chain under the neighborhood form even when the group
    # is wider than the window (a pair >w positions apart links
    # transitively through its neighbors, not directly)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in near:
        parent[find(a)] = find(b)
    zero = {k for k, v in allp.items() if v == 0}
    assert zero and all(find(a) == find(b) for a, b in zero)


def _nb_reference(docs, split_salt="nbsplit", train_pct=8000, thr=20):
    """Pure-Python multinomial NB mirroring classify.py exactly."""
    import math

    def bucket(doc_id):
        h = hashlib.md5(f"{split_salt}{doc_id}".encode()).hexdigest()[:8]
        return int(h, 16) % 10000

    words = {i: [w for w in _norm(t).split(" ") if w] for i, t in docs}
    labels = {i: int(len(t) >= thr) for i, t in docs}
    train = [i for i, _ in docs if bucket(i) < train_pct]
    c_pos, c_neg = {}, {}
    for i in train:
        for w in words[i]:
            (c_pos if labels[i] else c_neg)[w] = (c_pos if labels[i] else c_neg).get(w, 0) + 1
    vocab = set(c_pos) | set(c_neg)
    t_pos, t_neg, v = sum(c_pos.values()), sum(c_neg.values()), len(vocab)
    n_pos = sum(labels[i] for i in train)
    n_neg = len(train) - n_pos
    out = {}
    for i, _ in docs:
        if not words[i]:
            continue
        s = math.log((n_pos + 1) / (n_neg + 1))
        for w in words[i]:
            s += math.log((c_pos.get(w, 0) + 1) / (t_pos + v))
            s -= math.log((c_neg.get(w, 0) + 1) / (t_neg + v))
        out[i] = (len(words[i]), s)
    return out


def test_nb_scores_differential(spark):
    from defenda_data_lake_spark.operators.classify import nb_quality_scores

    rng = random.Random(13)
    vocab = [f"w{k}" for k in range(30)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 15))))
        for i in range(120)
    ]
    docs += [(900, "   "), (901, "")]  # empty-normalizing docs drop out
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_words, r.score, r.predicted)
        for r in nb_quality_scores(df, F.length("text") >= 20).collect()
    }
    want = _nb_reference(docs)
    assert set(got) == set(want)
    for i, (n_words, score) in want.items():
        gn, gs, gp = got[i]
        assert gn == n_words
        assert abs(gs - score) < 1e-9, (i, gs, score)
        assert gp == int(score > 0)
