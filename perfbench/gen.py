"""Seeded input generator for the perfbench workloads.

Writes one directory per (workload, seed): the parquet inputs the program
reads, plus truth files that only the output checks read. The same seed
gives byte-identical files; generation never reads the program's code.

Planted ground truth:
  pretrain_*   Zipf vocabulary, exact duplicates (same text after the
               refiners), MinHash near-duplicate clusters (shingle Jaccard
               >= 0.92, skewed sizes, one cluster above MinHash's
               maxBandBucket of 1024 on the full corpus), decoys (Jaccard
               0.6-0.85, simhash distance > 3) that must survive, SimHash
               duplicates (same words reordered), and rows built to fail
               one rule filter. The expected kept set and the md5 of each
               kept row's refined text are computed here, with an exact
               replica of the SimHash bucket rule as its oracle.
  embed_search Zipf-sized Gaussian clusters of unit vectors around a fixed
               set of centers, near-identical twins (cos > 0.9999), and a
               query set drawn from the same clusters.
  llm_synth    multi-sentence documents and a bounded pool of generated SQL,
               half of it DDL.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = (
    "the a an and or but if then else of at by for with about to from in on "
    "is are was were be been being it its this that these those as not no so "
    "too very can will just do does did have has had he she they we you i "
    "his her their our your").split()

PRETRAIN_DOCS = 4000
EMBED_VECTORS = 4000
EMBED_DIM = 64
EMBED_QUERIES = 1000
EMBED_LAYOUT_SEED = 20240
LLM_DOCS = 250
FILES = 4
BIG_CLUSTER = 1100      # above MinHash's maxBandBucket (1024)
SIMHASH_BUCKET_CAP = 4096
WORKLOADS = ("pretrain_curate", "pretrain_stepwise", "embed_search", "llm_synth")


def _rng(seed, tag):
    return np.random.default_rng([int(seed), WORKLOADS.index(tag) + 17])


def _write(table, path, files=1):
    """Writes `table` as `files` parquet part files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, "part-%05d.parquet" % i),
                       compression="snappy")


def _words(rng, n, lo, hi, banned):
    out, seen = [], set(banned)
    while len(out) < n:
        lens = rng.integers(lo, hi + 1, n)
        letters = rng.integers(0, 26, lens.sum())
        pos = 0
        for ln in lens:
            w = "".join(chr(97 + c) for c in letters[pos:pos + ln])
            pos += ln
            if w not in seen and "copyright" not in w and "watermark" not in w:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


# ---------------------------------------------------------------- pretrain

class _Vocab:
    """Zipf vocabulary: the stopwords hold the head ranks. Token ids below
    `v` are bare words, ids in [v, 2v) are the same word ending a sentence
    ("word.")."""

    def __init__(self, rng, size=20000):
        words = STOPWORDS + _words(rng, size - len(STOPWORDS), 3, 9, STOPWORDS)
        self.v = len(words)
        self.text = np.array(words + [w + "." for w in words], dtype=object)
        p = 1.0 / np.arange(1, self.v + 1)
        self.cdf = np.cumsum(p / p.sum())
        self.stop = np.zeros(2 * self.v, dtype=bool)
        self.stop[:len(STOPWORDS)] = True
        h = np.array([int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big") >> 4
                      for w in self.text], dtype=np.uint64)
        bits = (h[:, None] >> np.arange(60, dtype=np.uint64)) & np.uint64(1)
        self.votes = bits.astype(np.int16) * 2 - 1

    def draw(self, rng, n):
        return np.minimum(np.searchsorted(self.cdf, rng.random(n)), self.v - 1)

    def doc(self, rng, n):
        ids = self.draw(rng, n)
        ends = np.cumsum(rng.integers(8, 21, n // 8 + 2))
        ends = ends[ends < n]
        ids[ends - 1] += self.v
        ids[-1] = ids[-1] % self.v + self.v
        return ids

    def content_word(self, rng):
        while True:
            w = int(self.draw(rng, 1)[0])
            if not self.stop[w]:
                return w

    def refined(self, ids):
        return ids[~self.stop[ids]]

    def simhash(self, ids):
        v = self.votes[self.refined(ids)].sum(axis=0) > 0
        return int(np.dot(v.astype(np.uint64), np.uint64(1) << np.arange(60, dtype=np.uint64)))


def _shingles(ids):
    return set(zip(ids[:-2].tolist(), ids[1:-1].tolist(), ids[2:].tolist()))


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / max(1, len(sa | sb))


def _popcount(x):
    x = int(x)
    return bin(x).count("1")


def _replace_content(rng, voc, ids, k):
    out = ids.copy()
    cand = np.flatnonzero(~voc.stop[ids])
    for p in rng.choice(cand, size=k, replace=False):
        w = voc.content_word(rng)
        out[p] = w + (voc.v if out[p] >= voc.v else 0)
    return out


def _simhash_drops(ids_sorted, sigs):
    """Replica of SimHashDeduplicateFilter (hamming k=3, 4 segments of 15
    bits): identical fingerprints keep the smallest id; a segment bucket of
    at most 4096 rows checks every pair; a larger bucket checks each row
    against the bucket's smallest id only. Returns the dropped ids."""
    drops, reps = set(), {}
    for i, s in zip(ids_sorted, sigs):
        if s in reps:
            drops.add(i)
        else:
            reps[s] = i
    rep_ids = sorted(reps.values())
    sig_of = {i: s for s, i in reps.items()}
    for seg in range(4):
        buckets = {}
        for i in rep_ids:
            buckets.setdefault((sig_of[i] >> (15 * seg)) & 0x7FFF, []).append(i)
        for members in buckets.values():
            if len(members) > SIMHASH_BUCKET_CAP:
                m0 = members[0]
                drops.update(j for j in members[1:]
                             if _popcount(sig_of[m0] ^ sig_of[j]) <= 3)
            else:
                for a in range(len(members)):
                    for b in range(a + 1, len(members)):
                        if _popcount(sig_of[members[a]] ^ sig_of[members[b]]) <= 3:
                            drops.add(members[b])
    return drops


def _render(rng, voc, ids):
    """Raw text of a document: the clean tokens with markup the refiners
    must remove (capitals, <b> tags, URLs, runs of spaces)."""
    toks = list(voc.text[ids])
    if rng.random() < 0.4:
        for _ in range(int(rng.integers(1, 4))):
            p = int(rng.integers(0, len(toks)))
            kind = int(rng.integers(0, 4))
            if kind == 0:
                toks[p] = toks[p].capitalize()
            elif kind == 1:
                toks[p] = "<b>" + toks[p] + "</b>"
            elif kind == 2:
                toks[p] = toks[p] + " https://www.example.org/p%d?q=%d" % (
                    int(rng.integers(0, 999)), int(rng.integers(0, 99)))
            else:
                toks[p] = toks[p] + "   \t"
    return " ".join(toks)


def _pretrain(seed, out, half):
    rng = _rng(seed, "pretrain_curate")
    voc = _Vocab(rng)
    n = PRETRAIN_DOCS
    n_fail, n_exact, n_near = int(n * .15), int(n * .05), int(n * .10)
    n_decoy, n_sim = int(n * .05), int(n * .04)

    rows = []        # (kind, group, token ids or None, raw text)
    groups = []      # row indices; the first is the source
    kinds = {"base": 0, "source": 1, "exact": 2, "near": 3, "decoy": 4,
             "simhash": 5, "fail": 6}

    def add(kind, ids, text=None, group=None):
        rows.append((kinds[kind], ids, text if text is not None else _render(rng, voc, ids)))
        if group is not None:
            group.append(len(rows) - 1)

    def source():
        g = []
        add("source", voc.doc(rng, int(rng.integers(150, 250))), group=g)
        groups.append(g)
        return g

    # near-duplicate clusters: one above maxBandBucket, the rest Zipf-sized
    sizes, left = [BIG_CLUSTER], n_near
    r = 1
    while left > 0:
        s = min(left, max(1, int(120 / r ** 1.1)))
        sizes.append(s)
        left -= s
        r += 1
    for s in sizes:
        g = source()
        src = rows[g[0]][1]
        for _ in range(s):
            while True:
                nd = _replace_content(rng, voc, src, 1)
                if _jaccard(voc.refined(src), voc.refined(nd)) >= 0.92:
                    break
            add("near", nd, group=g)
    left = n_exact
    while left > 0:
        g = source()
        for _ in range(min(left, int(rng.integers(1, 4)))):
            add("exact", rows[g[0]][1], group=g)
            left -= 1
    for _ in range(n_decoy):
        g = source()
        src = rows[g[0]][1]
        while True:
            d = _replace_content(rng, voc, src, int(rng.integers(5, 11)))
            if (0.6 <= _jaccard(voc.refined(src), voc.refined(d)) <= 0.85 and
                    _popcount(voc.simhash(src) ^ voc.simhash(d)) > 3):
                break
        add("decoy", d, group=g)
    for k in range(n_sim):
        g = source()
        src = rows[g[0]][1]
        while True:
            d = src[rng.permutation(len(src))]
            if k % 2:
                d = _replace_content(rng, voc, d, 1)
            if _popcount(voc.simhash(src) ^ voc.simhash(d)) <= 3:
                break
        add("simhash", d, group=g)
    longwords = np.array(_words(rng, 2000, 12, 16, STOPWORDS), dtype=object)
    for k in range(n_fail):
        kind = k % 4
        if kind == 0:    # too few words for WordNumberFilter
            ids = voc.doc(rng, int(rng.integers(5, 30)))
            while len(voc.refined(ids)) >= 20:
                ids = voc.doc(rng, int(rng.integers(5, 30)))
            add("fail", ids)
        elif kind == 1:  # watermark phrase for WatermarkFilter
            ids = voc.doc(rng, int(rng.integers(150, 250)))
            add("fail", None, _render(rng, voc, ids) + " Copyright reserved.")
        elif kind == 2:  # mean word length above MeanWordLengthFilter's 10
            add("fail", None, " ".join(rng.choice(longwords, int(rng.integers(40, 80)))) + ".")
        else:            # template braces for SpecialCharacterFilter
            ids = voc.doc(rng, int(rng.integers(150, 250)))
            add("fail", None, _render(rng, voc, ids) + " {{ template }}")
    while len(rows) < n:
        add("base", voc.doc(rng, int(rng.integers(150, 250))))

    # shuffled ids, with every group's source holding the group's smallest id
    doc_id = rng.permutation(len(rows))
    for g in groups:
        lo = min(g, key=lambda i: doc_id[i])
        doc_id[g[0]], doc_id[lo] = doc_id[lo], doc_id[g[0]]
    if half:
        keep_rows = [i for i in range(len(rows)) if doc_id[i] < len(rows) // 2]
    else:
        keep_rows = list(range(len(rows)))
    keep_rows.sort(key=lambda i: doc_id[i])

    # expected output: refined text of every row that survives the filters,
    # the exact dedup and MinHash, minus the SimHash oracle's drops
    reach = [i for i in keep_rows if rows[i][0] in (0, 1, 4, 5)]
    refined = {i: voc.refined(rows[i][1]) for i in reach}
    drops = _simhash_drops([int(doc_id[i]) for i in reach],
                           [voc.simhash(rows[i][1]) for i in reach])
    kept = [i for i in reach if int(doc_id[i]) not in drops]
    for i in reach:
        if rows[i][0] == 5 and int(doc_id[i]) not in drops:
            raise RuntimeError("planted SimHash duplicate not dropped by the oracle")
        if rows[i][0] == 4 and int(doc_id[i]) in drops:
            raise RuntimeError("decoy dropped by the SimHash oracle")

    _write(pa.table({
        "doc_id": pa.array([int(doc_id[i]) for i in keep_rows], pa.int64()),
        "text": pa.array([rows[i][2] for i in keep_rows], pa.string()),
    }), os.path.join(out, "docs.parquet"), FILES)
    pq.write_table(pa.table({
        "doc_id": pa.array([int(doc_id[i]) for i in keep_rows], pa.int64()),
        "kind": pa.array([rows[i][0] for i in keep_rows], pa.int8()),
    }), os.path.join(out, "truth_kind.parquet"))
    pq.write_table(pa.table({
        "doc_id": pa.array([int(doc_id[i]) for i in kept], pa.int64()),
        "md5": pa.array([hashlib.md5(" ".join(voc.text[refined[i]]).encode()).hexdigest()
                         for i in kept], pa.string()),
    }), os.path.join(out, "truth_kept.parquet"))
    with open(os.path.join(out, "stopwords.txt"), "w") as f:
        f.write("\n".join(STOPWORDS) + "\n")


# ------------------------------------------------------------ embed_search

def _unit(x):
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def _vec_table(ids, vecs):
    flat = pa.array(vecs.reshape(-1), pa.float64())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.ListArray.from_arrays(offsets, flat)})


def _embed(seed, out):
    rng = _rng(seed, "embed_search")
    n, d = EMBED_VECTORS, EMBED_DIM
    n_twin = int(n * .03)
    k = 40
    w = 1.0 / np.arange(1, k + 1)
    sizes = np.floor(w / w.sum() * (n - n_twin)).astype(int)
    sizes[0] += n - n_twin - sizes.sum()
    # The cluster layout is part of the workload, not of the seed: where
    # the centers fall against the LSH hyperplanes sets the bucket skew,
    # and with it the cost of a pass. The seed draws the members, twins
    # and queries.
    centers = _unit(np.random.default_rng(EMBED_LAYOUT_SEED).standard_normal((k, d)))

    def draw(cluster):
        return _unit(centers[cluster] + 0.75 * rng.standard_normal((len(cluster), d)) / np.sqrt(d))

    base = draw(np.repeat(np.arange(k), sizes))
    src = rng.choice(len(base), n_twin, replace=False)
    twins = _unit(base[src] + 1e-3 * rng.standard_normal((n_twin, d)) / np.sqrt(d))
    vecs = np.concatenate([base, twins])
    vid = rng.permutation(n)
    for s, t in zip(src, range(len(base), n)):
        if vid[t] < vid[s]:
            vid[s], vid[t] = vid[t], vid[s]
    order = np.argsort(vid)
    _write(_vec_table(vid[order], vecs[order]), os.path.join(out, "vectors.parquet"), FILES)
    q = draw(rng.choice(k, EMBED_QUERIES, p=sizes / sizes.sum()))
    _write(_vec_table(10 ** 9 + np.arange(EMBED_QUERIES), q), os.path.join(out, "queries.parquet"))
    pq.write_table(pa.table({"src": pa.array(vid[src], pa.int64()),
                             "twin": pa.array(vid[len(base):], pa.int64())}),
                   os.path.join(out, "truth_twins.parquet"))


# --------------------------------------------------------------- llm_synth

def _llm(seed, out):
    rng = _rng(seed, "llm_synth")
    voc = _Vocab(rng, 5000)
    cats = ["tools", "books", "games", "music", "garden"]
    good = ["SELECT category, COUNT(*) AS n FROM bench_items GROUP BY category",
            "SELECT item_id, price FROM bench_items WHERE price > %d" % int(rng.integers(10, 60)),
            "SELECT AVG(price) FROM bench_items WHERE category = '%s'" % cats[int(rng.integers(0, 5))],
            "SELECT MAX(price), MIN(price) FROM bench_items",
            "WITH c AS (SELECT category, SUM(price) AS s FROM bench_items GROUP BY category) "
            "SELECT * FROM c WHERE s > 100",
            "SELECT COUNT(DISTINCT category) FROM bench_items",
            "SELECT item_id FROM bench_items ORDER BY price DESC LIMIT 5",
            "SELECT category, MAX(price) FROM bench_items GROUP BY category ORDER BY 2",
            "SELECT 1 + %d" % int(rng.integers(0, 100))]
    bad = ["SELECT no_such_column FROM bench_items",
           "SELECT * FROM no_such_table",
           "SELECT price FROM bench_items WHERE price >"]
    ddl = ["CREATE TABLE bench_%d (a INT)" % i for i in range(4)] + \
          ["DROP TABLE bench_items", "DROP TABLE IF EXISTS bench_%d" % 7,
           "INSERT INTO bench_items VALUES (1, 'x', 2.0)",
           "ALTER TABLE bench_items ADD COLUMNS (z INT)",
           "TRUNCATE TABLE bench_items", "DELETE FROM bench_items",
           "CREATE OR REPLACE TEMP VIEW bench_v AS SELECT 1",
           "UPDATE bench_items SET price = 0"]
    texts, sqls, ok, sent_md5 = [], [], [], []
    for i in range(LLM_DOCS):
        sents = [" ".join(voc.text[voc.doc(rng, int(rng.integers(5, 13))) % voc.v])
                 for _ in range(int(rng.integers(3, 9)))]
        texts.append(". ".join(sents) + ".")
        sent_md5.append(hashlib.md5(". ".join(sents).encode()).hexdigest())
        u = rng.random()
        if u < 0.5:
            sqls.append(ddl[int(rng.integers(0, len(ddl)))])
            ok.append(False)
        elif u < 0.9:
            sqls.append(good[int(rng.integers(0, len(good)))])
            ok.append(True)
        else:
            sqls.append(bad[int(rng.integers(0, len(bad)))])
            ok.append(False)
    ids = np.arange(LLM_DOCS, dtype=np.int64)
    _write(pa.table({"doc_id": pa.array(ids), "text": pa.array(texts, pa.string()),
                     "sql": pa.array(sqls, pa.string())}),
           os.path.join(out, "docs.parquet"), FILES)
    pq.write_table(pa.table({
        "item_id": pa.array(np.arange(200, dtype=np.int64)),
        "category": pa.array([cats[int(c)] for c in rng.integers(0, 5, 200)], pa.string()),
        "price": pa.array(np.round(rng.uniform(1, 100, 200), 2), pa.float64())}),
        os.path.join(out, "items.parquet"))
    pq.write_table(pa.table({"doc_id": pa.array(ids), "sent_md5": pa.array(sent_md5, pa.string()),
                             "sql_ok": pa.array(ok, pa.bool_())}),
                   os.path.join(out, "truth_docs.parquet"))


def generate(workload, seed, out):
    """Writes the inputs and truth of (workload, seed) into directory `out`."""
    os.makedirs(out, exist_ok=True)
    if workload == "pretrain_curate":
        _pretrain(seed, out, half=False)
    elif workload == "pretrain_stepwise":
        _pretrain(seed, out, half=True)
    elif workload == "embed_search":
        _embed(seed, out)
    elif workload == "llm_synth":
        _llm(seed, out)
    else:
        raise ValueError("unknown workload %r" % workload)
