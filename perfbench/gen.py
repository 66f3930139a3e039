"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed, cores): the same
arguments give byte-identical files. The program under test receives only
these files; the generator never runs inside a timed region.

  fit_small     embeddings.parquet, one file: 2,000 x 64 FLOAT unit vectors
                in 10 weak label clusters (the sf0.1 embeddings shape), plus
                16 first-centroid row ids. Ids are drawn from the seed among
                those whose fit converges in exactly 13 Lloyd rounds
                (replayed here in numpy), so every op does the same
                work and the op wall does not swing with the draw
  fit_large     embeddings.parquet/ directory, max(32, cores) files: 250,000
                seeded Gaussian blob points, d = 16, k = 16, centres on a
                regular simplex under a seeded rotation, plus one far outlier
                per blob on the ray through its centre, and 16 first ids.
                Ids are drawn among those whose maximin seeds fall one per
                blob; those fits converge in 5 Lloyd rounds, the other ~10%
                in 8-9 (numpy replay of 30 ids)
  export_csv    points.csv: headerless CSV of well-separated blobs, plus
                the planted centres and per-cluster counts
  dedup_corpus  corpus/opNNN/documents.parquet: one copy per op of a
                5,000-doc corpus (the sf0.1 documents shape), and its first
                500 docs in warmup/ for the warm-up op. The documents
                are fixed (CORPUS_SEED) and the seed shuffles their row
                order: every output is order-independent, so the DuckDB
                oracle replays (about a minute) are cached per corpus while
                the files, and the program's partitions, change per seed
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIT_SMALL = dict(n=2000, d=64, labels=10, k=8, rounds=13, ids=16)
FIT_LARGE = dict(n=250_000, d=16, k=16, sigma=2.2, outlier=3.0, ids=16)
EXPORT_CSV = dict(n=200_000, d=8, k=8)
DEDUP = dict(n=5000)
CORPUS_SEED = 42
MAX_OPS = 64

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def rng(seed, stream):
    """Independent numpy stream per (seed, purpose)."""
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence([seed, stream])))


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def _embedding_table(ids, vecs, labels):
    flat = pa.array(vecs.astype(np.float32).ravel())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb,
                     "label": pa.array(labels, pa.int32())})


def maximin(x, k, first, sq=None):
    """Row ids of the k seeds maximin seeding picks from first id `first`
    (lowest-index tie-break), as RefKMeans.seed does. `sq` is the rows'
    squared norms, when the caller has them."""
    sq = (x * x).sum(1) if sq is None else sq
    ids = [first]
    md = sq - 2 * (x @ x[first]) + sq[first]
    for _ in range(k - 1):
        i = int(np.argmax(md))
        ids.append(i)
        md = np.minimum(md, sq - 2 * (x @ x[i]) + sq[i])
    return ids


def lloyd_rounds(x, k, first, delta=0.01, cap=100):
    """Rounds the reference fit runs from first id `first`: maximin seeding
    (lowest-index tie-break), then Lloyd until the mean centroid
    displacement is below `delta` (the stop rule of RefKMeans.fit)."""
    c = x[maximin(x, k, first)]
    xx = (x ** 2).sum(1)[:, None]
    for it in range(1, cap + 1):
        a = (xx - 2 * x @ c.T + (c ** 2).sum(1)[None]).argmin(1)
        n = np.bincount(a, minlength=k)
        s = np.stack([np.bincount(a, weights=x[:, j], minlength=k) for j in range(x.shape[1])], 1)
        nc = np.where(n[:, None] > 0, s / np.maximum(n, 1)[:, None], c)
        if np.sqrt(((nc - c) ** 2).sum(1)).mean() < delta:
            return it
        c = nc
    return cap


def fit_small(out, seed):
    p = FIT_SMALL
    r = rng(seed, 2)
    centres = r.normal(0.0, 0.07 / np.sqrt(p["d"]), (p["labels"], p["d"]))
    labels = r.integers(0, p["labels"], p["n"])
    x = centres[labels] + r.normal(0.0, 1.0, (p["n"], p["d"]))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    _write_parquet(_embedding_table(np.arange(p["n"]), x, labels),
                   os.path.join(out, "embeddings.parquet"))
    xd = x.astype(np.float64)
    ids = []
    for i in rng(seed, 1).permutation(p["n"]).tolist():
        if lloyd_rounds(xd, p["k"], i) == p["rounds"]:
            ids.append(i)
            if len(ids) == p["ids"] + 1:
                break
    return dict(n=p["n"], d=p["d"], k=p["k"], first_ids=ids)


def _frame(k, d):
    """Fixed centre frame: k points at pairwise distance sqrt(2)*scale."""
    return np.eye(k, d) * 10.0


def _rotation(r, d):
    q, rr = np.linalg.qr(r.normal(size=(d, d)))
    return q * np.sign(np.diag(rr))


def fit_large(out, seed, cores):
    p = FIT_LARGE
    r = rng(seed, 3)
    centres = _frame(p["k"], p["d"]) @ _rotation(r, p["d"])
    labels = np.concatenate([r.integers(0, p["k"], p["n"]), np.arange(p["k"])])
    x = centres[labels] + r.normal(0.0, p["sigma"], (len(labels), p["d"]))
    # the last k rows are the outliers, one per blob
    x[p["n"]:] = centres * p["outlier"]
    files = max(32, cores)
    root = os.path.join(out, "embeddings.parquet")
    os.makedirs(root)
    for i, part in enumerate(np.array_split(np.arange(len(labels)), files)):
        _write_parquet(_embedding_table(part, x[part], labels[part]),
                       os.path.join(root, f"part-{i:05d}.parquet"))
    xd = x.astype(np.float32).astype(np.float64)
    sq = (xd * xd).sum(1)
    ids = []
    for i in rng(seed, 1).permutation(p["n"]).tolist():
        if len(set(labels[maximin(xd, p["k"], i, sq)].tolist())) == p["k"]:
            ids.append(i)
            if len(ids) == p["ids"] + 1:
                break
    return dict(n=len(labels), d=p["d"], k=p["k"], files=files, first_ids=ids)


def export_csv(out, seed):
    p = EXPORT_CSV
    r = rng(seed, 4)
    # centres at least 40 apart; unit noise keeps every point nearest its
    # own centre, so the planted labels are the exact assignment
    centres = _frame(p["k"], p["d"]) * 4.0 @ _rotation(r, p["d"])
    labels = r.integers(0, p["k"], p["n"])
    x = centres[labels] + r.normal(0.0, 1.0, (p["n"], p["d"]))
    np.savetxt(os.path.join(out, "points.csv"), x, fmt="%.6f", delimiter=",")
    counts = np.bincount(labels, minlength=p["k"]).tolist()
    return dict(n=p["n"], d=p["d"], k=p["k"], centres=centres.tolist(), counts=counts)


def documents(seed):
    """5,000 documents of 10-100 words from a 30-word vocabulary; 5% are
    near-copies (0-2 word substitutions, trailing 'dup') of earlier ones."""
    n = DEDUP["n"]
    r = rng(seed, 5)
    texts = []
    for i in range(n):
        if i >= 20 and r.random() < 0.05:
            words = texts[r.integers(0, i)].split(" ")
            words = [w for w in words if w != "dup"]
            for _ in range(r.integers(0, 3)):
                words[r.integers(0, len(words))] = VOCAB[r.integers(0, len(VOCAB))]
            words.append("dup")
        else:
            words = [VOCAB[j] for j in r.integers(0, len(VOCAB), r.integers(10, 101))]
        texts.append(" ".join(words))
    langs = r.choice(LANGS, size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def dedup_corpus(out, seed):
    docs = documents(CORPUS_SEED)
    h = hashlib.sha256()
    for col in docs.columns:
        h.update(repr(col.to_pylist()).encode())
    base = os.path.join(out, "corpus_base.parquet")
    shuffled = docs.take(rng(seed, 6).permutation(docs.num_rows))
    _write_parquet(shuffled, base)
    m = DEDUP["n"] // 10
    os.makedirs(os.path.join(out, "warmup"))
    _write_parquet(docs.slice(0, m).take(rng(seed, 7).permutation(m)),
                   os.path.join(out, "warmup", "documents.parquet"))
    dirs = []
    for i in range(MAX_OPS):
        d = os.path.join(out, "corpus", f"op{i:03d}")
        os.makedirs(d)
        shutil.copyfile(base, os.path.join(d, "documents.parquet"))
        dirs.append(d)
    os.remove(base)
    return dict(n=DEDUP["n"], corpus_dirs=dirs, corpus_key=h.hexdigest()[:16],
                warmup_dir=os.path.join(out, "warmup"), warmup_key=f"{h.hexdigest()[:16]}-first{m}")


def generate(workload, out, seed, cores):
    """Write `workload`'s inputs under `out` (created fresh) and return the
    parameters the harness needs."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    if workload == "fit_small":
        params = fit_small(out, seed)
    elif workload == "fit_large":
        params = fit_large(out, seed, cores)
    elif workload == "export_csv":
        params = export_csv(out, seed)
    elif workload == "dedup_corpus":
        params = dedup_corpus(out, seed)
    else:
        raise ValueError(f"unknown workload {workload}")
    params["dir"] = out
    return params
