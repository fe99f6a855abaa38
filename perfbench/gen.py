"""Seeded input generation for the benchmark workloads.

Every table is a pure function of (workload, size, seed): the same seed
writes byte-identical parquet files, a different seed different ones. The
shapes follow the engine's sf0.1 fixture tables (a 30-word vocabulary,
10-100 token documents, 5% near-duplicates ending in " dup", 64-dim unit
embeddings), so the registered queries see the data they were tuned on.
No program code runs here.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast row "
         "agg key query scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64
BOT_LINES = ["I am a bot, beep boop", "Your post has been removed for breaking rule 2",
             "Welcome to the community! Read the rules first.",
             "Thank you for your submission", "Please contact the moderators of this community"]

# rows per table; "smoke" is the tiny size the smoke mode and tests use
SIZES = {
    "rag_serve": {"full": dict(posts=1000, comments=8000, questions=1000),
                  "smoke": dict(posts=150, comments=1000, questions=50)},
    "curation_mix": {"full": dict(docs=300, vectors=200),
                     "smoke": dict(docs=200, vectors=100)},
}


def _rng(workload, seed):
    return np.random.default_rng([int(seed), sum(map(ord, workload))])


def _texts(rng, n, lo=10, hi=100):
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, k = [], 0
    for m in lens:
        out.append(" ".join(VOCAB[w] for w in words[k:k + m]))
        k += m
    return out


def documents(rng, n):
    texts = _texts(rng, n)
    dups = rng.choice(n, n // 20, replace=False)
    dup_set = set(dups.tolist())
    originals = [i for i in range(n) if i not in dup_set]
    for d in dups:
        texts[d] = texts[originals[rng.integers(len(originals))]] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _unit(x):
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def _vectors_table(ids, vecs, rng):
    return pa.table({
        "vec_id": np.asarray(ids, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, len(ids)).astype(np.int32),
    })


def isotropic_embeddings(rng, ids):
    return _vectors_table(ids, _unit(rng.standard_normal((len(ids), DIM))), rng)


RAG_DIM = 128


def clustered_embeddings(rng, n, dim=RAG_DIM, sub=112, clusters=25, member_frac=0.5, noise=0.82):
    """Half the vectors sit around `clusters` centres (pairwise cosine ~0.6,
    so density clustering finds them), the rest are isotropic noise, sparse
    enough at this width not to percolate into one component. All live in
    the first `sub` dimensions; the rest are exactly 0, so a question in
    those dimensions is orthogonal to the whole corpus."""
    centres = _unit(rng.standard_normal((clusters, sub)))
    x = rng.standard_normal((n, sub)) / np.sqrt(sub)
    members = rng.random(n) < member_frac
    x[members] = centres[rng.integers(0, clusters, int(members.sum()))] + noise * x[members]
    full = np.zeros((n, dim))
    full[:, :sub] = x
    return _unit(full), sub


def _posts(rng, ids, marker, dup_frac):
    n = len(ids)
    titles = [f"Post {i} " + t for i, t in zip(ids, _texts(rng, n, 2, 8))]
    r = rng.random(n)
    for k in np.flatnonzero(r < 0.05):
        titles[k] = marker
    for k in np.flatnonzero((r >= 0.05) & (r < 0.06)):
        titles[k] = "   "
    rows = dict(title=titles, text=_texts(rng, n, 10, 60),
                score=rng.integers(0, 5000, n).astype(np.int64),
                n_comments=rng.integers(0, 9, n).astype(np.int64),
                community=[f"c{j}" for j in rng.integers(0, 8, n)])
    order = np.concatenate([np.arange(n), rng.choice(n, int(n * dup_frac), replace=False)])
    return {k: [v[i] for i in order] if isinstance(v, list) else v[order]
            for k, v in rows.items()}, [ids[i] for i in order]


def _comments(rng, n, parents, dead_marker):
    """Comment rows with a `kind` column the pipeline never reads: the
    oracle uses it as ground truth for which rows cleaning must drop."""
    # skewed parents, so some posts have more than the 20 kept per post
    pick = np.minimum((rng.random(n) ** 2 * len(parents)).astype(int), len(parents) - 1)
    parent = [parents[i] for i in pick]
    r = rng.random(n)
    kinds = np.where(r < 0.07, "deleted", np.where(r < 0.12, "bot", "ok"))
    orphan = rng.random(n) < 0.02
    parent = ["orphan" if o else p for o, p in zip(orphan, parent)]
    bodies = _texts(rng, n, 3, 30)
    bots = rng.integers(0, len(BOT_LINES), n)
    body = [dead_marker if k == "deleted" else BOT_LINES[b] if k == "bot" else t
            for k, b, t in zip(kinds, bots, bodies)]
    return parent, body, kinds.tolist(), rng.integers(0, 100, n).astype(np.int64)


def _questions(rng, vecs, sub, n):
    """Seeded query vectors: a corpus vector plus noise, and 10% off-topic
    questions orthogonal to the corpus (below any similarity threshold)."""
    q = vecs[rng.integers(0, len(vecs), n)].astype(np.float64)
    dim = vecs.shape[1]
    q += 0.5 * rng.standard_normal((n, dim)) / np.sqrt(dim)
    q[:, sub:] = 0.0
    off_topic = rng.random(n) < 0.1
    q[off_topic] = 0.0
    q[off_topic, sub:] = rng.standard_normal((int(off_topic.sum()), dim - sub))
    words = rng.integers(0, len(VOCAB), (n, 3))
    return pa.table({
        "qid": np.arange(n, dtype=np.int64),
        "qvec": pa.array(list(_unit(q)), type=pa.list_(pa.float32())),
        "question": [f"what about {VOCAB[a]} {VOCAB[b]} {VOCAB[c]}?" for a, b, c in words],
    }), int(off_topic.sum())


def rag_serve(rng, size):
    """Raw Reddit and Stack posts and comments (deletion markers, bot lines,
    HTML, duplicate listings, orphan comments), one embedding per post and
    the serving questions."""
    n = size["posts"]
    rid = [str(2 * i) for i in range(n)]
    sid = [2 * i + 1 for i in range(n)]
    rp, rp_ids = _posts(rng, rid, "[deleted]", 0.2)
    reddit_posts = pa.table({"id": rp_ids, "subreddit": rp["community"], "title": rp["title"],
                             "selftext": rp["text"], "score": rp["score"],
                             "num_comments": rp["n_comments"]})
    sp, sp_ids = _posts(rng, sid, "[removed]", 0.1)
    stack_posts = pa.table({
        "question_id": np.asarray(sp_ids, dtype=np.int64), "site": sp["community"],
        "title": sp["title"],
        "qbody": ["<p>" + t + " &amp; more</p>" for t in sp["text"]],
        "score": sp["score"], "answer_count": sp["n_comments"]})
    m = size["comments"]
    parent, body, kind, score = _comments(rng, m, rid, "[deleted]")
    reddit_comments = pa.table({"cid": [f"c{k}" for k in range(m)], "text": body,
                                "cscore": score, "parent": parent, "kind": kind})
    parent, body, kind, score = _comments(rng, m, [str(s) for s in sid], "[removed]")
    stack_comments = pa.table({
        "answer_id": np.arange(10_000_000, 10_000_000 + m, dtype=np.int64),
        "abody": [b if k != "ok" else f"<b>answer</b> {b} &amp; details"
                  for b, k in zip(body, kind)],
        "ascore": score, "parent": parent, "kind": kind})
    ids = np.array([2 * i for i in range(n)] + sid, dtype=np.int64)
    vecs, sub = clustered_embeddings(rng, len(ids))
    emb = _vectors_table(ids, vecs, rng)
    questions, off_topic = _questions(rng, vecs, sub, size["questions"])
    tables = {"reddit_posts": reddit_posts, "reddit_comments": reddit_comments,
              "stack_posts": stack_posts, "stack_comments": stack_comments,
              "embeddings": emb, "questions": questions}
    raw = ["reddit_posts", "reddit_comments", "stack_posts", "stack_comments"]
    meta = {"n_vectors": len(ids), "dim": RAG_DIM, "raw_rows": sum(tables[k].num_rows for k in raw),
            "n_questions": size["questions"], "off_topic_questions": off_topic}
    return tables, meta


def curation_mix(rng, size):
    docs = documents(rng, size["docs"])
    emb = isotropic_embeddings(rng, np.arange(size["vectors"]))
    meta = {"n_vectors": size["vectors"], "dim": DIM, "n_docs": size["docs"]}
    return {"documents": docs, "embeddings": emb}, meta


GENERATORS = {"rag_serve": rag_serve, "curation_mix": curation_mix}


def size_key(workload, size_name):
    """Cache directory name for one input size: changes with the sizes and
    with this generator's code."""
    with open(__file__, "rb") as f:
        spec = json.dumps(SIZES[workload][size_name], sort_keys=True) + f.read().decode()
    return f"{size_name}-{hashlib.sha1(spec.encode()).hexdigest()[:10]}"


def generate(workload, seed, size_name, out_dir):
    """Write the workload's tables for `seed` into `out_dir` (once; later
    calls reuse them) and return its meta dict."""
    done = os.path.join(out_dir, "meta.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    tables, meta = GENERATORS[workload](_rng(workload, seed), SIZES[workload][size_name])
    meta["rows"] = {k: t.num_rows for k, t in tables.items()}
    meta["seed"] = int(seed)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    tmp = done + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, sort_keys=True)
    os.replace(tmp, done)
    return meta
