"""Correctness checks, run after the timed region.

Each returns {op index: error string or ""}; any non-empty entry is a
failed operation. Query outputs are compared with the same canonical hash
as tools/check_oracle.py (imported from there, not copied)."""
import hashlib
import json
import os
import sys
from decimal import Decimal, ROUND_HALF_UP

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import canon  # noqa: E402


def _duck(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _oracle_hash(con, data_dir, sql):
    """canon() of an oracle query, cached next to the inputs it read (keyed
    by the SQL text, so a changed query is re-run)."""
    key = hashlib.sha1(sql.encode()).hexdigest()
    path = os.path.join(data_dir, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f))
    h = canon(con.execute(sql).df())
    with open(path + ".tmp", "w") as f:
        json.dump(list(h), f)
    os.replace(path + ".tmp", path)
    return h


def curation(result, data_dir):
    out = result["outputs"]
    con = _duck(data_dir, ["documents", "embeddings"])
    verdict = {}
    for o in out["outputs"]:
        expected = _oracle_hash(con, data_dir, out["oracle_sql"][o["query"]])
        got = canon(pd.read_parquet(o["path"]) if o["path"] else pd.DataFrame())
        verdict[(o["query"], o["fp"])] = "" if got == expected else (
            f"{o['query']}: spark rows={got[1]} oracle rows={expected[1]}")
    errors = {}
    for s in out["seen"]:
        msg = verdict[(s["query"], s["fp"])]
        if msg:
            errors[s["op"]] = (errors.get(s["op"], "") + " " + msg).strip()
    return errors


def _pipeline_sql(pairs_cte):
    """The pipeline's expected merged table as DuckDB SQL over the raw
    tables, in the spelling of Queries6.q83SqlWith, and the LSH candidate
    pairs of its kept embeddings. The `kind` column is the generator's
    ground truth for which comments cleaning must drop."""
    merged = """
CREATE TEMP TABLE merged_o AS
WITH posts AS (
  SELECT DISTINCT 'reddit' AS platform, subreddit AS community, id AS id_post, title,
    selftext AS body, score::BIGINT AS score, num_comments::BIGINT AS num_comments
  FROM reddit_posts
  UNION ALL
  SELECT DISTINCT 'stack', site, question_id::VARCHAR, title, qbody, score::BIGINT,
    answer_count::BIGINT FROM stack_posts),
keep AS (SELECT * FROM posts
  WHERE title IS NOT NULL AND length(trim(title)) > 0
    AND title NOT IN ('[deleted]', '[removed]') AND coalesce(num_comments, 0) >= 2),
com AS (
  SELECT cid AS id_comment, parent, cscore::BIGINT AS score FROM reddit_comments WHERE kind = 'ok'
  UNION ALL
  SELECT answer_id::VARCHAR, parent, ascore::BIGINT FROM stack_comments WHERE kind = 'ok'),
top AS (SELECT id_comment, parent FROM (
  SELECT id_comment, parent,
    row_number() OVER (PARTITION BY parent ORDER BY score DESC, id_comment ASC) AS rn
  FROM com) t WHERE rn <= 20),
agg AS (SELECT parent, list_sort(list(id_comment)) AS cids FROM top GROUP BY parent)
SELECT k.*, coalesce(a.cids, []::VARCHAR[]) AS cids, k.id_post::BIGINT AS vid
FROM keep k LEFT JOIN agg a ON a.parent = k.id_post"""
    kept = "kept AS (SELECT e.vec_id, e.embedding FROM embeddings e JOIN merged_o m ON m.vid = e.vec_id)"
    return merged, f"WITH {kept},\n{pairs_cte}\nSELECT id_a, id_b FROM pairs", f"WITH {kept} SELECT vec_id FROM kept"


def _cluster_labels(ids, pairs, min_size=5):
    """Connected components of the pair graph, labelled by their smallest
    id; components under `min_size` are noise (-1). The same closure as
    q83's reach CTE, by union-find."""
    parent = {i: i for i in ids}

    def root(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {i: root(i) for i in ids}
    size = {}
    for c in comp.values():
        size[c] = size.get(c, 0) + 1
    return {i: (c if size[c] >= min_size else -1) for i, c in comp.items()}


MERGED_COLS = ("SELECT platform, community, id_post, title, body, score, num_comments, "
               "coalesce(array_to_string({ids}, ','), '') AS comment_csv FROM {rel}")


def pipeline(result, data_dir):
    """The set-up's merged table and cluster labels against DuckDB."""
    out = result["outputs"]
    con = _duck(data_dir, ["reddit_posts", "reddit_comments", "stack_posts",
                           "stack_comments", "embeddings"])
    merged_sql, pairs_sql, kept_sql = _pipeline_sql(out["pairs_cte"])
    con.execute(merged_sql)
    bad = []
    want = canon(con.execute(MERGED_COLS.format(ids="cids", rel="merged_o")).df())
    got = canon(con.execute(MERGED_COLS.format(
        ids="comment_ids", rel=f"read_parquet('{out['merged']}/*.parquet')")).df())
    if got != want:
        bad.append(f"merged table rows={got[1]} expected={want[1]}")
    labels = _cluster_labels([r[0] for r in con.execute(kept_sql).fetchall()],
                             con.execute(pairs_sql).fetchall())
    want_labels = canon(pd.DataFrame({"vec_id": list(labels), "cluster": list(labels.values())},
                                     dtype="int64"))
    got = canon(con.execute(
        f"SELECT vec_id, cluster::BIGINT AS cluster FROM read_parquet("
        f"'{out['index']}/cluster=*/*.parquet', hive_partitioning = true)").df())
    if got != want_labels:
        bad.append(f"cluster labels rows={got[1]} expected={want_labels[1]}")
    clusters = len(set(labels.values()) - {-1})
    return "; ".join(bad), {"merged_rows": want[1], "indexed_vectors": want_labels[1],
                            "clusters": clusters}


def _round6(x):
    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def rag(result, data_dir, threshold=0.2, cap=20):
    """The set-up's pipeline outputs against DuckDB (a mismatch fails the
    set-up, op -1), then every answer against a brute force in Python:
    exact cosine top-1 (rounded to 6 places, ties to the smaller id) over
    the index, the hit's co-cluster members (noise expands to nothing), and
    the prompt assembled from those posts' bodies in id order."""
    out = result["outputs"]
    setup_error, info = pipeline(result, data_dir)
    errors = {-1: setup_error} if setup_error else {}
    idx = duckdb.connect().execute(
        f"SELECT vec_id, embedding, cluster::BIGINT AS cluster FROM read_parquet("
        f"'{out['index']}/cluster=*/*.parquet', hive_partitioning = true) ORDER BY vec_id").df()
    ids = idx["vec_id"].to_numpy()
    labels = idx["cluster"].to_numpy()
    mat = np.stack(idx["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    docs = duckdb.connect().execute(
        f"SELECT id_post::BIGINT AS vid, body FROM read_parquet('{out['merged']}/*.parquet')").df()
    text = dict(zip(docs["vid"].tolist(), docs["body"].tolist()))
    qs = pd.read_parquet(os.path.join(data_dir, "questions.parquet"))
    qvec = {q: np.asarray(v, dtype=np.float64) for q, v in zip(qs["qid"], qs["qvec"])}
    qtext = dict(zip(qs["qid"].tolist(), qs["question"].tolist()))
    members = {}
    for i, l in zip(ids.tolist(), labels.tolist()):
        members.setdefault(l, []).append(i)
    cache, empty = {}, 0
    with open(out["answers"]) as f:
        answers = [json.loads(line) for line in f if line.strip()]
    for a in answers:
        qid = a["qid"]
        if qid not in cache:
            v = qvec[qid]
            qn = np.linalg.norm(v)
            sims = mat @ v / (norms * qn) if qn > 0 else np.zeros(len(ids))
            best = float(np.max(sims))
            near = np.flatnonzero(sims >= best - 1e-5)
            cand = sorted(((-_round6(sims[k]), int(ids[k]), int(labels[k])) for k in near))
            neg_sim, hit, label = cand[0]
            ctx = []
            if -neg_sim >= threshold:
                ctx = [hit]
                if label != -1:
                    ctx += [m for m in sorted(members[label]) if m != hit][:cap]
            body = "\n---\n".join(text[d] for d in sorted(ctx))
            cache[qid] = ("Context:\n" + body + "\n\nQuestion: " + qtext[qid], len(ctx))
        want, n = cache[qid]
        empty += n == 0
        if a["prompt"] != want:
            errors[a["op"]] = f"question {qid}: prompt differs from the brute-force context"
    info.update(answers=len(answers), empty_context_answers=empty)
    return errors, info
