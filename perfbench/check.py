"""Output checks, run after the timed window.

Query workloads: each query's result (parquet written by the harness in
check mode) against its `SparkEntry.oracleSql` entry run by DuckDB on
the same tables, compared inside DuckDB on native types with EXCEPT ALL
both ways. The DuckDB side is cached per (tables, SQL) in a DuckDB file.

vector_ingest: brute force over the generated vectors —
  * every rejected vector has an earlier-admitted vector at exact
    cosine >= the threshold;
  * the corpus holds no duplicate and no unknown ids;
  * topK scores equal the exact cosine, in rank order, over vectors
    admitted so far.
"""

import hashlib
import os

import duckdb
import numpy as np

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
SCORE_TOL = 1e-6


def _norm_type(t):
    return "TIMESTAMP" if t.startswith("TIMESTAMP") else t


def _tables_key(sf_dir):
    h = hashlib.sha256(os.path.abspath(sf_dir).encode())
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"{t}:{st.st_size}:{int(st.st_mtime)}".encode())
    return h.hexdigest()[:16]


def compare_queries(sf_dir, result_dir, oracle_sql, cache_dir):
    """{query: (ok, recall, message)} for each query of `oracle_sql`.
    `recall` is the share of oracle rows the result holds."""
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect(f"{cache_dir}/oracle-{_tables_key(sf_dir)}.duckdb")
    for t in TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(f"CREATE OR REPLACE TEMP VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        table = "o_" + hashlib.sha256(sql.encode()).hexdigest()[:24]
        out[name] = _compare_one(con, table, sql, f"{result_dir}/{name}")
    con.close()
    return out


def _compare_one(con, table, sql, got_dir):
    try:
        con.execute(f"CREATE TABLE IF NOT EXISTS {table} AS {sql}")
    except Exception as e:  # the oracle itself is broken: not the engine's row
        return False, 0.0, f"oracle SQL error: {e}"
    if not os.path.isdir(got_dir):
        return False, 0.0, "engine result missing"
    exp = con.table(table)
    got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'")
    etypes = {c: _norm_type(str(t)) for c, t in zip(exp.columns, exp.types)}
    gtypes = {c: _norm_type(str(t)) for c, t in zip(got.columns, got.types)}
    nexp = exp.aggregate("count(*)").fetchone()[0]
    if sorted(etypes) != sorted(gtypes):
        return False, 0.0, f"columns differ: oracle={sorted(etypes)} engine={sorted(gtypes)}"
    bad = [c for c in etypes if etypes[c] != gtypes[c]]
    if bad:
        return False, 0.0, "types differ: " + "; ".join(
            f"{c}: oracle={etypes[c]} engine={gtypes[c]}" for c in bad)
    cols = ", ".join(f'"{c}"' for c in sorted(etypes))
    con.register("_got", got)
    missing = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM {table} "
                      f"EXCEPT ALL SELECT {cols} FROM _got)").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM _got "
                    f"EXCEPT ALL SELECT {cols} FROM {table})").fetchone()[0]
    sample = None
    if missing or extra:
        sample = con.sql(f"SELECT {cols} FROM _got EXCEPT ALL SELECT {cols} FROM {table} "
                         f"LIMIT 1").fetchall()
    con.unregister("_got")
    recall = 1.0 if nexp == 0 else (nexp - missing) / nexp
    if missing or extra:
        return False, recall, (f"{missing} oracle rows missing, {extra} extra rows, "
                               f"e.g. {sample}")
    return True, recall, ""


def _cos_matrix(a, b):
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    return (a / np.linalg.norm(a, axis=1, keepdims=True)) @ \
        (b / np.linalg.norm(b, axis=1, keepdims=True)).T


def check_episode(stream, corpus_ids, topk_by_batch, max_cos, k):
    """Check one stream episode against brute force.

    `corpus_ids`: vec_ids of the final corpus, as stored (duplicates kept);
    `topk_by_batch`: {batch: [(q_id, rk, b_id, score), ...]} from the topK
    call after that batch. Returns failures as {("admit"|"topk", batch):
    message} and the recall figures."""
    fails = {}
    pos = {int(i): p for p, i in enumerate(stream.ids)}
    ids = [int(i) for i in corpus_ids]
    seen, dups = set(), set()
    for i in ids:
        (dups if i in seen else seen).add(i)
    for i in sorted(dups):
        b = int(stream.batch_of[pos[i]]) if i in pos else -1
        fails.setdefault(("admit", b), f"vec_id {i} stored more than once")
    unknown = sorted(seen - set(pos))
    if unknown:
        fails.setdefault(("admit", -1), f"unknown vec_ids in corpus, e.g. {unknown[:3]}")
    admitted = np.zeros(len(stream.ids), dtype=bool)
    admitted[[pos[i] for i in seen if i in pos]] = True
    batches = len(stream.bounds) - 1

    # every rejection is backed by an earlier-admitted vector >= max_cos
    cos = _cos_matrix(stream.vecs, stream.vecs)
    for p in np.flatnonzero(~admitted):
        b = int(stream.batch_of[p])
        earlier = np.flatnonzero(admitted & (stream.batch_of < b))
        best = cos[p, earlier].max() if earlier.size else -1.0
        if best < max_cos:
            fails.setdefault(("admit", b),
                             f"vec_id {stream.ids[p]} rejected, best earlier cosine {best:.4f}")
    planted = list(stream.source)
    dup_recall = (sum(not admitted[p] for p in planted) / len(planted)) if planted else 1.0

    # topK: exact-rerank scores are exact cosines, in rank order
    qcos = _cos_matrix(stream.panel, stream.vecs)
    hits = total = 0
    for b in range(batches):
        live = np.flatnonzero(admitted & (stream.batch_of <= b))
        rows = topk_by_batch.get(b, [])
        by_q = {}
        for q, rk, bid, score in rows:
            by_q.setdefault(int(q), []).append((int(rk), int(bid), float(score)))
        for qi, qid in enumerate(stream.panel_ids):
            got = sorted(by_q.get(int(qid), []))
            exact = live[np.argsort(-qcos[qi, live], kind="stable")[:k]]
            total += min(k, live.size)
            if [r for r, _, _ in got] != list(range(1, len(got) + 1)):
                fails.setdefault(("topk", b), f"query {qid}: ranks not 1..n")
                continue
            prev = float("inf")
            for _, bid, score in got:
                p = pos.get(bid)
                if p is None or not admitted[p] or stream.batch_of[p] > b:
                    fails.setdefault(("topk", b), f"query {qid}: {bid} not admitted yet")
                    break
                if abs(score - qcos[qi, p]) > SCORE_TOL:
                    fails.setdefault(("topk", b),
                                     f"query {qid}: score {score} != cosine {qcos[qi, p]}")
                    break
                if score > prev + SCORE_TOL:
                    fails.setdefault(("topk", b), f"query {qid}: scores out of rank order")
                    break
                prev = score
            exact_ids = {int(stream.ids[p]) for p in exact}
            hits += len(exact_ids & {bid for _, bid, _ in got})
    topk_recall = hits / total if total else 1.0
    return fails, {"dup_recall": dup_recall, "topk_recall": topk_recall,
                   "admitted": int(admitted.sum()), "rejected": int((~admitted).sum())}
