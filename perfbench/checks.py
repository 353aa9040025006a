"""Output checks, computed apart from the engine and run after the timed
region. Each returns a list of problems; an empty list means correct.
Outputs of ops that failed are not checked (they are counted as failed).

    python3 perfbench/checks.py WORKLOAD SEED RUN_DIR

re-checks the outputs a run left in RUN_DIR (.bench_build/runs/WORKLOAD),
e.g. after corrupting one of them by hand; SEED must be the run's.
"""
import json
import math
import os
import sys
from collections import defaultdict

import duckdb
import pyarrow.parquet as pq

# near-duplicate threshold and shingle size of the benchmark's ops
# (Workloads.scala); the sentiment lexicon of LexiconSentiment's contract
THRESHOLD = 0.8
SHINGLE_K = 3
POS = {"fast", "big", "good", "great"}
NEG = {"slow", "small", "bad", "broken"}


def _rows(path):
    return pq.read_table(path).to_pylist()


def _canon(rows, cols):
    """Columns sorted by name, rows sorted; floats rounded to 9 places."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                rr.append("NaN" if math.isnan(v) else repr(round(v, 9) + 0.0))
            else:
                rr.append(repr(v))
        out.append(tuple(rr))
    return [cols[i] for i in order], sorted(out)


def relational(run, truth, failed):
    """Each query's result equals its DuckDB oracle over the same parquet."""
    inp, outputs = f"{run}/input", f"{run}/out/outputs"
    con = duckdb.connect()
    for f in os.listdir(inp):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{inp}/{f}')")
    oracle = json.load(open(f"{run}/out/oracle.json"))
    problems = []
    for name, sql in sorted(oracle.items()):
        if name in failed:
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{outputs}/{name}.parquet/*.parquet')")
            g = _canon(got.fetchall(), [d[0] for d in got.description])
            exp = con.execute(sql)
            e = _canon(exp.fetchall(), [d[0] for d in exp.description])
        except Exception as ex:  # a missing or unreadable output is a wrong output
            problems.append(f"{name}: {ex}")
            continue
        if g[0] != e[0]:
            problems.append(f"{name}: columns {g[0]} != {e[0]}")
        elif g[1] != e[1]:
            diff = [(x, y) for x, y in zip(g[1], e[1]) if x != y][:2]
            problems.append(f"{name}: {len(g[1])} vs {len(e[1])} rows; {diff}")
    return problems


def _shingles(text):
    t = text.split()
    return {" ".join(t[i:i + SHINGLE_K]) for i in range(len(t) - SHINGLE_K + 1)}


def corpus(run, truth, failed):
    texts, n_base = truth["texts"], truth["base"]
    outputs = f"{run}/out/outputs"
    problems = []
    pairs = set()
    if "neardup" not in failed:
        rows = _rows(f"{run}/neardup_pairs.parquet")
        pairs = {(r["d1"], r["d2"]) for r in rows}
        if len(pairs) != len(rows):
            problems.append("neardup: duplicate pairs reported")
        by_text = defaultdict(list)
        for i, t in enumerate(texts):
            by_text[t].append(i)
        missing = [(ids[a], ids[b]) for ids in by_text.values()
                   for a in range(len(ids)) for b in range(a + 1, len(ids))
                   if (ids[a], ids[b]) not in pairs]
        if missing:
            problems.append(f"neardup: {len(missing)} exact-duplicate pairs not reported, "
                            f"e.g. {missing[:3]}")
        # every copy of a planted edit pairs with every copy of its source
        # (shingle Jaccard (k-2)/(k-1) >= 8/9 for k >= 10 tokens)
        missing = {(min(a, b), max(a, b)) for i, src in truth["edits"]
                   for a in by_text[texts[i]] for b in by_text[texts[src]]} - pairs
        if missing:
            problems.append(f"neardup: {len(missing)} planted near-duplicate pairs not "
                            f"reported, e.g. {sorted(missing)[:3]}")
        for r in rows:
            a, b = _shingles(texts[r["d1"]]), _shingles(texts[r["d2"]])
            j = len(a & b) / len(a | b)
            if j < THRESHOLD or abs(j - r["jaccard"]) > 0.05:
                problems.append(f"neardup: pair {r['d1']},{r['d2']} reported at "
                                f"{r['jaccard']:.4f}, shingle Jaccard is {j:.4f}")
                break
    if "clusters" not in failed and "neardup" not in failed:
        problems += _clusters(pairs, _rows(f"{outputs}/clusters.parquet"))
    if "classify" not in failed and "neardup" not in failed:
        base_texts = set(texts[:n_base])
        near = {b for a, b in pairs if a < n_base <= b}
        want = {d: "exact_dup" if texts[d] in base_texts else
                "near_dup" if d in near else "kept" for d in range(n_base, len(texts))}
        rows = _rows(f"{outputs}/classify.parquet")
        got = {r["doc_id"]: r["status"] for r in rows}
        if len(got) != len(rows) or got != want:
            bad = [d for d in want if got.get(d) != want[d]][:3]
            problems.append(f"classify: {len(rows)} rows for {len(want)} batch docs; "
                            f"disagrees with one-shot near-duplicates at {bad}")
    if "nlp" not in failed:
        problems += _tfidf(outputs, len(texts))
        rows = _rows(f"{outputs}/nlp_sentiment.parquet")
        ids = [r["doc_id"] for r in rows]
        if len(ids) != len(texts) or set(ids) != set(range(len(texts))):
            problems.append(f"nlp: {len(ids)} sentiment rows for {len(set(ids))} of "
                            f"{len(texts)} documents")
        for r in rows:
            toks = texts[r["doc_id"]].split()
            pos = sum(t in POS for t in toks)
            neg = sum(t in NEG for t in toks)
            label = "positive" if pos > neg else "negative" if neg > pos else "neutral"
            if (r["n_pos"], r["n_neg"], r["sentiment"]) != (pos, neg, label) or \
                    abs(r["polarity"] - (pos - neg) / len(toks)) > 1e-12:
                problems.append(f"nlp: sentiment of doc {r['doc_id']} is {r}, "
                                f"want {pos}/{neg}/{label}")
                break
    return problems


def _clusters(pairs, rows):
    """Connected components of the pair graph by union-find: every node
    of a pair labelled with the smallest id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # union by min keeps every root the smallest id of its component
    want = {v: find(v) for v in list(parent)}
    got = {r["node"]: r["canon"] for r in rows}
    if len(rows) != len(got) or got != want:
        bad = [v for v in want if got.get(v) != want[v]][:3]
        return [f"clusters: {len(rows)} rows for {len(want)} nodes; wrong at {bad}"]
    return []


def _tfidf(outputs, n_docs):
    """Top-5 TF-IDF recomputed in DuckDB from the cleaned tokens (one row
    per document), for every document: the engine's tokens must be the
    best-scoring ones, with the right scores, ordered by score then
    token."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW toks AS SELECT * FROM read_parquet('{outputs}/nlp_tokens.parquet/*.parquet')")
    ids = [r[0] for r in con.execute("SELECT doc_id FROM toks").fetchall()]
    if len(ids) != n_docs or set(ids) != set(range(n_docs)):
        return [f"nlp: cleaned tokens for {len(set(ids))} of {n_docs} documents"]
    expected = defaultdict(list)
    for d, tok, score in con.execute("""
        WITH tf AS (SELECT doc_id, token, count(*) AS tf
                    FROM (SELECT doc_id, unnest(tokens) AS token FROM toks) GROUP BY ALL),
             df AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
        SELECT tf.doc_id, tf.token, tf.tf * log10(?::DOUBLE / df.df) AS score
        FROM tf JOIN df USING (token)
        ORDER BY tf.doc_id, score DESC, tf.token""", [n_docs]).fetchall():
        expected[d].append((tok, score))
    got = defaultdict(list)
    for d, tok, score in con.execute(f"""
        SELECT doc, token, tfidf FROM read_parquet('{outputs}/nlp_topk.parquet/*.parquet')
        ORDER BY doc, rnk""").fetchall():
        got[d].append((tok, score))
    if not set(got) <= set(range(n_docs)):
        return [f"nlp: top-5 TF-IDF rows for unknown docs {sorted(set(got) - set(range(n_docs)))[:3]}"]
    for d in range(n_docs):
        exp, top = dict(expected[d]), got[d]
        ranked = [s for _, s in expected[d]]
        ok = len(top) == min(5, len(ranked)) and all(
            t in exp and abs(exp[t] - s) <= 1e-9 for t, s in top)
        ok = ok and (not top or len(ranked) <= len(top) or
                     ranked[len(top)] <= min(s for _, s in top) + 1e-9)
        ok = ok and all((-round(a[1], 6), a[0]) <= (-round(b[1], 6), b[0])
                        for a, b in zip(top, top[1:]))
        if not ok:
            return [f"nlp: top-5 TF-IDF of doc {d} is {top}, expected from {expected[d][:6]}"]
    return []


CHECKS = {"relational": relational, "corpus": corpus}

if __name__ == "__main__":
    import gen
    w, seed, run_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    truth = gen.GENERATORS[w](seed, os.path.join(run_dir, "regen"))
    found = CHECKS[w](run_dir, truth, set())
    print("\n".join(found) or "ok")
    sys.exit(1 if found else 0)
