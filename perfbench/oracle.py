"""Output checks of the benchmark, run once the JVM has exited.

Rows are compared the way graft's DuckDB self-check compares them: column
names sorted, rows sorted, floats equal within 1e-9 relative. Each check
returns the names of the operations whose output is wrong.
"""
import math
import os

import duckdb
import numpy as np


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _sort(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return sorted(cols), out


def _fetch(con, sql):
    cur = con.execute(sql)
    return _sort([d[0] for d in cur.description], cur.fetchall())


def _approx(a, b):
    if a is b or a == b:
        return True
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if "NaN" in (a, b):
            return False
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_approx(x, y) for x, y in zip(a, b))
    return False


def same(got, want):
    (gc, gr), (wc, wr) = got, want
    return gc == wc and len(gr) == len(wr) and all(_approx(a, b) for a, b in zip(gr, wr))


def same_sql(con, got_sql, want_sql):
    """`same` for two queries: an exact multiset comparison inside DuckDB,
    falling back to the tolerant row comparison when that finds a
    difference."""
    cols = [sorted(d[0] for d in con.execute(f"SELECT * FROM ({q}) LIMIT 0").description)
            for q in (got_sql, want_sql)]
    if cols[0] != cols[1]:
        return False
    names = ", ".join(f'"{c}"' for c in cols[0])
    a, b = (f"SELECT {names} FROM ({q})" for q in (got_sql, want_sql))
    try:
        if con.execute(f"SELECT count(*) FROM (({a} EXCEPT ALL {b}) UNION ALL "
                       f"({b} EXCEPT ALL {a}))").fetchone()[0] == 0:
            return True
    except duckdb.Error:
        pass                    # types DuckDB cannot compare as sets
    return same(_fetch(con, got_sql), _fetch(con, want_sql))


def _connect(table_dir, names):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in names:
        p = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


# ------------------------------------------------------------------ adhoc --

def adhoc(data, out, queries):
    """Each query's warm-up result against its oracle SQL."""
    con = _connect(os.path.join(data, "adhoc"),
                   ["customer", "supplier", "part", "orders", "lineitem", "events",
                    "documents"])
    bad = []
    for q in queries:
        path = os.path.join(out, "adhoc", q["name"])
        if not os.path.isdir(path):
            continue            # the warm-up threw; the JVM counted it
        try:
            ok = same_sql(con, f"SELECT * FROM '{path}/*.parquet'", q["sql"])
        except duckdb.Error as e:
            print(f"adhoc {q['name']}: {e}")
            ok = False
        if not ok:
            bad.append(q["name"])
    return bad


# ----------------------------------------------------------------- curate --

def _tokens(text):
    import re
    return [t for t in re.split(r"\W+", text.lower()) if t]


def _shingles(toks, n):
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def curate(data, out, decontam_n=13, pair_threshold=0.8, recall_floor=0.9):
    """Every recipe pass: exact recomputation where one exists (exact-tier
    survivors, n-gram contamination flags, IVF recall@10 against brute
    force), invariants elsewhere. Returns `pass-<i>/<op>` for each wrong
    output."""
    docs_p = os.path.join(data, "curate", "docs.parquet")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW docs AS SELECT * FROM '{docs_p}'")
    con.execute(f"CREATE VIEW eval AS SELECT * FROM '{os.path.join(data, 'curate', 'eval.parquet')}'")

    # n-gram contamination flags, recomputed exactly
    n = decontam_n
    con.execute(f"""CREATE TABLE want AS WITH
      sh AS (SELECT src, id, CASE WHEN len(toks) < {n} THEN [array_to_string(toks, ' ')]
               ELSE list_distinct(list_transform(generate_series(0, len(toks) - {n}),
                      i -> array_to_string(toks[i+1:i+{n}], ' '))) END AS sh
             FROM (SELECT 'd' AS src, doc_id AS id, list_filter(regexp_split_to_array(
                     lower(text), '\\W+'), t -> length(t) > 0) AS toks FROM docs
                   UNION ALL
                   SELECT 'e', eval_id, list_filter(regexp_split_to_array(
                     lower(text), '\\W+'), t -> length(t) > 0) FROM eval)),
      ev AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE src = 'e'),
      dg AS (SELECT id, unnest(sh) AS g FROM sh WHERE src = 'd')
      SELECT id AS doc_id, count(*) AS n_ngrams, count(ev.g) AS n_hits,
             count(ev.g) >= 1 AS contaminated
      FROM dg LEFT JOIN ev ON dg.g = ev.g GROUP BY id""")
    want_flags = _fetch(con, "SELECT * FROM want")

    # brute-force cosine top 10 of the IVF queries
    emb = con.execute(f"""SELECT doc_id, embedding FROM
        '{os.path.join(data, 'curate', 'emb.parquet')}' ORDER BY doc_id""").fetchall()
    ids = np.array([e[0] for e in emb])
    vec = np.array([e[1] for e in emb], dtype=np.float64)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    qs = ids[ids % 50 == 0]
    top = np.argsort(-(vec[np.searchsorted(ids, qs)] @ vec.T), axis=1)[:, :10]

    bad = []
    subset = "SELECT count(*) FROM {op} WHERE doc_id NOT IN (SELECT doc_id FROM docs)"
    passes = sorted((d for d in os.listdir(os.path.join(out, "curate")) if d.startswith("pass-")),
                    key=lambda d: int(d[5:]))
    for ps in passes:
        def view(op):
            path = os.path.join(out, "curate", ps, op)
            if not os.path.isdir(path):
                return False        # the operator threw; the JVM counted it
            con.execute(f"CREATE OR REPLACE VIEW {op} AS SELECT * FROM '{path}/*.parquet'")
            return True

        def check(op, sql_zero):
            """Every query in `sql_zero` must return 0."""
            if not view(op):
                return
            for sql in sql_zero:
                k = con.execute(sql).fetchone()[0]
                if k:
                    print(f"curate {ps} {op}: {k} rows violate: {' '.join(sql.split())[:160]}")
                    bad.append(f"{ps}/{op}")
                    return

        # exact tier: a survivor is the smallest id among documents with its text
        check("curate", [subset.format(op="curate"),
            """SELECT count(*) FROM (SELECT DISTINCT doc_id FROM curate) s JOIN docs d USING (doc_id)
               JOIN (SELECT text, min(doc_id) AS keep FROM docs GROUP BY text) t ON d.text = t.text
               WHERE s.doc_id <> t.keep""",
            """SELECT count(*) = 0 FROM curate"""])
        check("dedupNearBy", [subset.format(op="dedupNearBy"),
            """SELECT count(*) FROM (SELECT text FROM dedupNearBy GROUP BY text HAVING count(*) > 1)"""])
        # exact duplicates share every span with their twin: all tokens are cut
        check("removeDupSpans", [
            """SELECT count(*) FROM removeDupSpans WHERE n_removed > n_tokens OR n_removed < 0""",
            """SELECT (SELECT count(*) FROM removeDupSpans) <> (SELECT count(*) FROM docs)""",
            """SELECT count(*) FROM removeDupSpans r JOIN docs d USING (doc_id)
               WHERE d.text IN (SELECT text FROM docs GROUP BY text HAVING count(*) > 1)
                 AND r.n_tokens >= 8 AND r.n_removed <> r.n_tokens"""])
        check("classifierFilter", [subset.format(op="classifierFilter"),
            "SELECT count(*) FROM classifierFilter WHERE classifier_score < 0.5"])
        check("semDedup", [subset.format(op="semDedup"),
            "SELECT (SELECT count(*) FROM semDedup) >= (SELECT count(*) FROM docs)"])

        if view("flagContaminated"):
            got = _fetch(con, "SELECT doc_id, n_ngrams, n_hits, contaminated FROM flagContaminated")
            if not same(got, want_flags):
                print(f"curate {ps} flagContaminated: flags differ from the n-gram recomputation")
                bad.append(f"{ps}/flagContaminated")

        if view("ivfTopK"):
            got = {}
            for q, nb in con.execute("SELECT query_id, neighbor_id FROM ivfTopK").fetchall():
                got.setdefault(q, set()).add(nb)
            recall = np.mean([len(got.get(int(q), set()) & set(ids[t].tolist())) / 10.0
                              for q, t in zip(qs, top)])
            if recall < recall_floor:
                print(f"curate {ps} ivfTopK: recall@10 {recall:.3f} < {recall_floor}")
                bad.append(f"{ps}/ivfTopK")

    # every reported near-dup pair has exact word-shingle Jaccard >= threshold
    pairs = os.path.join(out, "curate", "pass-0", "pairs")
    if os.path.isdir(pairs):
        text = dict(con.execute("SELECT doc_id, text FROM docs").fetchall())
        for a, b in con.execute(f"SELECT id_a, id_b FROM '{pairs}/*.parquet'").fetchall():
            sa, sb = _shingles(_tokens(text[a]), 3), _shingles(_tokens(text[b]), 3)
            if len(sa & sb) / len(sa | sb) < pair_threshold - 1e-9:
                print(f"curate dedupNearBy: pair ({a}, {b}) below the Jaccard threshold")
                bad.append("pairs")
                break
    return bad
