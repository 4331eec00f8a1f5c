"""Independent computations the program's outputs are checked against.

Nothing here imports the program under test: the hierarchy and the
Z-ordered table are re-derived with DuckDB from the same generated
parquet files, the near-neighbour and BM25 answers with NumPy and plain
Python. Every ``check_*`` function returns a list of failure messages;
an empty list means the output passed.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np


def connect(spill_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    if spill_dir:
        con.execute(f"SET temp_directory = '{spill_dir}'")
    return con


# -- hierarchy ---------------------------------------------------------------

def closure_report(con, adjacency_dir: str, facts_dir: str) -> dict:
    """ancestor natural key -> (sales, units, distinct customers, facts),
    by a ``WITH RECURSIVE`` closure over the adjacency list."""
    rows = con.execute(f"""
        WITH RECURSIVE nodes AS (
            SELECT nk, parent_nk FROM read_parquet('{adjacency_dir}/*.parquet')),
        clo(anc, dsc) AS (
            SELECT nk, nk FROM nodes
            UNION ALL
            SELECT clo.anc, n.nk FROM clo JOIN nodes n ON n.parent_nk = clo.dsc)
        SELECT clo.anc, sum(f.sales_cents), sum(f.units),
               count(DISTINCT f.customer_id), count(*)
        FROM read_parquet('{facts_dir}/*.parquet') f
        JOIN clo ON f.product_nk = clo.dsc
        GROUP BY clo.anc""").fetchall()
    return {r[0]: tuple(int(v) for v in r[1:]) for r in rows}


def own_facts(con, facts_dir: str) -> dict:
    """natural key -> (sales, units, distinct customers, facts) of the
    facts that sit on that node itself."""
    rows = con.execute(f"""
        SELECT product_nk, sum(sales_cents), sum(units),
               count(DISTINCT customer_id), count(*)
        FROM read_parquet('{facts_dir}/*.parquet') GROUP BY product_nk""").fetchall()
    return {r[0]: tuple(int(v) for v in r[1:]) for r in rows}


REPORT_MEASURES = ("sum_of_sales_amount", "sum_of_unit_quantity",
                   "distinct_customer_count", "count_of_fact_records")


def report_by_key(rows: list) -> dict:
    return {r["ancestor_node_natural_key"]: tuple(int(r[m]) for m in REPORT_MEASURES)
            for r in rows}


def check_report(rows: list, expected: dict, parent: dict, own: dict,
                 fact_rows: int) -> list:
    """A collected report (list of dict rows) against the DuckDB closure
    aggregation and the roll-up properties of a hierarchy."""
    errs = []
    got = report_by_key(rows)
    if len(got) != len(rows):
        errs.append(f"report has {len(rows) - len(got)} repeated ancestors")
    if got != expected:
        missing = set(expected) - set(got)
        extra = set(got) - set(expected)
        wrong = [k for k in set(got) & set(expected) if got[k] != expected[k]]
        errs.append(f"report differs from DuckDB: {len(missing)} missing, "
                    f"{len(extra)} extra, {len(wrong)} wrong rows")
    roots = [k for k, p in parent.items() if p is None]
    for r in roots:
        if got.get(r, (0, 0, 0, 0))[3] != fact_rows:
            errs.append(f"root {r} counts {got.get(r)} facts, table has {fact_rows}")
    children: dict = {}
    for k, p in parent.items():
        if p is not None and k in got:
            children.setdefault(p, []).append(got[k])
    zero = (0, 0, 0, 0)
    for k, kids in children.items():
        if k not in got:
            continue
        mine = own.get(k, zero)
        for i in (0, 1, 3):
            if got[k][i] != sum(c[i] for c in kids) + mine[i]:
                errs.append(f"node {k}: measure {REPORT_MEASURES[i]} is not "
                            "the sum over its children and its own facts")
                break
        lo = max([c[2] for c in kids] + [mine[2]])
        hi = sum(c[2] for c in kids) + mine[2]
        if not lo <= got[k][2] <= hi:
            errs.append(f"node {k}: distinct count {got[k][2]} outside [{lo}, {hi}]")
    return errs[:10]


def check_same_report(a: list, b: list) -> list:
    """Closure and ROLLUP reports must agree row for row."""
    if len(a) != len(b):
        return [f"closure report has {len(a)} rows, ROLLUP {len(b)}"]
    cols = [c for c in a[0] if c in b[0]] if a else []
    for i, (x, y) in enumerate(zip(a, b)):
        if any(x[c] != y[c] for c in cols):
            return [f"closure and ROLLUP reports differ at row {i}"]
    return []


def check_closure_rows(n: int, depths: list) -> list:
    want = sum(depths)
    return [] if n == want else [f"closure has {n} rows, sum of depths is {want}"]


# -- Z-ordered table ---------------------------------------------------------

class TableModel:
    """The table's expected contents, kept in DuckDB: append adds the
    batch, upsert replaces rows by key and inserts new keys."""

    def __init__(self, con, base_dir: str):
        self.con = con
        con.execute(f"CREATE OR REPLACE TABLE t AS "
                    f"SELECT * FROM read_parquet('{base_dir}/*.parquet')")

    def append(self, batch_dir: str) -> None:
        self.con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{batch_dir}/*.parquet')")

    def upsert(self, batch_dir: str) -> None:
        src = f"read_parquet('{batch_dir}/*.parquet')"
        self.con.execute(f"DELETE FROM t WHERE key IN (SELECT key FROM {src})")
        self.con.execute(f"INSERT INTO t SELECT * FROM {src}")

    def box_count(self, box: tuple) -> int:
        t_lo, t_hi, x_lo, x_hi = box
        return self.con.execute(
            "SELECT count(*) FROM t WHERE ts BETWEEN ? AND ? AND x BETWEEN ? AND ?",
            [t_lo, t_hi, x_lo, x_hi]).fetchone()[0]

    def rows(self) -> list:
        return self.con.execute(
            "SELECT key, ts, x, val, tag FROM t ORDER BY key").fetchall()


def check_box_count(got: int, want: int, what: str) -> list:
    return [] if got == want else [f"{what}: program counts {got} rows, DuckDB {want}"]


def check_keys_unique(n_rows: int, n_keys: int, what: str) -> list:
    return [] if n_rows == n_keys else [f"{what}: {n_rows} rows but {n_keys} distinct keys"]


def check_snapshot(got: list, want: list) -> list:
    """Full-table comparison; both sides sorted by key."""
    if len(got) != len(want):
        return [f"snapshot has {len(got)} rows, DuckDB {len(want)}"]
    for i, (a, b) in enumerate(zip(got, want)):
        if tuple(a) != tuple(b):
            return [f"snapshot row {i} differs: {a} vs {b}"]
    return []


# -- corpus ------------------------------------------------------------------

def exact_dup_ids(con, corpus_dir: str, earlier_batch_dirs: list, batch_dir: str) -> set:
    """Batch documents whose lower-cased text hashes into the corpus or
    an earlier batch of the same round."""
    seen = " UNION ALL ".join(
        f"SELECT md5(lower(text)) AS h FROM read_parquet('{d}/*.parquet')"
        for d in [corpus_dir, *earlier_batch_dirs])
    rows = con.execute(f"""
        SELECT doc_id FROM read_parquet('{batch_dir}/*.parquet')
        WHERE md5(lower(text)) IN (SELECT h FROM ({seen}))""").fetchall()
    return {r[0] for r in rows}


def shingle_set(text: str, width: int = 3) -> set:
    """Distinct word 3-grams of the whitespace tokens, the rule the
    program's MinHash signatures are computed over."""
    toks = text.split()
    return {" ".join(toks[i:i + width])
            for i in range(max(len(toks) - (width - 1), 1))}


def jaccard(a: str, b: str) -> float:
    x, y = shingle_set(a), shingle_set(b)
    return len(x & y) / len(x | y)


def lsh_recall_floor(jaccards: list, bands: int, rows: int, alpha: float = 1e-4) -> float:
    """The recall a correct MinHash-LSH index falls below with
    probability at most ``alpha``. A pair with Jaccard J is a candidate
    with probability 1 - (1 - J^rows)^bands, independently of the other
    pairs; the count of found pairs then follows a Poisson-binomial
    distribution, computed exactly here (its tail is far from normal
    when every probability is close to 1)."""
    dist = [1.0]                     # dist[k] = P(k pairs found so far)
    for j in jaccards:
        p = 1.0 - (1.0 - j ** rows) ** bands
        nxt = [0.0] * (len(dist) + 1)
        for k, q in enumerate(dist):
            nxt[k] += q * (1.0 - p)
            nxt[k + 1] += q * p
        dist = nxt
    below = 0.0                      # P(found < k)
    for k, q in enumerate(dist):
        if below + q > alpha:
            return k / len(jaccards)
        below += q
    return 1.0


def check_dedup_flags(flags: dict, exact_ids: set, fresh_ids: set,
                      near_ids: set, near_floor: float) -> list:
    """``flags``: doc id -> (exact_dup, near_dup) from the program."""
    errs = []
    got_exact = {d for d, (e, _n) in flags.items() if e}
    if got_exact != exact_ids:
        errs.append(f"exact-duplicate flags differ from DuckDB's hash set: "
                    f"{len(exact_ids - got_exact)} missed, {len(got_exact - exact_ids)} extra")
    flagged_fresh = [d for d in fresh_ids if any(flags.get(d, (False, False)))]
    if flagged_fresh:
        errs.append(f"{len(flagged_fresh)} fresh documents flagged as duplicates")
    if near_ids:
        recall = sum(1 for d in near_ids if flags.get(d, (False, False))[1]) / len(near_ids)
        if recall < near_floor:
            errs.append(f"near-copy recall {recall:.3f} below floor {near_floor:.3f}")
    return errs


def exact_topk(corpus: np.ndarray, ids: np.ndarray, queries: np.ndarray, k: int) -> list:
    """Per query, [(id, cosine)] of the k nearest by exact cosine."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qn @ cn.T
    out = []
    for row in sims:
        order = np.lexsort((ids, -row))[:k]
        out.append([(int(ids[i]), float(row[i])) for i in order])
    return out


def cosine_of(corpus: np.ndarray, ids: np.ndarray, q: np.ndarray, doc: int) -> float:
    v = corpus[np.searchsorted(ids, doc)]
    return float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))


def check_ann(got: dict, exact: list, corpus: np.ndarray, ids: np.ndarray,
              queries: np.ndarray, recall_floor: float, tol: float = 1e-9) -> list:
    """``got``: query index -> [(neighbour id, cosine)] in rank order."""
    errs = []
    hits = total = 0
    for qi, want in enumerate(exact):
        rows = got.get(qi, [])
        if len(rows) != len(want):
            errs.append(f"query {qi}: {len(rows)} neighbours, expected {len(want)}")
        for doc, score in rows:
            if abs(score - cosine_of(corpus, ids, queries[qi], doc)) > tol:
                errs.append(f"query {qi}: rerank score of {doc} differs from NumPy")
                break
        scores = [s for _d, s in rows]
        if scores != sorted(scores, reverse=True):
            errs.append(f"query {qi}: neighbours not in score order")
        hits += len({d for d, _s in rows} & {d for d, _s in want})
        total += len(want)
    if total and hits / total < recall_floor:
        errs.append(f"recall@k {hits / total:.3f} below floor {recall_floor}")
    return errs[:10]


def bm25_scores(docs: dict, terms: list, k1: float = 1.2, b: float = 0.75) -> dict:
    """doc id -> BM25 score. Tokens are the whitespace-split, non-empty
    pieces of the text (case kept); idf is the division-only
    (N - df + 0.5) / (df + 0.5)."""
    toks = {d: t.split() for d, t in docs.items()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {t: sum(1 for ts in toks.values() if t in ts) for t in terms}
    scores = {}
    for d, ts in toks.items():
        dl = float(len(ts))
        s = 0.0
        for t in terms:
            tf = float(ts.count(t))
            idf = (n - df[t] + 0.5) / (df[t] + 0.5)
            s += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        scores[d] = s
    return scores


def top_k(scores: dict, k: int) -> list:
    """[(doc id, score)] by score desc, id asc."""
    return sorted(scores.items(), key=lambda r: (-r[1], r[0]))[:k]


def check_bm25(got: list, want: list, all_scores: dict, tol: float = 1e-9) -> list:
    """``got``/``want``: [(doc id, score)]. Positions must agree on
    score; each returned id must really carry its score; ids must agree
    wherever the reference has no tie within ``tol``."""
    if len(got) != len(want):
        return [f"BM25 returned {len(got)} rows, expected {len(want)}"]
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if abs(gs - ws) > tol * max(1.0, abs(ws)):
            return [f"BM25 rank {i}: score {gs} vs {ws}"]
        if abs(all_scores[gd] - gs) > tol * max(1.0, abs(gs)):
            return [f"BM25 rank {i}: doc {gd} does not score {gs}"]
        tied = any(abs(s - ws) <= tol * max(1.0, abs(ws))
                   for d, s in all_scores.items() if d != wd)
        if gd != wd and not tied:
            return [f"BM25 rank {i}: doc {gd}, expected {wd}"]
    return []


def digest(rows: list) -> str:
    """Order-sensitive fingerprint of collected rows, to show later
    rounds return what the checked first round returned."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()
