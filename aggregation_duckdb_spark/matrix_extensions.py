"""Extension operator matrix: dedup, similarity search, text analysis,
event-time, multimodal — each as an oracle-checked (Spark, DuckDB) pair.

The oracles reproduce the operators exactly (same md5-string hash
families, same fold order for float math), so even the MinHash/LSH and
cosine entries hash-match bit-for-bit. SQL for the wide generated
expressions (simhash bits, 64-dim cosine) is built programmatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from aggregation_duckdb_spark.io import load_table
from aggregation_duckdb_spark.matrix import register
from aggregation_duckdb_spark.operators import dedup as D
from aggregation_duckdb_spark.operators import events as E
from aggregation_duckdb_spark.operators import multimodal as M
from aggregation_duckdb_spark.operators import pipeline as P
from aggregation_duckdb_spark.operators import ranges as R
from aggregation_duckdb_spark.operators import similarity as S
from aggregation_duckdb_spark.operators import text as T
from aggregation_duckdb_spark import runtime as _RT
from aggregation_duckdb_spark.runtime import materialize

# ---------------------------------------------------------------------
# shared DuckDB SQL fragments (mirror the Spark operators exactly)
# ---------------------------------------------------------------------

# tokens: whitespace split, empties filtered (mirrors text.tokens)
_TOKS = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"


def _shingle_sql(width: int = 3) -> str:
    """Mirror of dedup.shingles: distinct word n-grams, short docs
    yield one truncated shingle."""
    return f"""list_distinct(list_transform(
        generate_series(1, greatest(len(toks) - {width - 1}, 1)),
        i -> array_to_string(toks[i:i+{width - 1}], ' ')))"""


def _minhash_sql(num_hashes: int = 12) -> str:
    """Mirror of dedup.minhash_signature_from_pairs over column ``hs``
    (one md5 hex per shingle): family i = (h1 + i·h2) mod P with h1/h2
    the 32-bit halves — exact int64 math in both engines."""
    h1 = "('0x' || substr(h, 1, 8))::BIGINT"
    h2 = "('0x' || substr(h, 9, 8))::BIGINT"
    mins = ", ".join(
        f"list_min(list_transform(hs, h -> ({h1} + {i} * {h2}) % 4294967311))"
        for i in range(num_hashes))
    return f"[{mins}]"


def _band_sql(num_bands: int, band_size: int) -> str:
    keys = ", ".join(
        f"md5('{b}|' || array_to_string(sig[{b * band_size + 1}:"
        f"{(b + 1) * band_size}], '|'))"
        for b in range(num_bands))
    return f"[{keys}]"


# ---------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------

@register("text_stats", f"""
WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
            AS BIGINT) AS n_punct,
       CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
           / len(toks) AS avg_token_len,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens
FROM d ORDER BY doc_id
""")
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (T.text_stats(load_table(spark, "documents", sf_dir))
            .orderBy("doc_id"))


def _lang_id_oracle() -> str:
    score_cols = ", ".join(
        "CAST(len(list_filter(toks, t -> list_contains({}, t))) AS BIGINT)"
        " AS score_{}".format(
            "[" + ", ".join(f"'{w}'" for w in ws) + "]", lang)
        for lang, ws in T.LANG_STOPWORDS.items())
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in T.LANG_STOPWORDS) + ")"
    pick = "CASE " + " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in T.LANG_STOPWORDS
    ) + " END"
    return f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {score_cols} FROM d)
SELECT doc_id, {", ".join(f"score_{lang}" for lang in T.LANG_STOPWORDS)},
       CASE WHEN {best} > 0 THEN {pick} ELSE 'und' END AS predicted_lang
FROM s ORDER BY doc_id
"""


@register("text_language_id", _lang_id_oracle())
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (T.language_id(load_table(spark, "documents", sf_dir))
            .orderBy("doc_id"))


_ALL_STOP = sorted({w for ws in T.LANG_STOPWORDS.values() for w in ws})


@register("text_quality", f"""
WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
m AS (SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                  AS DOUBLE) AS n_punct,
             CAST(len(list_filter(toks, t -> list_contains(
                 [{", ".join(f"'{w}'" for w in _ALL_STOP)}], t))) AS DOUBLE) AS n_stop
      FROM d)
SELECT doc_id,
       round(least(n_tok / 64.0, 1.0), 6) AS length_score,
       round(n_punct / greatest(n_chars, 1.0), 6) AS punct_ratio,
       round(n_stop / greatest(n_tok, 1.0), 6) AS stopword_ratio,
       round(0.4 * least(n_tok / 64.0, 1.0)
             + 0.3 * (1.0 - n_punct / greatest(n_chars, 1.0))
             + 0.3 * least(n_stop / greatest(n_tok, 1.0) * 4, 1.0), 6)
           AS quality_score
FROM m ORDER BY doc_id
""")
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (T.quality_score(load_table(spark, "documents", sf_dir))
            .orderBy("doc_id"))


@register("text_fingerprint", f"""
WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, text, {_shingle_sql(3)} AS sh FROM d)
SELECT doc_id,
       md5(lower(text)) AS exact_fingerprint,
       list_min(list_transform(sh, s -> md5(s))) AS min_shingle_hash
FROM s ORDER BY doc_id
""")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (T.fingerprint(load_table(spark, "documents", sf_dir))
            .orderBy("doc_id"))


@register("text_rolling_hash", """
SELECT doc_id,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    list_transform(generate_series(1, length(text)),
                   i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
    (acc, c) -> (acc * 131 + c) % 2147483647) AS doc_hash,
  list_min(list_transform(generate_series(1, greatest(length(text) - 7, 1)),
    i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(0, least(7, length(text) - i)),
                          j -> CAST(ascii(substr(text, i + j, 1)) AS BIGINT))),
           (acc, c) -> (acc * 131 + c) % 2147483647))) AS min_gram_hash
FROM documents ORDER BY doc_id
""")
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin–Karp rolling-hash fingerprints (whole-doc + min 8-gram
    window): exact integer folds, bit-identical in DuckDB."""
    return (T.rolling_fingerprint(load_table(spark, "documents", sf_dir))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------

@register("dedup_exact_survivors", """
WITH keepers AS (
    SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(lower(text)))
SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
ORDER BY d.doc_id
""")
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (D.exact_dedup(docs)
            .select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))
            .orderBy("doc_id"))


@register("dedup_minhash_lsh", f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_shingle_sql(3)} AS sh FROM d),
hashes AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS hs FROM s),
sigs AS (SELECT doc_id, {_minhash_sql(12)} AS sig FROM hashes),
buckets AS (
    SELECT doc_id AS doc, UNNEST({_band_sql(4, 3)}) AS bucket FROM sigs)
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.doc < b.doc
ORDER BY doc_a, doc_b
""")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs — signatures, band keys, and the
    bucket self-join reproduce bit-for-bit in the oracle (md5-string
    hash family, no RNG)."""
    docs = load_table(spark, "documents", sf_dir)
    return (D.minhash_lsh_candidates(docs, num_hashes=12, num_bands=4)
            .orderBy("doc_a", "doc_b"))


_JACCARD_SQL = f"""
WITH d AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {_shingle_sql(3)} AS sh FROM d)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           AS jaccard
FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      >= 0.6
ORDER BY doc_a, doc_b
"""


@register("dedup_jaccard_pairs", _JACCARD_SQL)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard within same-language blocks (blocking keeps
    the pair space linear-ish; the LSH entry is the unblocked scale
    path)."""
    docs = load_table(spark, "documents", sf_dir)
    sh = docs.select(F.col("doc_id"), F.col("lang"),
                     D.shingles(F.col("text"), 3).alias("__sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh")))
    union = F.size(F.col("a.__sh")) + F.size(F.col("b.__sh")) - inter
    jac = inter.cast("double") / union.cast("double")
    return (a.join(b, (F.col("a.lang") == F.col("b.lang"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    jac.alias("jaccard"))
            .where(F.col("jaccard") >= 0.6)
            .orderBy("doc_a", "doc_b"))


@register("dedup_near_duplicates", f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_shingle_sql(3)} AS sh FROM d),
hashes AS (SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS hs FROM s),
sigs AS (SELECT doc_id, sh, {_minhash_sql(12)} AS sig FROM hashes),
buckets AS (
    SELECT doc_id AS doc, UNNEST({_band_sql(4, 3)}) AS bucket FROM sigs),
cands AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.doc < b.doc)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))
                  AS DOUBLE) AS jaccard
FROM cands c
JOIN s sa ON c.doc_a = sa.doc_id
JOIN s sb ON c.doc_b = sb.doc_id
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      >= 0.6
ORDER BY doc_a, doc_b
""")
def dedup_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scale pipeline: LSH candidates → exact Jaccard verify."""
    docs = load_table(spark, "documents", sf_dir)
    return (D.near_duplicates(docs, threshold=0.6, num_hashes=12, num_bands=4)
            .orderBy("doc_a", "doc_b"))


def _simhash_oracle(bits: int = 16) -> str:
    hexhigh = "('8','9','a','b','c','d','e','f')"
    bit_exprs = " || ".join(
        f"(CASE WHEN list_sum(list_transform(toks, t -> CASE WHEN "
        f"substr(md5(t), {b + 1}, 1) IN {hexhigh} THEN 1 ELSE -1 END)) > 0 "
        f"THEN '1' ELSE '0' END)"
        for b in range(bits))
    return f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id, {bit_exprs} AS simhash FROM d ORDER BY doc_id
"""


@register("dedup_simhash", _simhash_oracle(16))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (docs.select("doc_id",
                        D.simhash_bits(F.col("text"), 16).alias("simhash"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------

def _cosine_sql(a: str, b: str, dim: int = 64) -> str:
    """Mirror of similarity.cosine's sequential fold: 0.0 + t1 + t2 …
    ('+' is left-associative in both parsers → identical grouping)."""
    dot = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1))
    na = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1))
    nb = " + ".join(
        f"CAST({b}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1))
    return (f"(CAST(0.0 AS DOUBLE) + {dot}) / "
            f"(sqrt(CAST(0.0 AS DOUBLE) + {na}) * sqrt(CAST(0.0 AS DOUBLE) + {nb}))")


@register("sim_topk_bruteforce", f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
    SELECT query_id, neighbor_id, {_cosine_sql('qv', 'cv')} AS cosine_sim
    FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored)
SELECT query_id, neighbor_id, cosine_sim, rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
""")
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for a bounded query set — the ANN baseline.
    Scores are a sequential double fold → bit-identical to the oracle."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    return (S.brute_force_topk(emb, queries, k=10)
            .select("query_id", "neighbor_id", "cosine_sim", "rank")
            .orderBy("query_id", "rank"))


def _bucket_sql(col: str, t: int, mats: list) -> str:
    """DuckDB mirror of similarity._bucket_keys for table t: ±1 terms
    summed left-to-right (IEEE-exact same fold as the Spark side)."""
    bits = []
    for signs in mats[t]:
        terms = " + ".join(
            ("" if s > 0 else "- ") + f"CAST({col}[{i + 1}] AS DOUBLE)"
            for i, s in enumerate(signs))
        bits.append(f"(CASE WHEN (CAST(0.0 AS DOUBLE) + {terms}) > 0 "
                    f"THEN '1' ELSE '0' END)")
    return f"'{t}|' || " + " || ".join(bits)


def _neardup_lsh_oracle(threshold: float, num_tables: int,
                        bits_per_table: int, dim: int = 64) -> str:
    """Mirror of similarity.embedding_near_duplicates_lsh: identical
    deterministic buckets on both engines, so candidate generation —
    not just the verify — is bit-exact across the oracle pair."""
    mats = S.lsh_sign_matrix(num_tables, bits_per_table, dim)
    buckets = " UNION ALL ".join(
        f"SELECT vec_id, v, {_bucket_sql('v', t, mats)} AS bucket FROM e"
        for t in range(num_tables))
    return f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
eb AS ({buckets}),
cands AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           a.v AS va, b.v AS vb
    FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT id_a, id_b, {_cosine_sql('va', 'vb')} AS cosine_sim
FROM cands
WHERE {_cosine_sql('va', 'vb')} >= {threshold}
ORDER BY id_a, id_b
"""


@register("sim_embedding_neardup", _neardup_lsh_oracle(0.4, 6, 8))
def sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH-bucketed candidates +
    exact-cosine verify — the scale path (bucket equi-join, never a
    cross product; ~2^-(bits+1) of the all-pairs candidate count per
    table). The DuckDB oracle mirrors the deterministic buckets
    bit-for-bit, so the comparison covers candidate generation too.
    Threshold 0.4 is tuned to the synthetic corpus (real near-dup
    corpora use ≥0.95, where candidate recall is far higher — see
    tests/test_extensions.py recall assertions)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return (S.embedding_near_duplicates_lsh(emb, threshold=0.4,
                                            num_tables=6, bits_per_table=8)
            .orderBy("id_a", "id_b"))


def _lsh_oracle(k: int = 10, num_tables: int = 4, bits_per_table: int = 6,
                dim: int = 64) -> str:
    """Mirror of similarity.lsh_topk: the ±1 sign matrices are Python
    constants shared with the Spark plan, products by ±1 are IEEE-exact,
    and the cosine re-rank is the same sequential fold."""
    mats = S.lsh_sign_matrix(num_tables, bits_per_table, dim)

    def bucket(col: str, t: int) -> str:
        bits = []
        for signs in mats[t]:
            terms = " + ".join(
                ("" if s > 0 else "- ") + f"CAST({col}[{i + 1}] AS DOUBLE)"
                for i, s in enumerate(signs))
            bits.append(f"(CASE WHEN (CAST(0.0 AS DOUBLE) + {terms}) > 0 "
                        f"THEN '1' ELSE '0' END)")
        return f"'{t}|' || " + " || ".join(bits)

    c_buckets = " UNION ALL ".join(
        f"SELECT neighbor_id, cv, {bucket('cv', t)} AS bucket FROM c"
        for t in range(num_tables))
    q_buckets = " UNION ALL ".join(
        f"SELECT query_id, qv, {bucket('qv', t)} AS bucket FROM q"
        for t in range(num_tables))
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
cb AS ({c_buckets}),
qb AS ({q_buckets}),
cands AS (
    SELECT DISTINCT qb.query_id, cb.neighbor_id, qb.qv, cb.cv
    FROM cb JOIN qb ON cb.bucket = qb.bucket
    WHERE cb.neighbor_id <> qb.query_id),
scored AS (
    SELECT query_id, neighbor_id, {_cosine_sql('qv', 'cv')} AS cosine_sim
    FROM cands),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored)
SELECT query_id, neighbor_id, cosine_sim, rank
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


@register("sim_lsh_topk", _lsh_oracle())
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN: map-side bucketing, equi-join candidates,
    exact cosine re-rank — the codebook-free scale path, bit-exact vs
    the DuckDB mirror."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    return (S.lsh_topk(emb, queries, k=10)
            .select("query_id", "neighbor_id", "cosine_sim", "rank")
            .orderBy("query_id", "rank"))


@register("sim_ivf_topk")  # approximate path: rows-only check (float
# centroid means differ across engines in the last bits; the exact
# baseline above is the oracle-checked twin). Accuracy is bounded by
# tests/test_approx_accuracy.py: recall@10 >= 0.9 vs brute force at
# THIS entry's parameters. The synthetic embeddings are i.i.d. noise —
# the IVF worst case, where recall ~= probed fraction — so n_probe is
# tuned to the recall target here; on clusterable data the same
# operator reaches >= 0.95 recall probing 2 of 10 cells (also pinned
# in that test file).
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    cents = S.kmeans_fit(emb, k=10, max_iters=8)
    queries = emb.where(F.col("vec_id") < 5)
    return (S.ivf_topk(emb, queries, cents, k=10, n_probe=9)
            .select("query_id", "neighbor_id", "cosine_sim", "rank")
            .orderBy("query_id", "rank"))


# ---------------------------------------------------------------------
# skew-hardened exact distinct (SURVEY §7 phase 6)
# ---------------------------------------------------------------------

from aggregation_duckdb_spark import flagship as _fs


@register("hier_distinct_twostage", f"""
WITH RECURSIVE nodes AS ({_fs.GEO_NODES_SQL}),
levels AS (
    SELECT natural_key, [natural_key] AS path_keys
    FROM nodes WHERE parent_natural_key IS NULL
    UNION ALL
    SELECT n.natural_key, list_append(l.path_keys, n.natural_key)
    FROM nodes n JOIN levels l ON n.parent_natural_key = l.natural_key),
closure AS (
    SELECT UNNEST(path_keys) AS ancestor_key, natural_key AS descendant_key
    FROM levels)
SELECT c.ancestor_key AS ancestor_node_natural_key,
       COUNT(DISTINCT o.o_custkey) AS distinct_count
FROM orders o
JOIN customer cu ON o.o_custkey = cu.c_custkey
JOIN closure c ON CAST(cu.c_nationkey AS BIGINT) = c.descendant_key
GROUP BY c.ancestor_key
ORDER BY ancestor_node_natural_key
""")
def hier_distinct_twostage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-critical distinct, two-stage form: pre-dedup on
    (ancestor, customer) — a shuffle whose key includes the distinct
    value, so hot ancestors spread across partitions (inherent salting)
    — then a cheap count. Must equal the plain COUNT(DISTINCT) oracle
    exactly; this is the skew-hardening path for 100 TB fact tables."""
    from aggregation_duckdb_spark import flagship as fs
    from aggregation_duckdb_spark.operators.aggregate import (
        distinct_count_two_stage)
    facts = fs.order_facts(spark, sf_dir)
    closure = fs.geo_hierarchy(spark, sf_dir).closure()
    out = distinct_count_two_stage(
        facts, closure, "nation_key", "o_custkey",
        group_cols=["ancestor_node_natural_key"])
    return out.orderBy("ancestor_node_natural_key")


@register("hier_subtree_agg", f"""
WITH RECURSIVE nodes AS ({_fs.GEO_NODES_SQL}),
levels AS (
    SELECT natural_key, [natural_key] AS path_keys
    FROM nodes WHERE parent_natural_key IS NULL
    UNION ALL
    SELECT n.natural_key, list_append(l.path_keys, n.natural_key)
    FROM nodes n JOIN levels l ON n.parent_natural_key = l.natural_key),
subtree AS (
    SELECT natural_key FROM levels WHERE list_contains(path_keys, 101))
SELECT CAST(cu.c_nationkey AS BIGINT) AS nation_key,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer cu ON o.o_custkey = cu.c_custkey
JOIN subtree s ON CAST(cu.c_nationkey AS BIGINT) = s.natural_key
GROUP BY nation_key
ORDER BY nation_key
""")
def hier_subtree_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree restriction ('orders under region 101'): broadcast
    semi-join of facts against the filtered closure — no fact shuffle
    for the filter; aggregation per leaf nation below."""
    from aggregation_duckdb_spark import flagship as fs
    h = fs.geo_hierarchy(spark, sf_dir)
    facts = fs.order_facts(spark, sf_dir)
    sub = h.subtree_facts(facts, "nation_key", 101)
    return (sub.groupBy(F.col("nation_key"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("revenue"))
            .orderBy("nation_key"))


# ---------------------------------------------------------------------
# as-of join (operator Spark lacks; DuckDB ASOF JOIN is the oracle)
# ---------------------------------------------------------------------

@register("asof_join_events", """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
r AS (SELECT user_id, ts, CAST(value AS DOUBLE) AS value FROM events
      WHERE event_type = 'purchase')
SELECT l.event_id, l.user_id, l.ts,
       r.value AS value_asof, r.ts AS ts_asof
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
""")
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click joined to the user's most recent purchase at-or-before
    it (NULL if none yet) — union+carry-forward-window implementation vs
    DuckDB's native ASOF JOIN."""
    from aggregation_duckdb_spark.operators.asof import asof_join
    ev = load_table(spark, "events", sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value")
    out = asof_join(clicks, purchases, on="ts", by="user_id",
                    value_cols=["value", "ts"])
    return out.select("event_id", "user_id", "ts", "value_asof",
                      "ts_asof").orderBy("event_id")


@register("q_salted_join", """
SELECT CAST(cu.c_nationkey AS BIGINT) AS nation_key,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
GROUP BY nation_key ORDER BY nation_key
""")
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit skew salting: the salted join must produce EXACTLY the
    plain-join answer (the oracle is the unsalted join) while spreading
    any hot key across salt_buckets shuffle partitions."""
    from aggregation_duckdb_spark.operators.skew import salted_join
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", F.col("c_nationkey").cast("long").alias("nation_key"))
    joined = salted_join(orders, cust, "o_custkey", "c_custkey",
                         salt_buckets=8, salt_source="o_orderkey")
    return (joined.groupBy("nation_key")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("revenue"))
            .orderBy("nation_key"))


# ---------------------------------------------------------------------
# event-time operators
# ---------------------------------------------------------------------

@register("events_tumbling", """
SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
""")
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.tumbling_counts(load_table(spark, "events", sf_dir))


@register("events_sliding", """
WITH expanded AS (
    SELECT UNNEST([CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP),
                   CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP)
                       - INTERVAL '30 minutes']) AS window_start,
           event_type
    FROM events)
SELECT window_start, event_type, COUNT(*) AS n_events
FROM expanded
GROUP BY window_start, event_type
ORDER BY window_start, event_type
""")
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.sliding_counts(load_table(spark, "events", sf_dir))


@register("events_sessionize", """
WITH ordered AS (
    SELECT user_id, event_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events),
flagged AS (
    SELECT *, CASE WHEN prev_ts IS NULL
                     OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                   THEN 1 ELSE 0 END AS is_new
    FROM ordered),
sessions AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_idx
    FROM flagged)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sessions
GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
""")
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    out = E.sessionize(ev, gap_minutes=30)
    return out.withColumn("session_idx", F.col("session_idx").cast("long"))


# ---------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------

@register("mm_decode_metadata", """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS checksum,
       CAST(strpos('0123456789abcdef', substr(md5(text), 1, 1)) AS INT)
           AS fake_width,
       CAST(strpos('0123456789abcdef', substr(md5(text), 2, 1)) AS INT)
           AS fake_height
FROM documents ORDER BY doc_id
""")
def mm_decode_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode plumbing via mapInPandas (Arrow batches);
    the decode itself is a deterministic stub (multimodal.REAL_CODECS),
    which is what makes this oracle-checkable."""
    docs = load_table(spark, "documents", sf_dir)
    return M.decode_metadata(M.attach_payload(docs)).orderBy("doc_id")


@register("mm_resize", """
SELECT doc_id,
       224 AS target_width, 224 AS target_height,
       CAST(length(md5(text) || '224x224') AS BIGINT) AS n_out_bytes,
       md5(md5(text) || '224x224') AS resized_checksum
FROM documents ORDER BY doc_id
""")
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-in/binary-out resize plumbing (stubbed codec): the
    'resized' payload round-trips through Arrow and its checksum
    hash-matches DuckDB."""
    docs = load_table(spark, "documents", sf_dir)
    out = M.resize_plan(M.attach_payload(docs), target=(224, 224))
    return (out.select("doc_id", "target_width", "target_height",
                       F.length("resized_payload").cast("long")
                        .alias("n_out_bytes"),
                       "resized_checksum")
            .orderBy("doc_id"))


def _digest_byte_sql(h: str, j: int) -> str:
    """Byte j of the md5 digest, from its hex rendering."""
    hi = f"(strpos('0123456789abcdef', substr({h}, {2 * j + 1}, 1)) - 1)"
    lo = f"(strpos('0123456789abcdef', substr({h}, {2 * j + 2}, 1)) - 1)"
    return f"({hi} * 16 + {lo})"


def _features_oracle(dim: int = 8) -> str:
    # Serialized (not array-typed) output: the driver's pandas
    # canonicalizer factorizes columns to sort rows and cannot hash
    # python lists — every nested-type result column must be
    # flattened to a string on BOTH sides of the oracle pair.
    step = 16 // dim
    buckets = ", ".join(
        "CAST(" + " + ".join(_digest_byte_sql("h", i * step + k)
                             for k in range(step)) + " AS BIGINT)"
        for i in range(dim))
    return f"""
WITH p AS (SELECT doc_id, md5(text) AS h FROM documents)
SELECT doc_id, array_to_string([{buckets}], '|') AS features_str,
       CAST({dim} AS INT) AS dim
FROM p ORDER BY doc_id
"""


@register("mm_features", _features_oracle(8))
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction plumbing (payload → fixed-dim vector through
    Arrow); stub features are digest-byte bucket sums, bit-identical in
    the oracle. The vector is emitted pipe-serialized — bucket sums are
    exact small integers, so bigint rendering is lossless — because the
    driver's hasher cannot canonicalize array-typed columns."""
    from aggregation_duckdb_spark.functions.scalars import serialize_array

    docs = load_table(spark, "documents", sf_dir)
    feats = M.extract_features(M.attach_payload(docs), dim=8)
    return (feats.select(
        "doc_id",
        serialize_array(F.col("features"), "bigint").alias("features_str"),
        F.size("features").alias("dim"))
        .orderBy("doc_id"))


def _hex4_to_int_sql(h: str) -> str:
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1) * {16 ** (4 - i)}"
        for i in range(1, 5))
    return f"({terms})"


@register("mm_frame_sample", f"""
WITH p AS (
    SELECT doc_id, md5(text) AS h FROM documents),
f AS (
    SELECT doc_id, ({_hex4_to_int_sql('h')}) % 240 + 1 AS n_frames FROM p)
SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
       UNNEST(generate_series(0, CAST(n_frames AS BIGINT) - 1, 10)) AS frame_idx
FROM f ORDER BY doc_id, frame_idx
""")
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (M.frame_sample_plan(M.attach_payload(docs), every_n=10)
            .select("doc_id", F.col("n_frames").cast("long").alias("n_frames"),
                    F.col("frame_idx").cast("long").alias("frame_idx"))
            .orderBy("doc_id", "frame_idx"))


@register("q_json_functions", """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
       to_json(struct_pack(k := CAST(json_extract(props, '$.k') AS BIGINT) * 2,
                           tag := event_type)) AS rebuilt
FROM events
ORDER BY event_id LIMIT 500
""")
def q_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar family over the events props column: path extract
    (string-typed JSON) and re-serialization — both engines render
    to_json without whitespace, so values hash-match."""
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (ev.select(
        "event_id",
        k.alias("k_val"),
        F.to_json(F.struct((k * 2).alias("k"),
                           F.col("event_type").alias("tag"))).alias("rebuilt"))
        .orderBy("event_id").limit(500))


@register("events_user_gap_stats", """
WITH ordered AS (
    SELECT user_id, epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
    FROM events),
gaps AS (SELECT user_id, us - prev AS gap FROM ordered WHERE prev IS NOT NULL),
base AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
SELECT b.user_id, b.n_events,
       COUNT(g.gap) AS n_gaps,
       CAST(SUM(g.gap) AS DOUBLE) / COUNT(g.gap) / 1000000.0 AS mean_gap_s,
       CAST(max(g.gap) AS DOUBLE) / 1000000.0 AS max_gap_s
FROM base b LEFT JOIN gaps g ON b.user_id = g.user_id
GROUP BY b.user_id, b.n_events
ORDER BY b.user_id
""")
def events_user_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the Arrow per-group form): per-user
    inter-event gap moments computed on the whole sorted group; integer
    microsecond math so the lag-based SQL oracle hash-matches."""
    return (E.user_gap_stats(load_table(spark, "events", sf_dir))
            .orderBy("user_id"))


@register("events_conversion_lag", """
WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
m AS (
    SELECT c.user_id, epoch_us(c.ts) AS c_us, epoch_us(p.ts) AS p_us
    FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ts >= c.ts)
SELECT user_id,
       COUNT(*) AS n_clicks,
       COUNT(p_us) AS n_matched,
       CAST(SUM(p_us - c_us) AS DOUBLE) / COUNT(p_us) / 1000000.0
           AS mean_lag_s
FROM m GROUP BY user_id ORDER BY user_id
""")
def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (two streams per key in one pandas call,
    pd.merge_asof forward) vs DuckDB's forward ASOF LEFT JOIN — the
    conversion-funnel shape, hash-matched."""
    ev = load_table(spark, "events", sf_dir)
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    return (E.click_to_purchase_lag(clicks, purchases)
            .orderBy("user_id"))


@register("text_tokenize_udtf", f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 100)
SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS token
FROM d, UNNEST(generate_series(1, len(toks))) AS t(i)
ORDER BY doc_id, pos
""")
def text_tokenize_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) exploding documents into
    (pos, token) rows via a LATERAL join — the §2.8 UDTF surface (the
    reference has none). Whitespace tokenization matches the engine's
    text.tokens, so the UNNEST-with-index oracle hash-matches."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class Tokenize:
        def eval(self, text: str):
            if text:
                for i, tok in enumerate(text.split()):
                    yield i, tok

    spark.udtf.register("tokenize_udtf", Tokenize)
    load_table(spark, "documents", sf_dir).createOrReplaceTempView("__docs")
    return spark.sql("""
        SELECT d.doc_id, t.pos, t.token
        FROM __docs d, LATERAL tokenize_udtf(d.text) t
        WHERE d.doc_id < 100
        ORDER BY d.doc_id, t.pos""")


@register("dedup_edit_distance", f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks, text FROM documents),
s AS (SELECT doc_id, text, {_shingle_sql(3)} AS sh FROM d),
hashes AS (SELECT doc_id, text, list_transform(sh, s -> md5(s)) AS hs FROM s),
sigs AS (SELECT doc_id, text, {_minhash_sql(12)} AS sig FROM hashes),
buckets AS (
    SELECT doc_id AS doc, text, UNNEST({_band_sql(4, 3)}) AS bucket FROM sigs),
cands AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
           a.text AS text_a, b.text AS text_b
    FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.doc < b.doc)
SELECT doc_a, doc_b,
       CAST(levenshtein(text_a, text_b) AS BIGINT) AS edit_distance,
       1.0 - CAST(levenshtein(text_a, text_b) AS DOUBLE)
           / greatest(length(text_a), length(text_b)) AS edit_similarity
FROM cands ORDER BY doc_a, doc_b
""")
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verify for LSH candidate pairs: levenshtein (same
    definition both engines) + length-normalized similarity — the
    character-level complement to the shingle-Jaccard verify."""
    docs = load_table(spark, "documents", sf_dir)
    cands = D.minhash_lsh_candidates(docs, num_hashes=12, num_bands=4)
    texts = docs.select(F.col("doc_id").alias("__id"), "text")
    a, b = texts.alias("ta"), texts.alias("tb")
    lev = F.levenshtein(F.col("ta.text"), F.col("tb.text"))
    longest = F.greatest(F.length("ta.text"), F.length("tb.text"))
    return (cands
            .join(a, cands["doc_a"] == F.col("ta.__id"))
            .join(b, cands["doc_b"] == F.col("tb.__id"))
            .select("doc_a", "doc_b",
                    lev.cast("long").alias("edit_distance"),
                    (F.lit(1.0) - lev.cast("double") / longest)
                    .alias("edit_similarity"))
            .orderBy("doc_a", "doc_b"))


@register("text_topk_ngrams", f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
bi AS (
    SELECT UNNEST(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS ngram
    FROM d),
counted AS (
    SELECT ngram, COUNT(*) AS n FROM bi GROUP BY ngram)
SELECT ngram, n FROM counted
ORDER BY n DESC, ngram ASC
LIMIT 20
""")
def text_topk_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-k bigram frequencies — the n-gram census a
    training-data pipeline runs for contamination/boilerplate checks.
    Map-side: tokenize + adjacent-pair zip per doc (no Python); the
    only shuffles are the count group-by and the top-k sort, both on
    the (small) distinct-ngram set."""
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(T.tokens(F.col("text")).alias("toks"))
    bi = d.selectExpr(
        "explode(CASE WHEN size(toks) >= 2 THEN "
        "zip_with(slice(toks, 1, size(toks) - 1), "
        "         slice(toks, 2, size(toks) - 1), "
        "         (a, b) -> concat(a, ' ', b)) "
        "ELSE array() END) AS ngram")
    return (bi.groupBy("ngram").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("ngram"))
            .limit(20))


@register("pipeline_clean_corpus", f"""
WITH keepers AS (
    SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(lower(text))),
survivors AS (
    SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
counted AS (
    SELECT *, len({_TOKS}) AS tc FROM survivors)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(tc) AS BIGINT) AS sum_tokens,
       CAST(SUM(tc) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM counted
WHERE tc BETWEEN 5 AND 500
GROUP BY lang
ORDER BY lang
""")
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data pipeline: exact dedup → token-length
    filter → per-language corpus stats. Exercises operator COMPOSITION
    (dedup semi-join feeding a native filter feeding one aggregate
    shuffle) the way a real cleaning job chains them; the oracle
    replays the same three stages in SQL. Integer token sums with one
    final IEEE division keep the average bit-stable."""
    docs = load_table(spark, "documents", sf_dir)
    survivors = D.exact_dedup(docs)
    counted = survivors.withColumn("tc", T.token_count(F.col("text")))
    return (counted.where((F.col("tc") >= 5) & (F.col("tc") <= 500))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars"),
                 F.sum("tc").cast("long").alias("sum_tokens"),
                 (F.sum("tc").cast("double") / F.count(F.lit(1)))
                  .alias("avg_tokens"))
            .orderBy("lang"))


# ---------------------------------------------------------------------
# corpus pipeline: splits, PII, repetition, decontamination, centroids
# ---------------------------------------------------------------------

@register("pipeline_split_assign", f"""
WITH b AS (
    SELECT doc_id,
           ('0x' || substr(md5('v1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {10_000} AS bucket
    FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM b ORDER BY doc_id
""")
def pipeline_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: md5-bucketed, pure map-side —
    every executor (and every re-run over late-arriving shards) assigns
    identically with zero coordination. The salt re-deals the corpus."""
    from aggregation_duckdb_spark.operators import pipeline as P

    docs = load_table(spark, "documents", sf_dir)
    return P.split_assign(docs).orderBy("doc_id")


# The synthetic corpus contains no contact strings, so the entry plants
# deterministic PII per doc (derived from doc_id) and scrubs it back
# out — the redaction counts are then provably non-trivial.
_PII_AUG = ("text || ' reach user' || CAST(doc_id AS VARCHAR) "
            "|| '@mail.example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR) "
            "|| '.7 ext 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')")

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
_PII_PHONE = "\\b[0-9]{3}-[0-9]{3,4}\\b"


@register("pipeline_pii_scrub", f"""
WITH aug AS (SELECT doc_id, {_PII_AUG} AS text FROM documents),
s1 AS (SELECT doc_id,
              len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_email,
              regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
       FROM aug),
s2 AS (SELECT doc_id, n_email,
              len(regexp_extract_all(t1, '{_PII_IP}')) AS n_ipv4,
              regexp_replace(t1, '{_PII_IP}', '<IP>', 'g') AS t2
       FROM s1),
s3 AS (SELECT doc_id, n_email, n_ipv4,
              len(regexp_extract_all(t2, '{_PII_PHONE}')) AS n_phone,
              regexp_replace(t2, '{_PII_PHONE}', '<PHONE>', 'g') AS t3
       FROM s2)
SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
       CAST(n_ipv4 AS BIGINT) AS n_ipv4, CAST(n_phone AS BIGINT) AS n_phone,
       md5(t3) AS scrubbed_md5, CAST(length(t3) AS BIGINT) AS scrubbed_len
FROM s3 ORDER BY doc_id
""")
def pipeline_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: sequential email → IPv4 → phone masking with
    per-category counts, map-only (regex runs inside codegen, nothing
    leaves the JVM). Scrubbed text is md5-compacted for the hasher."""
    from aggregation_duckdb_spark.operators import pipeline as P

    docs = load_table(spark, "documents", sf_dir)
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" reach user"),
            F.col("doc_id").cast("string"), F.lit("@mail.example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".7 ext 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("text"))
    return (P.pii_scrub(aug)
            .select("doc_id", "n_email", "n_ipv4", "n_phone",
                    F.md5(F.col("scrubbed_text")).alias("scrubbed_md5"),
                    F.length("scrubbed_text").cast("long")
                     .alias("scrubbed_len"))
            .orderBy("doc_id"))


@register("pipeline_repetition", f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
m AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             CAST(list_max(list_transform(
                 list_distinct(toks),
                 d2 -> len(list_filter(toks, t -> t = d2)))) AS BIGINT)
                 AS top_token_count
      FROM d)
SELECT doc_id, n_tokens, n_distinct, top_token_count,
       CASE WHEN n_tokens > 0
            THEN CAST(top_token_count AS DOUBLE) / n_tokens END
           AS top_token_share,
       CASE WHEN n_tokens > 0
            THEN CAST(n_distinct AS DOUBLE) / n_tokens END
           AS distinct_ratio,
       CASE WHEN n_tokens > 0
            THEN (CAST(top_token_count AS DOUBLE) / n_tokens) <= 0.2
            ELSE FALSE END AS keep
FROM m ORDER BY doc_id
""")
def pipeline_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/degeneracy filter: most-frequent-token share and
    distinct ratio per document, computed in-row (no explode, no
    shuffle) — the standard drop-degenerate-docs quality gate."""
    from aggregation_duckdb_spark.operators import pipeline as P

    docs = load_table(spark, "documents", sf_dir)
    return P.repetition_stats(docs).orderBy("doc_id")


def _decontaminate_oracle(width: int = 6) -> str:
    return f"""
WITH tr AS (SELECT doc_id, {_TOKS} AS toks FROM documents
            WHERE source <> 'src0'),
be AS (SELECT {_TOKS} AS toks FROM documents WHERE source = 'src0'),
trk AS (SELECT doc_id,
               UNNEST(list_transform({_shingle_sql(width)}, s -> md5(s)))
                   AS key
        FROM tr),
bek AS (SELECT DISTINCT
               UNNEST(list_transform({_shingle_sql(width)}, s -> md5(s)))
                   AS key
        FROM be),
hits AS (SELECT DISTINCT doc_id FROM trk
         WHERE key IN (SELECT key FROM bek))
SELECT t.doc_id, (h.doc_id IS NOT NULL) AS contaminated
FROM (SELECT DISTINCT doc_id FROM tr) t
LEFT JOIN hits h ON t.doc_id = h.doc_id
ORDER BY t.doc_id
"""


@register("pipeline_decontaminate", _decontaminate_oracle(6))
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    6-gram with the held-out eval slice (source 'src0' stands in for
    the benchmark). Both sides reduce to distinct md5 n-gram keys
    before a semi-join — the eval side is tiny, so Spark broadcasts
    it and the training text itself never shuffles."""
    from aggregation_duckdb_spark.operators import pipeline as P

    docs = load_table(spark, "documents", sf_dir)
    train = docs.where(F.col("source") != "src0")
    bench = docs.where(F.col("source") == "src0")
    return P.decontaminate(train, bench, width=6).orderBy("doc_id")


@register("emb_label_centroids", f"""
WITH e AS (SELECT label AS centroid_id,
                  CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
                  unnest(embedding) AS comp
           FROM embeddings)
SELECT centroid_id, pos,
       COUNT(*) AS n_vectors,
       CAST(SUM(CAST(round(CAST(comp AS DOUBLE) * {S.CENTROID_SCALE})
                     AS BIGINT)) AS DOUBLE)
           / COUNT(*) / {S.CENTROID_SCALE} AS mean_value
FROM e GROUP BY centroid_id, pos
ORDER BY centroid_id, pos
""")
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids with order-independent fixed-point
    math (see label_centroids_exact) — the codebook-building step for
    IVF, exact enough to hash-match the oracle bit-for-bit, in long
    (label, pos) form so no array serialization is needed."""
    emb = load_table(spark, "embeddings", sf_dir)
    return (S.label_centroids_exact(emb)
            .select("centroid_id", F.col("pos").cast("int").alias("pos"),
                    "n_vectors", "mean_value")
            .orderBy("centroid_id", "pos"))


# ---------------------------------------------------------------------
# round 4: cluster dedup, packing, TF-IDF, sampling, quantile gate
# ---------------------------------------------------------------------

# near-dup verified pairs as a reusable oracle fragment (the same
# LSH → Jaccard-verify pipeline dedup_near_duplicates checks directly)
_NEARDUP_PAIRS_CTES = f"""
d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_shingle_sql(3)} AS sh FROM d),
hashes AS (SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS hs FROM s),
sigs AS (SELECT doc_id, sh, {_minhash_sql(12)} AS sig FROM hashes),
buckets AS (
    SELECT doc_id AS doc, UNNEST({_band_sql(4, 3)}) AS bucket FROM sigs),
cands AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.doc < b.doc),
pairs AS (
    SELECT c.doc_a, c.doc_b
    FROM cands c
    JOIN s sa ON c.doc_a = sa.doc_id
    JOIN s sb ON c.doc_b = sb.doc_id
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))
                 AS DOUBLE) >= 0.6)
"""


@register("dedup_cc_clusters", f"""
WITH RECURSIVE {_NEARDUP_PAIRS_CTES},
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
    SELECT DISTINCT a AS id, a AS r FROM edges
    UNION
    SELECT e.b AS id, reach.r FROM reach JOIN edges e ON e.a = reach.id),
labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size
          FROM labels GROUP BY cluster_id)
SELECT l.id AS doc_id, l.cluster_id, sz.cluster_size,
       (l.id = l.cluster_id) AS is_keeper
FROM labels l JOIN sizes sz ON l.cluster_id = sz.cluster_id
ORDER BY doc_id
""")
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: verified LSH pairs closed under
    transitivity by distributed connected components (iterative
    min-label propagation, operators/graph.py) — the unit a cleaning
    pipeline actually drops. The oracle computes the same transitive
    closure with a recursive CTE."""
    from aggregation_duckdb_spark.operators import graph as G

    docs = load_table(spark, "documents", sf_dir)
    pairs = D.near_duplicates(docs, threshold=0.6, num_hashes=12,
                              num_bands=4)
    return G.duplicate_clusters(pairs).orderBy("doc_id")


@register("pipeline_pack_sequences", f"""
WITH b AS (
    SELECT doc_id,
           ('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 8))
               ::BIGINT % 10000 % 16 AS bucket,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens
    FROM documents),
c AS (
    SELECT doc_id, bucket, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tokens
               AS start_offset
    FROM b)
SELECT doc_id, bucket, n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(start_offset // 1024 AS BIGINT) AS seq_idx
FROM c ORDER BY doc_id
""")
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concat-then-chunk documents into 1024-token
    training sequences, sharded over 16 md5 buckets so each bucket's
    cumulative-sum window packs independently in parallel — no global
    single-task window at any corpus size."""
    from aggregation_duckdb_spark.operators import pipeline as P

    docs = load_table(spark, "documents", sf_dir)
    return (P.pack_sequences(docs, context_len=1024, num_buckets=16)
            .orderBy("doc_id"))


@register("text_tfidf_topterms", f"""
WITH p AS (SELECT doc_id, UNNEST({_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM p GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
    SELECT t.doc_id, t.term, t.tf, d.df,
           CAST(t.tf AS DOUBLE) * (SELECT n_docs FROM n) / d.df AS score
    FROM tf t JOIN df d ON t.term = d.term),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term ASC) AS rank
    FROM scored)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
""")
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·idf with the
    division-only idf = N/df (ln() differs in the last ulp across
    engines; one IEEE division of exact integers does not)."""
    docs = load_table(spark, "documents", sf_dir)
    return T.tfidf_top_terms(docs, k=3).orderBy("doc_id", "rank")


@register("pipeline_stratified_sample", """
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5('sample-v1|' || CAST(doc_id AS VARCHAR)), 1, 8))
          ::BIGINT % 10000
      < (CASE WHEN lang = 'en' THEN 0.5
              WHEN lang = 'zh' THEN 0.25
              ELSE 0.125 END) * 10000
ORDER BY doc_id
""")
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep fractions
    via md5-bucket Bernoulli (exact-binary fractions so the
    frac·buckets product is IEEE-identical in both engines); map-only,
    reproducible across runs, engines, and shard arrival order."""
    from aggregation_duckdb_spark.operators import pipeline as P

    docs = load_table(spark, "documents", sf_dir)
    return (P.stratified_sample(docs, {"en": 0.5, "zh": 0.25},
                                default_fraction=0.125)
            .select("doc_id", "lang").orderBy("doc_id"))


@register("pipeline_quantile_filter", f"""
WITH d AS (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents),
m AS (SELECT doc_id, lang,
             CAST(len(toks) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                  AS DOUBLE) AS n_punct,
             CAST(len(list_filter(toks, t -> list_contains(
                 [{", ".join(f"'{w}'" for w in _ALL_STOP)}], t))) AS DOUBLE) AS n_stop
      FROM d),
q AS (SELECT doc_id, lang,
             round(0.4 * least(n_tok / 64.0, 1.0)
                   + 0.3 * (1.0 - n_punct / greatest(n_chars, 1.0))
                   + 0.3 * least(n_stop / greatest(n_tok, 1.0) * 4, 1.0), 6)
                 AS quality_score
      FROM m),
counts AS (SELECT lang, quality_score, COUNT(*) AS c
           FROM q GROUP BY lang, quality_score),
cc AS (SELECT lang, quality_score,
              SUM(c) OVER (PARTITION BY lang ORDER BY quality_score
                           ROWS UNBOUNDED PRECEDING) AS le
       FROM counts),
tot AS (SELECT lang, SUM(c) AS n FROM counts GROUP BY lang),
thr AS (SELECT cc.lang, MIN(cc.quality_score) AS threshold
        FROM cc JOIN tot ON cc.lang = tot.lang
        WHERE cc.le >= CEIL(0.5 * tot.n)
        GROUP BY cc.lang)
SELECT q.doc_id, q.lang, q.quality_score
FROM q JOIN thr ON q.lang = thr.lang
WHERE q.quality_score >= thr.threshold
ORDER BY q.doc_id
""")
def pipeline_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language median quality gate: keep documents at or above
    their language's discrete 0.5-quantile quality score. The
    threshold pass compresses to (lang, distinct score) counts before
    any window touches data, and the filter join broadcasts the
    lang-sized threshold table."""
    from aggregation_duckdb_spark.operators import pipeline as P

    docs = load_table(spark, "documents", sf_dir)
    scored = (T.quality_score(docs)
              .join(docs.select("doc_id", "lang"), "doc_id")
              .select("doc_id", "lang", "quality_score"))
    return (P.quantile_filter(scored, "quality_score", "lang", 0.5)
            .select("doc_id", "lang", "quality_score")
            .orderBy("doc_id"))


@register("events_state_intervals", """
WITH ordered AS (
    SELECT user_id, event_id, ts, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_state,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
    FROM events),
flagged AS (
    SELECT *, CASE WHEN rn = 1 OR event_type IS DISTINCT FROM prev_state
                   THEN 1 ELSE 0 END AS chg
    FROM ordered),
versions AS (
    SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS version
    FROM flagged),
iv AS (
    SELECT user_id, CAST(version AS BIGINT) AS version,
           MIN(event_type) AS state, MIN(ts) AS valid_from,
           COUNT(*) AS n_events
    FROM versions GROUP BY user_id, version)
SELECT user_id, version, state, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
           AS valid_to,
       (lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
        IS NULL) AS is_current,
       n_events
FROM iv ORDER BY user_id, version
""")
def events_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-Type-2 change tracking over the events stream: each user's
    consecutive same-state run becomes one validity interval with
    valid_from/valid_to/is_current — the dimension-versioning
    primitive, window-built in one key partitioning."""
    ev = load_table(spark, "events", sf_dir)
    return (E.state_intervals(ev)
            .orderBy("user_id", "version"))


@register("q_histogram_totalprice", """
SELECT CAST(least(floor(o_totalprice / 60000.0), 9) AS BIGINT) AS bin,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_price
FROM orders GROUP BY bin ORDER BY bin
""")
def q_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order value: bin index from one IEEE
    division + floor (bit-identical across engines), counts and
    decimal-exact sums per bin. Map-side bin key, one shuffle."""
    orders = load_table(spark, "orders", sf_dir)
    bin_ = F.least(F.floor(F.col("o_totalprice") / 60000.0),
                   F.lit(9)).cast("long")
    return (orders
            .groupBy(bin_.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .cast("double").alias("sum_price"))
            .orderBy("bin"))


@register("source_python_datasource", """
WITH g AS (
    SELECT i AS doc_id, md5(CAST(i AS VARCHAR)) AS h
    FROM generate_series(0, 1999) t(i)),
d AS (
    SELECT doc_id,
           CAST(('0x' || substr(h, 1, 2))::BIGINT % 10 AS INT) AS bucket,
           substr(h, 1, 8) AS token_a,
           substr(h, 9, 8) AS token_b,
           ('0x' || substr(h, 1, 4))::BIGINT AS weight_int
    FROM g)
SELECT bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(weight_int) AS DOUBLE) / 65535.0 AS sum_weight,
       MIN(token_a) AS min_token_a,
       MAX(token_b) AS max_token_b
FROM d GROUP BY bucket ORDER BY bucket
""")
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source connector end-to-end: register the
    synthdocs source, read 2000 rows over 8 parallel splits, aggregate.
    Every value is md5-derived from the row id, so DuckDB reproduces
    the identical relation from generate_series — the oracle checks a
    custom-connector read like any parquet scan."""
    from aggregation_duckdb_spark.sources.pydatasource import (
        register_synthdocs)
    register_synthdocs(spark)
    df = (spark.read.format("synthdocs")
          .option("n_docs", 2000).option("partitions", 8).load())
    return (df.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 (F.sum("weight_int").cast("double") / 65535.0)
                 .alias("sum_weight"),
                 F.min("token_a").alias("min_token_a"),
                 F.max("token_b").alias("max_token_b"))
            .orderBy("bucket"))


@register("q_rolling_time_window", """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
           AS rolling_30d_total,
       COUNT(*) OVER w AS rolling_30d_orders
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
""")
def q_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day order total per customer via a RANGE frame over
    days-since-epoch — the time-range window family (ROWS frames are
    covered by q_window_frames; RANGE frames bound by VALUE distance,
    so same-day peers aggregate together regardless of row order).
    Decimal sums keep the frame aggregation order-independent."""
    from pyspark.sql import Window
    orders = load_table(spark, "orders", sf_dir)
    day = F.unix_date(F.col("o_orderdate").cast("date"))
    w = (Window.partitionBy("o_custkey").orderBy(day.alias("__day"))
         .rangeBetween(-29, 0))
    return (orders.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
         .cast("double").alias("rolling_30d_total"),
        F.count(F.lit(1)).over(w).alias("rolling_30d_orders"))
        .orderBy("o_custkey", "o_orderkey"))


@register("q_merge_upsert", """
WITH updates AS (
    SELECT c_custkey, c_acctbal + 100.0 AS new_acctbal
    FROM customer WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT c_custkey + 10000000, 0.0 FROM customer WHERE c_custkey % 11 = 0),
merged AS (
    SELECT COALESCE(c.c_custkey, u.c_custkey) AS c_custkey,
           COALESCE(u.new_acctbal, c.c_acctbal) AS acctbal,
           CASE WHEN c.c_custkey IS NULL THEN 'insert'
                WHEN u.c_custkey IS NULL THEN 'unchanged'
                ELSE 'update' END AS action
    FROM customer c FULL OUTER JOIN updates u
      ON c.c_custkey = u.c_custkey)
SELECT action, COUNT(*) AS n_rows,
       CAST(SUM(CAST(acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM merged GROUP BY action ORDER BY action
""")
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain DataFrames (no table format
    needed): full-outer join target↔updates on the key, COALESCE picks
    the surviving value, and the join-side nullity classifies each row
    insert/update/unchanged. The updates side derives deterministically
    from the customer table itself. At scale both sides hash-partition
    on the key — the same single shuffle a storage-level MERGE pays."""
    customer = load_table(spark, "customer", sf_dir)
    updates = (customer.where(F.col("c_custkey") % 7 == 0)
               .select("c_custkey",
                       (F.col("c_acctbal") + 100.0).alias("new_acctbal"))
               .unionByName(
                   customer.where(F.col("c_custkey") % 11 == 0)
                   .select((F.col("c_custkey") + 10_000_000)
                           .alias("c_custkey"),
                           F.lit(0.0).alias("new_acctbal"))))
    c, u = customer.alias("c"), updates.alias("u")
    merged = (c.join(u, F.col("c.c_custkey") == F.col("u.c_custkey"),
                     "full_outer")
              .select(
                  F.coalesce(F.col("u.new_acctbal"), F.col("c.c_acctbal"))
                   .alias("acctbal"),
                  F.when(F.col("c.c_custkey").isNull(), "insert")
                   .when(F.col("u.c_custkey").isNull(), "unchanged")
                   .otherwise("update").alias("action")))
    return (merged.groupBy("action")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("acctbal").cast("decimal(18,2)"))
                  .cast("double").alias("sum_acctbal"))
            .orderBy("action"))


@register("mm_payload_stats_arrow", """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(list_sum(list_transform(
           generate_series(1, length(text)),
           i -> ascii(substr(text, i, 1)))) AS BIGINT) AS byte_sum
FROM documents ORDER BY doc_id
""")
def mm_payload_stats_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native binary-column statistics via ``mapInArrow``: byte
    length and byte sum reduced zero-copy from the Arrow values buffer
    (no per-row Python objects — the pandas path would materialize one
    bytes object per payload). Payloads are the utf-8 of ASCII text,
    so the DuckDB oracle recomputes both from the text itself."""
    docs = load_table(spark, "documents", sf_dir)
    return (M.payload_stats_arrow(M.attach_payload(docs))
            .orderBy("doc_id"))


@register("q_math_functions", """
SELECT l_orderkey, l_linenumber,
       abs(l_discount - 0.05) AS abs_disc_delta,
       CAST(sign(l_discount - 0.05) AS DOUBLE) AS sign_disc_delta,
       sqrt(l_quantity) AS sqrt_qty,
       CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
       CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
       CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)), 1)
            AS DOUBLE) AS round_price_1,
       greatest(l_quantity, 25.0) AS qty_floor25,
       least(l_quantity, 25.0) AS qty_cap25,
       l_orderkey % 97 AS key_mod
FROM lineitem
WHERE l_orderkey % 1000 = 0
ORDER BY l_orderkey, l_linenumber
""")
def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-math scalar family: abs/sign/sqrt/floor/ceil/
    greatest/least/mod, all bit-identical across engines (sqrt is
    IEEE correctly-rounded; rounding goes through DECIMAL because
    double round-half rules differ between engines)."""
    li = load_table(spark, "lineitem", sf_dir).where(
        F.col("l_orderkey") % 1000 == 0)
    d = F.col("l_discount") - 0.05
    return (li.select(
        "l_orderkey", "l_linenumber",
        F.abs(d).alias("abs_disc_delta"),
        F.signum(d).alias("sign_disc_delta"),
        F.sqrt("l_quantity").alias("sqrt_qty"),
        F.floor("l_extendedprice").cast("long").alias("floor_price"),
        F.ceil("l_extendedprice").cast("long").alias("ceil_price"),
        F.round(F.col("l_extendedprice").cast("decimal(18,2)"), 1)
         .cast("double").alias("round_price_1"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("qty_floor25"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("qty_cap25"),
        (F.col("l_orderkey") % 97).alias("key_mod"))
        .orderBy("l_orderkey", "l_linenumber"))


# The whole pre-training corpus pipeline as ONE declarative plan; each
# stage reuses the fragment its standalone entry verifies.
_E2E_QUALITY = f"""
SELECT doc_id,
       round(0.4 * least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
             + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(
                   text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                   / greatest(CAST(length(text) AS DOUBLE), 1.0))
             + 0.3 * least(CAST(len(list_filter(toks, t -> list_contains(
                   [{", ".join(f"'{w}'" for w in _ALL_STOP)}], t)))
                   AS DOUBLE) / greatest(CAST(len(toks) AS DOUBLE), 1.0)
                   * 4, 1.0), 6) AS quality_score
FROM (SELECT doc_id, text, {_TOKS} AS toks FROM corpus)
"""


@register("pipeline_end_to_end", f"""
WITH RECURSIVE
corpus AS (SELECT * FROM documents WHERE source <> 'src0'),
qm AS ({_E2E_QUALITY}),
s1 AS (SELECT c.* FROM corpus c JOIN qm ON c.doc_id = qm.doc_id
       WHERE qm.quality_score >= 0.45),
ek AS (SELECT MIN(doc_id) AS doc_id FROM s1 GROUP BY md5(lower(text))),
s2 AS (SELECT s1.* FROM s1 JOIN ek ON s1.doc_id = ek.doc_id),
d2 AS (SELECT doc_id, {_TOKS} AS toks FROM s2),
sh2 AS (SELECT doc_id, {_shingle_sql(3)} AS sh FROM d2),
hashes2 AS (SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS hs
            FROM sh2),
sigs2 AS (SELECT doc_id, sh, {_minhash_sql(12)} AS sig FROM hashes2),
buckets2 AS (SELECT doc_id AS doc, UNNEST({_band_sql(4, 3)}) AS bucket
             FROM sigs2),
cands2 AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
           FROM buckets2 a JOIN buckets2 b
             ON a.bucket = b.bucket AND a.doc < b.doc),
pairs2 AS (
    SELECT c.doc_a, c.doc_b FROM cands2 c
    JOIN sh2 sa ON c.doc_a = sa.doc_id
    JOIN sh2 sb ON c.doc_b = sb.doc_id
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))
                 AS DOUBLE) >= 0.6),
edges2 AS (SELECT doc_a AS a, doc_b AS b FROM pairs2
           UNION SELECT doc_b, doc_a FROM pairs2),
reach2 AS (
    SELECT DISTINCT a AS id, a AS r FROM edges2
    UNION
    SELECT e.b AS id, reach2.r FROM reach2 JOIN edges2 e ON e.a = reach2.id),
labels2 AS (SELECT id, MIN(r) AS cluster_id FROM reach2 GROUP BY id),
s3 AS (SELECT s2.* FROM s2 LEFT JOIN labels2 l ON s2.doc_id = l.id
       WHERE l.id IS NULL OR l.cluster_id = s2.doc_id),
d3 AS (SELECT doc_id, {_TOKS} AS toks FROM s3),
trk3 AS (SELECT doc_id,
                UNNEST(list_transform({_shingle_sql(6)}, s -> md5(s))) AS key
         FROM d3),
be3 AS (SELECT {_TOKS} AS toks FROM documents WHERE source = 'src0'),
bek3 AS (SELECT DISTINCT
                UNNEST(list_transform({_shingle_sql(6)}, s -> md5(s))) AS key
         FROM be3),
hits3 AS (SELECT DISTINCT doc_id FROM trk3
          WHERE key IN (SELECT key FROM bek3)),
s4 AS (SELECT s3.* FROM s3 LEFT JOIN hits3 h ON s3.doc_id = h.doc_id
       WHERE h.doc_id IS NULL),
sp AS (SELECT doc_id,
              CASE WHEN ('0x' || substr(md5('v1|' || CAST(doc_id AS VARCHAR)),
                                        1, 8))::BIGINT % 10000 < 8000
                        THEN 'train'
                   WHEN ('0x' || substr(md5('v1|' || CAST(doc_id AS VARCHAR)),
                                        1, 8))::BIGINT % 10000 < 9000
                        THEN 'val'
                   ELSE 'test' END AS split
       FROM s4),
tc4 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS tc
        FROM (SELECT doc_id, {_TOKS} AS toks FROM s4) x)
SELECT sp.split,
       COUNT(*) AS n_docs,
       CAST(SUM(tc4.tc) AS BIGINT) AS sum_tokens
FROM tc4 JOIN sp ON tc4.doc_id = sp.doc_id
GROUP BY sp.split ORDER BY sp.split
""")
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete pre-training corpus pipeline as ONE lazy plan:
    quality gate (composite score ≥ 0.45) → exact dedup keepers →
    near-dup CLUSTER keepers (LSH pairs closed by connected
    components) → 6-gram decontamination against the held-out src0
    slice → deterministic split assignment → per-split counts. Every
    stage is the same operator its standalone entry verifies; chaining
    them stays one declarative composition (the CC labels are the only
    materialization, inherent to iterative convergence)."""
    from aggregation_duckdb_spark.operators import graph as G
    from aggregation_duckdb_spark.operators import pipeline as P

    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.where(F.col("source") != "src0")
    good = (T.quality_score(corpus)
            .where(F.col("quality_score") >= 0.45).select("doc_id"))
    s1 = corpus.join(good, "doc_id")
    # s2 fans out to FOUR consumers (LSH candidates, Jaccard verify via
    # the shared shingle checkpoint, the cluster anti-join, and
    # decontamination's re-tokenize) — materialize it once instead of
    # re-deriving the scan+quality+dedup prefix per consumer. At
    # cluster scale this is "write the deduped corpus, then fan out".
    s2 = materialize(D.exact_dedup(s1))
    pairs = D.near_duplicates(s2, threshold=0.6, num_hashes=12, num_bands=4)
    losers = (G.duplicate_clusters(pairs)
              .where(~F.col("is_keeper")).select("doc_id"))
    s3 = s2.join(losers, "doc_id", "left_anti")
    cont = (P.decontaminate(s3, docs.where(F.col("source") == "src0"),
                            width=6)
            .where(F.col("contaminated")).select("doc_id"))
    s4 = s3.join(cont, "doc_id", "left_anti")
    with_split = (s4.withColumn("tc", T.token_count(F.col("text")))
                  .join(P.split_assign(s4).select("doc_id", "split"),
                        "doc_id"))
    return (with_split.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("tc").cast("long").alias("sum_tokens"))
            .orderBy("split"))


# ---------------------------------------------------------------------
# sub-document (containment) dedup + corpus mixture rebalancing (r5)
# ---------------------------------------------------------------------

_CONTAIN = ("CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / "
            "CAST(len({side}.sh) AS DOUBLE)")


@register("dedup_containment_pairs", f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_shingle_sql(3)} AS sh FROM d),
ex AS (SELECT doc_id AS doc, UNNEST(sh) AS sg FROM s),
dfc AS (SELECT sg, COUNT(*) AS df FROM ex GROUP BY sg),
rare AS (SELECT ex.doc, ex.sg FROM ex JOIN dfc ON ex.sg = dfc.sg
         WHERE dfc.df <= 20),
cands AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
          FROM rare a JOIN rare b ON a.sg = b.sg AND a.doc < b.doc)
SELECT c.doc_a, c.doc_b,
       {_CONTAIN.format(side='sa')} AS containment_a,
       {_CONTAIN.format(side='sb')} AS containment_b,
       greatest({_CONTAIN.format(side='sa')},
                {_CONTAIN.format(side='sb')}) AS max_containment
FROM cands c
JOIN s sa ON c.doc_a = sa.doc_id
JOIN s sb ON c.doc_b = sb.doc_id
WHERE greatest({_CONTAIN.format(side='sa')},
               {_CONTAIN.format(side='sb')}) >= 0.8
ORDER BY doc_a, doc_b
""")
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: inverted-shingle-index candidates → exact
    containment (|X∩Y|/|X|) — catches a short doc embedded in a long
    one, which Jaccard-recall LSH structurally misses."""
    docs = load_table(spark, "documents", sf_dir)
    return (D.sub_duplicates(docs, threshold=0.8, max_df=20)
            .orderBy("doc_a", "doc_b"))


# targets name only src0-src9: the other half of the corpus's sources
# get target share 0 and are dropped by the rebalance — exercising the
# operator's absent-group semantics, not just the downsampling math
_MIX_TARGETS = {f"src{i}": 0.1 for i in range(10)}

_MIX_TARGET_SQL = ("CASE WHEN group_key IN ("
                   + ", ".join(f"'src{i}'" for i in range(10))
                   + ") THEN CAST(0.1 AS DOUBLE) "
                   + "ELSE CAST(0.0 AS DOUBLE) END")

_MIX_STATS = f"""
stats AS (
    SELECT source AS group_key, COUNT(*) AS n_docs,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS sum_tokens
    FROM documents GROUP BY source),
tot AS (SELECT CAST(SUM(sum_tokens) AS BIGINT) AS total FROM stats)
"""


@register("pipeline_mixture_weights", f"""
WITH {_MIX_STATS}
SELECT group_key, n_docs, sum_tokens,
       CAST(sum_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS actual_share,
       {_MIX_TARGET_SQL} AS target_share,
       least(CAST(1.0 AS DOUBLE),
             {_MIX_TARGET_SQL}
             / (CAST(sum_tokens AS DOUBLE) / CAST(total AS DOUBLE)))
           AS keep_rate
FROM stats CROSS JOIN tot ORDER BY group_key
""")
def pipeline_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing rates: per-source token shares vs equal targets;
    keep_rate = min(1, target/actual). Exact integer token sums; the
    only doubles are the final divisions (bit-identical cross-engine)."""
    docs = load_table(spark, "documents", sf_dir)
    return (P.mixture_weights(docs, _MIX_TARGETS).orderBy("group_key"))


@register("pipeline_rebalance", f"""
WITH {_MIX_STATS},
rates AS (
    SELECT group_key,
           least(CAST(1.0 AS DOUBLE),
                 {_MIX_TARGET_SQL}
                 / (CAST(sum_tokens AS DOUBLE) / CAST(total AS DOUBLE)))
               AS keep_rate
    FROM stats CROSS JOIN tot),
b AS (SELECT doc_id, source,
             ('0x' || substr(md5('mix-v1|' || CAST(doc_id AS VARCHAR)),
                             1, 8))::BIGINT % 10000 AS bucket
      FROM documents)
SELECT b.doc_id, b.source
FROM b JOIN rates ON b.source = rates.group_key
WHERE b.bucket < rates.keep_rate * 10000
ORDER BY doc_id
""")
def pipeline_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the mixture rates: deterministic md5-bucket Bernoulli keep
    per source — broadcast rates join, corpus never shuffles, same
    sample on every run/engine/shard arrival order."""
    docs = load_table(spark, "documents", sf_dir)
    return (P.rebalance_sample(docs, _MIX_TARGETS)
            .select("doc_id", "source").orderBy("doc_id"))


# ---------------------------------------------------------------------
# count-min sketch heavy hitters (r5)
# ---------------------------------------------------------------------

_CMS_GRAMS = f"""list_transform(
    generate_series(1, greatest(len(toks) - 2, 1)),
    i -> array_to_string(toks[i:i+2], ' '))"""

_CMS_ROWS = "(SELECT UNNEST([0, 1, 2, 3]) AS r)"


def _cms_col_sql(gram_expr: str, width: int = 512) -> str:
    return (f"('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || '|' || "
            f"{gram_expr}), 1, 8))::BIGINT % {width}")


@register("text_countmin_heavyhitters", f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (SELECT UNNEST({_CMS_GRAMS}) AS gram FROM d),
exact AS (SELECT gram, COUNT(*) AS exact_count FROM g GROUP BY gram),
top AS (SELECT gram, exact_count FROM exact
        ORDER BY exact_count DESC, gram LIMIT 10),
coords AS (SELECT {_cms_col_sql('gram')} AS col, r AS row
           FROM g CROSS JOIN {_CMS_ROWS}),
sketch AS (SELECT row, col, COUNT(*) AS cnt FROM coords GROUP BY row, col),
probes AS (SELECT t.gram, r AS row, {_cms_col_sql('t.gram')} AS col
           FROM top t CROSS JOIN {_CMS_ROWS}),
est AS (SELECT p.gram, MIN(s.cnt) AS cms_estimate
        FROM probes p JOIN sketch s ON p.row = s.row AND p.col = s.col
        GROUP BY p.gram)
SELECT t.gram AS gram, t.exact_count, e.cms_estimate
FROM top t JOIN est e ON t.gram = e.gram
ORDER BY t.exact_count DESC, t.gram
""")
def text_countmin_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters: the corpus's 3-gram counts
    summarized into a fixed 4×512 counter table (the shuffle carries
    ≤ depth·width keys no matter the corpus size), point-queried for
    the exact top-10 grams. cms_estimate ≥ exact_count always
    (collisions only add) — visible in the result."""
    from aggregation_duckdb_spark.runtime import (ensure_parallelism,
                                                  materialize)
    docs = load_table(spark, "documents", sf_dir)
    # tokenize/explode ONCE for both consumers (sketch coords + exact
    # counts) and pin the 10-row top list, which the estimate probes
    # AND the final join both read — previously the corpus tokenized
    # twice and the exact heavy-hitter aggregate ran twice
    g = materialize(ensure_parallelism(docs.select("text"))
                    .select(F.explode(T.word_ngrams(F.col("text"), 3))
                            .alias("gram")))
    sketch = T.countmin_build_grams(g, depth=4, width=512)
    top = materialize(
        g.groupBy("gram").agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("gram")).limit(10))
    est = T.countmin_estimate(sketch, top.select("gram"),
                              depth=4, width=512, item_col="gram")
    return (top.join(est, "gram")
            .select("gram", "exact_count", "cms_estimate")
            .orderBy(F.desc("exact_count"), F.asc("gram")))


# ---------------------------------------------------------------------
# range / interval joins (r5) — bucketized, never nested-loop
# ---------------------------------------------------------------------

_VALUE_BANDS = [("micro", 0.0, 1.0), ("small", 1.0, 5.0),
                ("mid", 5.0, 25.0), ("large", 25.0, 100.0),
                ("huge", 100.0, 500.0)]

_VALUE_BANDS_SQL = ", ".join(
    f"('{b}', CAST({lo} AS DOUBLE), CAST({hi} AS DOUBLE))"
    for b, lo, hi in _VALUE_BANDS)


@register("events_value_bands", f"""
WITH bands(band_id, lo, hi) AS (VALUES {_VALUE_BANDS_SQL})
SELECT band_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band_id ORDER BY band_id
""")
def events_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (value → band), bucketized to an
    equi-join: the oracle states the intent as the theta-join Spark
    would plan as a nested loop; the engine runs the rewrite
    (``ranges.bucketed_range_join``) — plan-asserted no
    BroadcastNestedLoopJoin."""
    ev = load_table(spark, "events", sf_dir)
    bands = spark.createDataFrame(_VALUE_BANDS,
                                  "band_id string, lo double, hi double")
    joined = R.bucketed_range_join(ev, bands, "value", bucket_width=5)
    return (joined.groupBy("band_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,3)")).cast("double")
                  .alias("sum_value"))
            .orderBy("band_id"))


@register("events_session_overlap", """
WITH ordered AS (
    SELECT user_id, event_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events),
flagged AS (
    SELECT *, CASE WHEN prev_ts IS NULL
                     OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                   THEN 1 ELSE 0 END AS is_new
    FROM ordered),
sessions AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_idx
    FROM flagged),
sess AS (
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sessions GROUP BY user_id, session_idx),
hot AS (
    SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start
    FROM events GROUP BY window_start
    HAVING CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) > 1100.0)
SELECT s.user_id, s.session_idx,
       COUNT(*) AS n_hot_windows,
       MIN(h.window_start) AS first_hot_window
FROM sess s JOIN hot h
  ON epoch_us(s.session_start) <= epoch_us(h.window_start) + 3599999999
 AND epoch_us(h.window_start) <= epoch_us(s.session_end)
GROUP BY s.user_id, s.session_idx
ORDER BY s.user_id, s.session_idx
""")
def events_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join with NO equi-key: user sessions × global
    high-traffic hours. The oracle is the plain theta join; the engine
    buckets both interval sets (15-min buckets on epoch micros) and
    equi-joins, de-duplicated by the in-row claim filter instead of a
    distinct (``ranges.interval_overlap_join``)."""
    ev = load_table(spark, "events", sf_dir)
    sess = (E.sessionize(ev, gap_minutes=30)
            .select("user_id", F.col("session_idx").cast("long").alias("session_idx"),
                    "session_start", "session_end",
                    F.unix_micros("session_start").alias("s_start"),
                    F.unix_micros("session_end").alias("s_end")))
    hot = (ev.groupBy(F.window(F.col("ts"), "1 hour").getField("start")
                      .alias("window_start"))
           .agg(F.sum(F.col("value").cast("decimal(18,3)")).cast("double")
                .alias("hot_value"))
           .where(F.col("hot_value") > 1100.0)
           .select("window_start",
                   F.unix_micros("window_start").alias("w_start"),
                   (F.unix_micros("window_start") + F.lit(3_599_999_999))
                   .alias("w_end")))
    pairs = R.interval_overlap_join(sess, hot, "s_start", "s_end",
                                    "w_start", "w_end",
                                    bucket_width=900_000_000,
                                    broadcast_right=True)
    return (pairs.groupBy("user_id", "session_idx")
            .agg(F.count(F.lit(1)).alias("n_hot_windows"),
                 F.min("window_start").alias("first_hot_window"))
            .orderBy("user_id", "session_idx"))


# ---------------------------------------------------------------------
# overlapping chunking (r5)
# ---------------------------------------------------------------------

_CHUNK_C, _CHUNK_S = 24, 16


@register("pipeline_chunk_overlap", f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
n AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM d),
c AS (SELECT *, CASE WHEN n_tokens <= {_CHUNK_C} THEN 1
                     ELSE ((n_tokens - {_CHUNK_C} + {_CHUNK_S - 1})
                           // {_CHUNK_S}) + 1 END AS n_chunks
      FROM n),
e AS (SELECT doc_id, toks,
             UNNEST(generate_series(0, n_chunks - 1)) AS chunk_idx
      FROM c)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * {_CHUNK_S} + 1 AS BIGINT) AS start_token,
       CAST(len(toks[chunk_idx * {_CHUNK_S} + 1 :
                     chunk_idx * {_CHUNK_S} + {_CHUNK_C}]) AS BIGINT)
           AS n_chunk_tokens,
       array_to_string(toks[chunk_idx * {_CHUNK_S} + 1 :
                            chunk_idx * {_CHUNK_S} + {_CHUNK_C}], ' ')
           AS chunk_text
FROM e ORDER BY doc_id, chunk_idx
""")
def pipeline_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping token chunking: windows of 24 tokens at
    stride 16 (8-token overlap). Zero shuffles — tokenize, explode,
    slice, all in-row."""
    docs = load_table(spark, "documents", sf_dir)
    return (P.chunk_overlap(docs, context_len=_CHUNK_C, stride=_CHUNK_S)
            .orderBy("doc_id", "chunk_idx"))


# ---------------------------------------------------------------------
# incremental (new-batch-vs-corpus) dedup (r5)
# ---------------------------------------------------------------------

_INC_BKT = ("('0x' || substr(md5('inc-v1|' || CAST(doc_id AS VARCHAR)), "
            "1, 8))::BIGINT % 10000")


@register("dedup_incremental", f"""
WITH b AS (SELECT doc_id, text, {_INC_BKT} AS bkt FROM documents),
newd AS (SELECT doc_id, text FROM b WHERE bkt >= 8000),
oldd AS (SELECT doc_id, text FROM b WHERE bkt < 8000),
exh AS (SELECT DISTINCT md5(lower(text)) AS h FROM oldd),
exact AS (SELECT DISTINCT n.doc_id FROM newd n
          JOIN exh ON md5(lower(n.text)) = exh.h),
dn AS (SELECT doc_id, {_TOKS} AS toks FROM newd),
sn AS (SELECT doc_id, {_shingle_sql(3)} AS sh FROM dn),
od AS (SELECT doc_id, {_TOKS} AS toks FROM oldd),
so AS (SELECT doc_id, {_shingle_sql(3)} AS sh FROM od),
hn AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS hs FROM sn),
sgn AS (SELECT doc_id, {_minhash_sql(12)} AS sig FROM hn),
bn AS (SELECT doc_id AS doc, UNNEST({_band_sql(4, 3)}) AS bucket FROM sgn),
ho AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS hs FROM so),
sgo AS (SELECT doc_id, {_minhash_sql(12)} AS sig FROM ho),
bo AS (SELECT doc_id AS doc, UNNEST({_band_sql(4, 3)}) AS bucket FROM sgo),
cand AS (SELECT DISTINCT bo.doc AS old_doc, bn.doc AS doc
         FROM bo JOIN bn ON bo.bucket = bn.bucket),
ver AS (SELECT c.doc AS doc_id, COUNT(*) AS n_near
        FROM cand c
        JOIN sn ON c.doc = sn.doc_id
        JOIN so ON c.old_doc = so.doc_id
        WHERE CAST(len(list_intersect(sn.sh, so.sh)) AS DOUBLE)
              / CAST(len(sn.sh) + len(so.sh)
                     - len(list_intersect(sn.sh, so.sh)) AS DOUBLE) >= 0.6
        GROUP BY c.doc)
SELECT n.doc_id,
       (e.doc_id IS NOT NULL) AS exact_dup,
       COALESCE(v.n_near, 0) AS n_near_matches,
       COALESCE(v.n_near, 0) > 0 AS near_dup,
       NOT ((e.doc_id IS NOT NULL) OR COALESCE(v.n_near, 0) > 0) AS is_new
FROM newd n
LEFT JOIN exact e ON n.doc_id = e.doc_id
LEFT JOIN ver v ON n.doc_id = v.doc_id
ORDER BY n.doc_id
""")
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: the md5-bucket top 20% of documents arrive as
    a 'new batch' checked against the other 80% 'corpus' — exact hash
    membership + cross-table MinHash-LSH near-dup, flags per new doc
    (``dedup.incremental_dedup``). The corpus side is touched only via
    narrow hash/bucket projections; the batch side broadcasts."""
    docs = load_table(spark, "documents", sf_dir)
    bkt = P.split_bucket(F.col("doc_id"), salt="inc-v1")
    new = docs.where(bkt >= 8000)
    old = docs.where(bkt < 8000)
    return (D.incremental_dedup(new, old, threshold=0.6)
            .orderBy("doc_id"))


# ---------------------------------------------------------------------
# fixed-size deterministic group sampling (r5)
# ---------------------------------------------------------------------

@register("pipeline_group_sample", """
WITH r AS (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('gs-v1|' || CAST(doc_id AS VARCHAR)) ASC,
                        doc_id ASC) AS sample_rank
    FROM documents)
SELECT doc_id, source, CAST(sample_rank AS BIGINT) AS sample_rank
FROM r WHERE sample_rank <= 5
ORDER BY doc_id
""")
def pipeline_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE per-group sampling: exactly 5 docs per source, chosen
    by md5 order — the quota counterpart of the fixed-rate stratified
    sample, deterministic across runs/engines/shard order."""
    docs = load_table(spark, "documents", sf_dir)
    return (P.group_sample_fixed(docs, n=5, by="source")
            .select("doc_id", "source", "sample_rank")
            .orderBy("doc_id"))


# ---------------------------------------------------------------------
# Bloom-filter decontamination (r5)
# ---------------------------------------------------------------------

_BF_WORDS, _BF_K = 4096, 3
_BF_BITS = _BF_WORDS * 32


def _bf_pos_sql(i: int, key: str = "key") -> str:
    return (f"(('0x' || substr(md5('bf{i}|' || {key}), 1, 8))::BIGINT "
            f"% {_BF_BITS})")


_BF_POSES = ", ".join(_bf_pos_sql(i) for i in range(_BF_K))


@register("pipeline_bloom_decontaminate", f"""
WITH tr AS (SELECT doc_id, {_TOKS} AS toks FROM documents
            WHERE source <> 'src0'),
be AS (SELECT {_TOKS} AS toks FROM documents WHERE source = 'src0'),
bek AS (SELECT DISTINCT
               UNNEST(list_transform({_shingle_sql(6)}, s -> md5(s))) AS key
        FROM be),
bpos AS (SELECT UNNEST([{_BF_POSES}]) AS pos FROM bek),
bloom AS (SELECT pos // 32 AS word,
                 bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
          FROM bpos GROUP BY word),
trk AS (SELECT doc_id,
               UNNEST(list_transform({_shingle_sql(6)}, s -> md5(s))) AS key
        FROM tr),
tpos AS (SELECT doc_id, key, UNNEST([{_BF_POSES}]) AS pos FROM trk),
perkey AS (
    SELECT t.doc_id, t.key,
           MIN(CASE WHEN b.bits IS NOT NULL
                     AND (b.bits & (1::BIGINT << CAST(t.pos % 32 AS INT))) <> 0
                    THEN 1 ELSE 0 END) AS allhit
    FROM tpos t LEFT JOIN bloom b ON t.pos // 32 = b.word
    GROUP BY t.doc_id, t.key),
perdoc AS (SELECT doc_id, MAX(allhit) AS anykey FROM perkey GROUP BY doc_id)
SELECT t.doc_id, COALESCE(p.anykey, 0) = 1 AS bloom_contaminated
FROM (SELECT DISTINCT doc_id FROM tr) t
LEFT JOIN perdoc p ON t.doc_id = p.doc_id
ORDER BY t.doc_id
""")
def pipeline_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through a Bloom filter instead of the exact key
    set: the benchmark's 6-gram keys collapse into a 4096-word (32 KB)
    bit table that broadcasts no matter how many keys went in. False
    positives are md5-deterministic, so even they hash-match the
    oracle; false negatives are impossible (pytest pins the superset
    property vs the exact pass)."""
    docs = load_table(spark, "documents", sf_dir)
    train = docs.where(F.col("source") != "src0")
    bench = docs.where(F.col("source") == "src0")
    return (P.bloom_decontaminate(train, bench, width=6,
                                  num_words=_BF_WORDS, k=_BF_K)
            .orderBy("doc_id"))


# ---------------------------------------------------------------------
# semantic dedup keepers (r5) — SemDeDup-shaped pipeline stage
# ---------------------------------------------------------------------

def _semdedup_oracle(threshold: float, num_tables: int,
                     bits_per_table: int, dim: int = 64) -> str:
    mats = S.lsh_sign_matrix(num_tables, bits_per_table, dim)
    buckets = " UNION ALL ".join(
        f"SELECT vec_id, v, {_bucket_sql('v', t, mats)} AS bucket FROM e"
        for t in range(num_tables))
    return f"""
WITH RECURSIVE e AS (SELECT vec_id, embedding AS v FROM embeddings),
eb AS ({buckets}),
cands AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           a.v AS va, b.v AS vb
    FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
pairs AS (SELECT id_a, id_b FROM cands
          WHERE {_cosine_sql('va', 'vb')} >= {threshold}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach AS (
    SELECT DISTINCT a AS id, a AS r FROM edges
    UNION
    SELECT ed.b AS id, reach.r FROM reach JOIN edges ed ON ed.a = reach.id),
labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size
          FROM labels GROUP BY cluster_id)
SELECT l.id AS vec_id, l.cluster_id, sz.cluster_size,
       (l.id = l.cluster_id) AS is_keeper
FROM labels l JOIN sizes sz ON l.cluster_id = sz.cluster_id
ORDER BY vec_id
"""


@register("sim_semdedup_keepers", _semdedup_oracle(0.4, 6, 8))
def sim_semdedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup-shaped): embedding-cosine near-dup
    pairs (hyperplane-LSH candidates + exact verify) closed under
    transitivity by distributed connected components; one keeper (min
    id) survives per semantic cluster. Every stage is the verified
    scale path — bucketed candidates, pointer-doubling CC — and the
    whole chain hash-matches one recursive-CTE oracle."""
    from aggregation_duckdb_spark.operators import graph as G
    emb = load_table(spark, "embeddings", sf_dir)
    pairs = S.embedding_near_duplicates_lsh(emb, threshold=0.4,
                                            num_tables=6, bits_per_table=8)
    return (G.duplicate_clusters(pairs, id_a="id_a", id_b="id_b")
            .select(F.col("doc_id").alias("vec_id"), "cluster_id",
                    "cluster_size", "is_keeper")
            .orderBy("vec_id"))


# ---------------------------------------------------------------------
# funnel + retention analytics (r5)
# ---------------------------------------------------------------------

@register("events_funnel", """
WITH s0 AS (SELECT user_id, MIN(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s1 AS (SELECT e.user_id, MIN(e.ts) AS t_click
       FROM events e JOIN s0 ON e.user_id = s0.user_id
       WHERE e.event_type = 'click' AND e.ts > s0.t_view
       GROUP BY e.user_id),
s2 AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
       FROM events e JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s1.t_click
       GROUP BY e.user_id)
SELECT s0.user_id, s0.t_view, s1.t_click, s2.t_purchase,
       CAST(1 + CASE WHEN s1.t_click IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN s2.t_purchase IS NOT NULL THEN 1 ELSE 0 END
            AS BIGINT) AS steps_completed,
       (s2.t_purchase IS NOT NULL) AS converted
FROM s0
LEFT JOIN s1 ON s0.user_id = s1.user_id
LEFT JOIN s2 ON s0.user_id = s2.user_id
ORDER BY s0.user_id
""")
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel with greedy-earliest step
    times (each step strictly after the previous step's time) — k
    pushed scans + k user-keyed join rounds, one hash partitioning
    reused throughout (``events.funnel_steps``)."""
    ev = load_table(spark, "events", sf_dir)
    out = E.funnel_steps(ev, ["view", "click", "purchase"])
    return (out.select("user_id",
                       F.col("t_0").alias("t_view"),
                       F.col("t_1").alias("t_click"),
                       F.col("t_2").alias("t_purchase"),
                       "steps_completed", "converted")
            .orderBy("user_id"))


@register("events_retention_cohorts", """
WITH active AS (
    SELECT DISTINCT user_id,
           epoch_us(ts) // 604800000000 AS week
    FROM events),
cohort AS (SELECT user_id, MIN(week) AS cohort_week
           FROM active GROUP BY user_id),
sizes AS (SELECT cohort_week, COUNT(*) AS cohort_size
          FROM cohort GROUP BY cohort_week),
cells AS (
    SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_active
    FROM active a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY c.cohort_week, week_offset)
SELECT ce.cohort_week, ce.week_offset, ce.n_active, s.cohort_size,
       CAST(ce.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
           AS retention
FROM cells ce JOIN sizes s ON ce.cohort_week = s.cohort_week
ORDER BY ce.cohort_week, ce.week_offset
""")
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle on integer epoch-week keys (neither
    engine's week-bucketing built-in — their origins disagree; div
    arithmetic is bit-identical). One distinct pass, user-keyed
    cohort min, broadcast cohort sizes (``events.retention_cohorts``)."""
    ev = load_table(spark, "events", sf_dir)
    return (E.retention_cohorts(ev)
            .orderBy("cohort_week", "week_offset"))


# ---------------------------------------------------------------------
# Spark 4 VARIANT semi-structured type (r5)
# ---------------------------------------------------------------------

@register("q_variant_extract", """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k,
       CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS min_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
""")
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path: ``parse_json`` ingests the props column
    into the binary semi-structured type once, ``try_variant_get``
    extracts typed fields without re-parsing per access — the
    schema-on-read shape for heterogeneous event payloads (vs
    q_json_functions' per-path string re-parsing). The variant itself
    is engine-internal, so the oracle compares the typed extraction
    results."""
    ev = load_table(spark, "events", sf_dir)
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return (ev.select("event_type", k.alias("__k"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("__k").cast("long").alias("sum_k"),
                 F.min("__k").cast("long").alias("min_k"),
                 F.max("__k").cast("long").alias("max_k"))
            .orderBy("event_type"))


@register("text_bpe_token_count", f"""
WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM d ORDER BY doc_id
""")
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgets both ways: whitespace tokens vs the BPE-ish
    pre-tokenizer count (letter runs / digit runs / punctuation as
    separate tokens — the subword convention; ``text.bpe_token_count``).
    The alternation is unambiguous and lookahead-free so Spark's Java
    regex and DuckDB's RE2 count identically."""
    docs = load_table(spark, "documents", sf_dir)
    return (docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("ws_tokens"),
        T.bpe_token_count(F.col("text")).alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"))
        .orderBy("doc_id"))


@register("dedup_duplicate_spans", f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sp AS (SELECT doc_id, UNNEST(generate_series(1, len(toks) - 19)) AS pos, toks
       FROM d WHERE len(toks) >= 20),
h AS (SELECT doc_id, md5(array_to_string(toks[pos:pos+19], ' ')) AS hh
      FROM sp),
c AS (SELECT hh, COUNT(*) AS df FROM h GROUP BY hh)
SELECT h.doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN c.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_spans,
       CAST(SUM(CASE WHEN c.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
FROM h JOIN c ON h.hh = c.hh
GROUP BY h.doc_id
ORDER BY h.doc_id
""")
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication census: 20-token spans hashed and
    counted corpus-wide; a span seen twice anywhere is verbatim-
    repeated text document-level dedup misses
    (``dedup.duplicate_spans`` — the hash-groupBy stand-in for the
    suffix-array approach, linear in corpus tokens)."""
    docs = load_table(spark, "documents", sf_dir)
    return D.duplicate_spans(docs, width=20).orderBy("doc_id")


@register("asof_nearest_events", """
WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts AS cts, event_id AS c_id,
             CAST(value AS DOUBLE) AS cvalue
      FROM events WHERE event_type = 'click'),
j AS (SELECT p.event_id, p.user_id, p.ts, c.cts, c.cvalue,
             abs(epoch_us(p.ts) - epoch_us(c.cts)) AS gap,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                 ORDER BY abs(epoch_us(p.ts) - epoch_us(c.cts)) ASC,
                          c.cts ASC, c.c_id DESC) AS rn
      FROM p LEFT JOIN c ON p.user_id = c.user_id)
SELECT event_id, user_id, ts, cvalue AS value_near, cts AS ts_near,
       CAST(gap AS BIGINT) AS gap_us
FROM j WHERE rn = 1 ORDER BY event_id
""")
def asof_nearest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase joined to the user's NEAREST click in either
    direction (``asof.asof_nearest``: two carry-forward window passes +
    in-row argmin — no inequality join). The oracle states the same
    semantics as a per-row argmin over the full theta join; equidistant
    ties go backward, simultaneous clicks to the greatest event id."""
    from aggregation_duckdb_spark.operators.asof import asof_nearest
    ev = load_table(spark, "events", sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").cast("double").alias("value"),
        "event_id")
    out = asof_nearest(purchases, clicks, on="ts", by="user_id",
                       value_cols=["value", "ts"], tiebreak="event_id")
    return (out.select("event_id", "user_id", "ts",
                       "value_near", "ts_near", "gap_us")
            .orderBy("event_id"))


@register("events_hourly_anomalies", """
WITH hourly AS (
    SELECT event_type,
           CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP)
               AS window_start,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type, window_start),
stats AS (
    SELECT event_type, COUNT(*) AS n_hours,
           SUM(n_events) AS s, SUM(n_events * n_events) AS ss
    FROM hourly GROUP BY event_type),
m AS (
    SELECT event_type,
           CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mean_events,
           sqrt((CAST(ss AS DOUBLE)
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n_hours AS DOUBLE))
                / (CAST(n_hours AS DOUBLE) - 1.0)) AS sd_events
    FROM stats)
SELECT h.event_type, h.window_start, h.n_events, m.mean_events,
       (CAST(h.n_events AS DOUBLE) - m.mean_events) / m.sd_events AS z
FROM hourly h JOIN m ON h.event_type = m.event_type
WHERE abs((CAST(h.n_events AS DOUBLE) - m.mean_events) / m.sd_events) >= 2.0
ORDER BY h.event_type, h.window_start
""")
def events_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly volume anomalies per event type (|z| >= 2). Moments from
    exact integer Σc/Σc² — never a float-fold stddev aggregate, so the
    z-scores (and the threshold cut) are bit-identical cross-engine
    (``events.hourly_anomalies``)."""
    ev = load_table(spark, "events", sf_dir)
    return (E.hourly_anomalies(ev, z_threshold=2.0)
            .orderBy("event_type", "window_start"))


def _ivf_exact_oracle(k: int = 10, n_probe: int = 3, dim: int = 64) -> str:
    """Full IVF search reproduced in DuckDB: exact fixed-point
    centroids (the emb_label_centroids math), cosine assignment with
    the same (sim DESC, cid ASC) tie rule, n_probe cell pruning, and
    the in-cell top-k — every float comes from the identical fold, so
    even this APPROXIMATE search hash-matches bit-for-bit."""
    cos_a = _cosine_sql("v", "cvec", dim)
    cos_q = _cosine_sql("qv", "cvec", dim)
    cos_s = _cosine_sql("qv", "v", dim)
    return f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
cl AS (SELECT label AS centroid_id,
              CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
              unnest(embedding) AS comp
       FROM embeddings),
cm AS (SELECT centroid_id, pos,
              CAST(SUM(CAST(round(CAST(comp AS DOUBLE) * {S.CENTROID_SCALE})
                            AS BIGINT)) AS DOUBLE)
                  / COUNT(*) / {S.CENTROID_SCALE} AS mean_value
       FROM cl GROUP BY centroid_id, pos),
cent AS (SELECT centroid_id, list(mean_value ORDER BY pos) AS cvec
         FROM cm GROUP BY centroid_id),
aj AS (SELECT e.vec_id, e.v, c.centroid_id,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id
                  ORDER BY {cos_a} DESC, c.centroid_id ASC) AS crn
       FROM e CROSS JOIN cent c),
cells AS (SELECT vec_id, v, centroid_id FROM aj WHERE crn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
qp AS (SELECT q.query_id, q.qv, c.centroid_id,
              ROW_NUMBER() OVER (PARTITION BY q.query_id
                  ORDER BY {cos_q} DESC, c.centroid_id ASC) AS prn
       FROM q CROSS JOIN cent c),
probes AS (SELECT query_id, qv, centroid_id FROM qp WHERE prn <= {n_probe}),
sc AS (SELECT p.query_id, s.vec_id AS neighbor_id, {cos_s} AS cosine_sim
       FROM probes p JOIN cells s ON p.centroid_id = s.centroid_id
       WHERE s.vec_id <> p.query_id),
rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM sc)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= {k} ORDER BY query_id, rank
"""


@register("sim_ivf_topk_exact", _ivf_exact_oracle(10, 3))
def sim_ivf_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search with FULL value verification: codebook from the
    order-independent fixed-point label centroids, so — unlike the
    kmeans-trained sim_ivf_topk, which stays rows-only — assignment,
    probing, and in-cell ranking all reproduce bit-for-bit in the
    DuckDB oracle. Demonstrates the approximate path's determinism:
    approximation here is WHICH cells are probed, never nondeterminism
    in the math."""
    emb = load_table(spark, "embeddings", sf_dir)
    long_c = S.label_centroids_exact(emb)
    cents = (long_c.groupBy("centroid_id")
             .agg(F.transform(
                 F.array_sort(F.collect_list(
                     F.struct("pos", "mean_value"))),
                 lambda x: x["mean_value"]).alias("centroid")))
    queries = emb.where(F.col("vec_id") < 5)
    return (S.ivf_topk(emb, queries, cents, k=10, n_probe=3)
            .select("query_id", "neighbor_id", "cosine_sim", "rank")
            .orderBy("query_id", "rank"))


@register("pipeline_leakage_free_split", f"""
WITH RECURSIVE {_NEARDUP_PAIRS_CTES},
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
    SELECT DISTINCT a AS id, a AS r FROM edges
    UNION
    SELECT e.b AS id, reach.r FROM reach JOIN edges e ON e.a = reach.id),
labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
cl AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
       FROM (SELECT doc_id FROM documents) d
       LEFT JOIN labels l ON d.doc_id = l.id),
b AS (SELECT doc_id, cluster_id,
             ('0x' || substr(md5('leak-v1|' || CAST(cluster_id AS VARCHAR)),
                             1, 8))::BIGINT % 10000 AS bucket
      FROM cl)
SELECT doc_id, cluster_id,
       CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM b ORDER BY doc_id
""")
def pipeline_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-true splitting: near-dup clusters (LSH pairs closed by
    connected components) are assigned to train/val/test as UNITS, so
    a near-copy of an eval document can never sit in train
    (``pipeline.leakage_free_split``; pytest pins the same-split
    invariant over every verified pair)."""
    docs = load_table(spark, "documents", sf_dir)
    return (P.leakage_free_split(docs, threshold=0.6)
            .orderBy("doc_id"))


@register("hier_agg_by_month", f"""
WITH RECURSIVE nodes AS ({_fs.GEO_NODES_SQL}),
levels AS (
    SELECT natural_key, name, 1 AS level_number, [natural_key] AS path
    FROM nodes WHERE parent_natural_key IS NULL
    UNION ALL
    SELECT n.natural_key, n.name, l.level_number + 1,
           list_append(l.path, n.natural_key)
    FROM nodes n JOIN levels l ON n.parent_natural_key = l.natural_key),
closure AS (SELECT UNNEST(path) AS ancestor_key, natural_key AS descendant_key
            FROM levels),
an AS (SELECT natural_key, name FROM nodes),
facts AS (
    SELECT o.o_custkey, o.o_totalprice,
           CAST(c.c_nationkey AS BIGINT) AS nation_key,
           CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
SELECT cl.ancestor_key AS node_natural_key, an.name AS node_name, f.month,
       CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_total_price,
       COUNT(DISTINCT f.o_custkey) AS distinct_customer_count,
       COUNT(*) AS n_orders
FROM facts f
JOIN closure cl ON f.nation_key = cl.descendant_key
JOIN an ON cl.ancestor_key = an.natural_key
GROUP BY ALL
ORDER BY node_natural_key, month
""")
def hier_agg_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-dimension hierarchical aggregation: the closure fan-out up
    the geo hierarchy × calendar months — the cross-rollup shape a
    reporting user layers on the flagship. Facts broadcast-join both
    dims (customer and closure) and shuffle once for the final
    (ancestor, month) group-by; the exact COUNT(DISTINCT) stays
    non-additive per cell, which is why the closure re-scan exists."""
    hier = _fs.geo_hierarchy(spark, sf_dir)
    closure = hier.closure().select(
        F.col("ancestor_node_natural_key").alias("node_natural_key"),
        F.col("ancestor_node_name").alias("node_name"),
        F.col("descendant_node_natural_key").alias("descendant_key"))
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir).select(
        "c_custkey", F.col("c_nationkey").cast("long").alias("nation_key"))
    facts = (orders
             # customer scales with SF — size-gated hint, not a hard
             # F.broadcast (see runtime.broadcast_if_small)
             .join(_RT.broadcast_if_small(customer),
                   orders["o_custkey"] == customer["c_custkey"])
             .select("o_custkey", "o_totalprice", "nation_key",
                     F.trunc(F.col("o_orderdate"), "month").alias("month")))
    return (facts
            .join(F.broadcast(closure),
                  facts["nation_key"] == closure["descendant_key"])
            .groupBy("node_natural_key", "node_name", "month")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("double").alias("sum_total_price"),
                 F.count_distinct(F.col("o_custkey"))
                 .alias("distinct_customer_count"),
                 F.count(F.lit(1)).alias("n_orders"))
            .orderBy("node_natural_key", "month"))


@register("dedup_prefix_pairs", f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_shingle_sql(3)} AS sh FROM d),
ex AS (SELECT doc_id AS doc, UNNEST(sh) AS sg FROM s),
dfc AS (SELECT sg, COUNT(*) AS df FROM ex GROUP BY sg),
exd AS (SELECT ex.doc, ex.sg, dfc.df FROM ex JOIN dfc ON ex.sg = dfc.sg),
pre AS (SELECT doc, list(sg ORDER BY df, sg) AS ordered, COUNT(*) AS n
        FROM exd GROUP BY doc),
pfx AS (SELECT doc,
               UNNEST(ordered[1 : CAST(n - ceil(0.6 * n) + 1 AS INT)]) AS sg
        FROM pre),
cands AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
          FROM pfx a JOIN pfx b ON a.sg = b.sg AND a.doc < b.doc)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))
                  AS DOUBLE) AS jaccard
FROM cands c
JOIN s sa ON c.doc_a = sa.doc_id
JOIN s sb ON c.doc_b = sb.doc_id
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))
             AS DOUBLE) >= 0.6
ORDER BY doc_a, doc_b
""")
def dedup_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (AllPairs/PPJoin
    family): guaranteed-complete Jaccard >= 0.6 pairs — the
    deterministic complement to the probabilistic MinHash-LSH path
    (``dedup.prefix_filter_pairs``; exactness vs the naive all-pairs
    join pinned by pytest)."""
    docs = load_table(spark, "documents", sf_dir)
    return (D.prefix_filter_pairs(docs, threshold=0.6)
            .orderBy("doc_a", "doc_b"))


@register("pipeline_corpus_report", f"""
WITH d AS (SELECT doc_id, lang, source, text, {_TOKS} AS toks FROM documents),
m AS (SELECT doc_id, lang, source,
             CAST(len(toks) AS BIGINT) AS tok,
             CAST(len(toks) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]',
                                                       '', 'g'))
                  AS DOUBLE) AS n_punct,
             CAST(len(list_filter(toks, t -> list_contains(
                 [{", ".join(f"'{w}'" for w in _ALL_STOP)}], t)))
                  AS DOUBLE) AS n_stop
      FROM d),
qd AS (SELECT doc_id, lang, source, tok,
              round(0.4 * least(n_tok / 64.0, 1.0)
                    + 0.3 * (1.0 - n_punct / greatest(n_chars, 1.0))
                    + 0.3 * least(n_stop / greatest(n_tok, 1.0) * 4, 1.0), 6)
                  AS q
       FROM m)
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS sum_tokens,
       CAST(SUM(CAST(round(q * 1000000) AS BIGINT)) AS DOUBLE)
           / COUNT(*) / 1000000 AS mean_quality,
       CAST(SUM(CASE WHEN q >= 0.45 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_above_threshold
FROM qd GROUP BY lang, source
ORDER BY lang, source
""")
def pipeline_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card cross-tab (language × source): doc counts,
    exact token sums, fixed-point mean quality, quality-gate pass
    counts (``pipeline.corpus_report``) — the summary a corpus ships
    with and a nightly ingest diffs."""
    docs = load_table(spark, "documents", sf_dir)
    return (P.corpus_report(docs).orderBy("lang", "source"))


# ---------------------------------------------------------------------
# time-dimension hierarchy (r5) — the engine on a third domain
# ---------------------------------------------------------------------

_TIME_NODES_SPARK_DOC = """year → quarter → month hierarchy derived
from order dates; natural keys are collision-free integers (year y,
quarter y·10+q, month y·100+m)."""


@register("hier_agg_time", """
WITH RECURSIVE nodes AS (
    SELECT CAST(-1 AS BIGINT) AS natural_key, 'All Time' AS name,
           'Root' AS level_name, CAST(NULL AS BIGINT) AS parent_natural_key
    UNION ALL
    SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT),
           CAST(year(o_orderdate) AS VARCHAR), 'Year', CAST(-1 AS BIGINT)
    FROM orders
    UNION ALL
    SELECT DISTINCT CAST(year(o_orderdate) * 10 + quarter(o_orderdate)
                         AS BIGINT),
           CAST(year(o_orderdate) AS VARCHAR) || '-Q'
               || CAST(quarter(o_orderdate) AS VARCHAR),
           'Quarter', CAST(year(o_orderdate) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT DISTINCT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                         AS BIGINT),
           CAST(year(o_orderdate) AS VARCHAR) || '-'
               || lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0'),
           'Month', CAST(year(o_orderdate) * 10 + quarter(o_orderdate)
                         AS BIGINT)
    FROM orders),
levels AS (
    SELECT natural_key, name, level_name, 1 AS level_number,
           [natural_key] AS path
    FROM nodes WHERE parent_natural_key IS NULL
    UNION ALL
    SELECT n.natural_key, n.name, n.level_name, l.level_number + 1,
           list_append(l.path, n.natural_key)
    FROM nodes n JOIN levels l ON n.parent_natural_key = l.natural_key),
dim AS (SELECT *, ROW_NUMBER() OVER (ORDER BY path ASC) AS node_sort_order
        FROM levels),
closure AS (SELECT UNNEST(path) AS ancestor_key, natural_key AS descendant_key
            FROM levels),
facts AS (
    SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
               AS month_key,
           o_custkey, o_totalprice
    FROM orders)
SELECT d.natural_key AS node_natural_key, d.name AS node_name,
       d.level_name, d.level_number,
       CAST(d.node_sort_order AS BIGINT) AS node_sort_order,
       CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_total_price,
       COUNT(DISTINCT f.o_custkey) AS distinct_customer_count,
       COUNT(*) AS count_of_fact_records
FROM facts f
JOIN closure cl ON f.month_key = cl.descendant_key
JOIN dim d ON cl.ancestor_key = d.natural_key
GROUP BY ALL
ORDER BY node_sort_order
""")
def hier_agg_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hierarchy engine on a THIRD domain (after products and
    geography): a year→quarter→month time dimension derived from the
    fact dates themselves, flattened and closure-aggregated by the
    identical machinery — all-time/year/quarter subtotals without
    ROLLUP, on a ragged-capable path. Natural keys are collision-free
    integers (y, y·10+q, y·100+m)."""
    from aggregation_duckdb_spark.hierarchy import Hierarchy
    from aggregation_duckdb_spark.operators.aggregate import (
        aggregate_with_closure)
    orders = load_table(spark, "orders", sf_dir)
    y = F.year("o_orderdate")
    q = F.quarter("o_orderdate")
    m = F.month("o_orderdate")
    root = spark.createDataFrame(
        [(-1, "All Time", "Root", None)],
        "natural_key long, name string, level_name string, "
        "parent_natural_key long")
    years = (orders.select(y.cast("long").alias("natural_key"),
                           y.cast("string").alias("name"),
                           F.lit("Year").alias("level_name"),
                           F.lit(-1).cast("long")
                           .alias("parent_natural_key")).distinct())
    quarters = (orders.select(
        (y * 10 + q).cast("long").alias("natural_key"),
        F.concat(y.cast("string"), F.lit("-Q"), q.cast("string"))
        .alias("name"),
        F.lit("Quarter").alias("level_name"),
        y.cast("long").alias("parent_natural_key")).distinct())
    months = (orders.select(
        (y * 100 + m).cast("long").alias("natural_key"),
        F.concat(y.cast("string"), F.lit("-"),
                 F.lpad(m.cast("string"), 2, "0")).alias("name"),
        F.lit("Month").alias("level_name"),
        (y * 10 + q).cast("long").alias("parent_natural_key")).distinct())
    nodes = root.unionByName(years).unionByName(quarters).unionByName(months)
    hier = Hierarchy.from_adjacency(
        nodes, natural_key="natural_key", name="name",
        level_name="level_name", parent_natural_key="parent_natural_key")
    facts = orders.select(
        (y * 100 + m).cast("long").alias("month_key"),
        "o_custkey", "o_totalprice")
    measures = [
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
         .alias("sum_total_price"),
        F.count_distinct(F.col("o_custkey")).alias("distinct_customer_count"),
        F.count(F.lit(1)).alias("count_of_fact_records"),
    ]
    agg = aggregate_with_closure(facts, hier.closure(), "month_key",
                                 measures, reporting_dim=hier.reporting_dim())
    return agg.select(
        F.col("ancestor_node_natural_key").alias("node_natural_key"),
        F.col("ancestor_node_name").alias("node_name"),
        F.col("ancestor_level_name").alias("level_name"),
        F.col("ancestor_level_number").cast("int").alias("level_number"),
        F.col("node_sort_order").cast("long").alias("node_sort_order"),
        "sum_total_price", "distinct_customer_count",
        "count_of_fact_records").orderBy("node_sort_order")


@register("events_transition_matrix", """
WITH steps AS (
    SELECT user_id,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS from_type,
           event_type AS to_type
    FROM events),
counts AS (
    SELECT from_type, to_type, COUNT(*) AS n_transitions
    FROM steps WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type),
totals AS (SELECT from_type, SUM(n_transitions) AS row_total
           FROM counts GROUP BY from_type)
SELECT c.from_type, c.to_type, c.n_transitions,
       CAST(c.n_transitions AS DOUBLE) / CAST(t.row_total AS DOUBLE)
           AS probability
FROM counts c JOIN totals t ON c.from_type = t.from_type
ORDER BY c.from_type, c.to_type
""")
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over per-user event sequences:
    consecutive-type counts + row-normalized probabilities
    (``events.transition_matrix``) — the first-order behavior model
    behind next-action prediction."""
    ev = load_table(spark, "events", sf_dir)
    return (E.transition_matrix(ev).orderBy("from_type", "to_type"))


@register("pipeline_snapshot_diff", """
WITH o AS (SELECT doc_id, md5(text) AS ho FROM documents
           WHERE doc_id % 7 <> 0),
n AS (SELECT doc_id,
             md5(CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END)
                 AS hn
      FROM documents WHERE doc_id % 5 <> 0)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.ho IS NULL THEN 'added'
            WHEN n.hn IS NULL THEN 'removed'
            WHEN o.ho = n.hn THEN 'unchanged'
            ELSE 'changed' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
ORDER BY doc_id
""")
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (``pipeline.snapshot_diff``): two simulated
    nightly snapshots of the documents table (disjoint id slices, a
    third of the shared docs re-cased) diffed into
    added/removed/changed/unchanged by one full-outer md5 equi-join —
    the ingest-ops primitive behind 'what changed since yesterday'."""
    docs = load_table(spark, "documents", sf_dir)
    old = (docs.where(F.col("doc_id") % 7 != 0)
           .select("doc_id", "text"))
    new = (docs.where(F.col("doc_id") % 5 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 3 == 0,
                          F.upper(F.col("text")))
                   .otherwise(F.col("text")).alias("text")))
    return P.snapshot_diff(old, new).orderBy("doc_id")


@register("events_dau_wau", """
WITH active AS (
    SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
    FROM events),
dau AS (SELECT d AS day, COUNT(DISTINCT user_id) AS dau
        FROM active GROUP BY d),
contrib AS (SELECT user_id, UNNEST(generate_series(d, d + 6)) AS day
            FROM active),
wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau
        FROM contrib GROUP BY day)
SELECT dau.day, dau.dau, wau.wau,
       CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
FROM dau JOIN wau ON dau.day = wau.day
ORDER BY dau.day
""")
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU engagement per epoch day (``events.dau_wau``): the
    7-day rolling distinct comes from each (user, day) pair exploding
    into the 7 WAU days it serves — map-side fan-out + distinct count,
    never a day-range self-join or an unsupported distinct-over-range
    window."""
    ev = load_table(spark, "events", sf_dir)
    return E.dau_wau(ev).orderBy("day")


@register("dedup_minhash_estimate", f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_shingle_sql(3)} AS sh FROM d),
hashes AS (SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS hs FROM s),
sigs AS (SELECT doc_id, sh, {_minhash_sql(12)} AS sig FROM hashes),
buckets AS (
    SELECT doc_id AS doc, UNNEST({_band_sql(4, 3)}) AS bucket FROM sigs),
cands AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.doc < b.doc)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_filter(
           list_zip(sa.sig, sb.sig),
           p -> p[1] = p[2])) AS DOUBLE) / 12 AS est_jaccard,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))
                  AS DOUBLE) AS exact_jaccard
FROM cands c
JOIN sigs sa ON c.doc_a = sa.doc_id
JOIN sigs sb ON c.doc_b = sb.doc_id
ORDER BY doc_a, doc_b
""")
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash estimator made visible: for every LSH candidate
    pair, the slot-agreement Jaccard ESTIMATE (matching signature
    slots / 12 — the unbiased MinHash property the streaming dedup
    relies on) beside the exact shingle Jaccard. Both deterministic
    md5 math, so even the estimator's sampling error is identical
    cross-engine and the entry hash-matches."""
    docs = load_table(spark, "documents", sf_dir)
    shingled = D.doc_shingles(docs, checkpoint=True)
    hs = shingled.select("doc", "__sh",
                         F.transform(F.col("__sh"), F.md5).alias("hs"))
    hp = hs.select("doc", "__sh", F.transform(
        F.col("hs"),
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("h2"))
    ).alias("hp"))
    sigged = materialize(
        hp.select("doc", "__sh", D.minhash_signature_from_pairs(
            F.col("hp"), 12).alias("sig")))
    cands = D.minhash_lsh_candidates(docs, num_hashes=12, num_bands=4,
                                     shingled=shingled)
    sa = sigged.select(F.col("doc").alias("__da"),
                       F.col("__sh").alias("__sha"),
                       F.col("sig").alias("__siga"))
    sb = sigged.select(F.col("doc").alias("__db"),
                       F.col("__sh").alias("__shb"),
                       F.col("sig").alias("__sigb"))
    est = (F.size(F.filter(
        F.zip_with(F.col("__siga"), F.col("__sigb"),
                   lambda a, b: a == b),
        lambda x: x)).cast("double") / 12)
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    union = F.size(F.col("__sha")) + F.size(F.col("__shb")) - inter
    return (cands
            .join(sa, cands["doc_a"] == sa["__da"])
            .join(sb, cands["doc_b"] == sb["__db"])
            .select("doc_a", "doc_b",
                    est.alias("est_jaccard"),
                    (inter.cast("double") / union.cast("double"))
                    .alias("exact_jaccard"))
            .orderBy("doc_a", "doc_b"))


# ---------------------------------------------------------------------
# round 6: multimodal phash dedup, epoch shuffle, cluster histogram,
# n-gram novelty
# ---------------------------------------------------------------------

@register("mm_phash_neardup", """
WITH h AS (SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents),
g AS (SELECT doc_id, list_transform(
          generate_series(1, greatest(len(hx)//2 - 3, 1)),
          i -> md5(substr(hx, (i-1)*2+1, 8))) AS hs
      FROM h),
p AS (SELECT doc_id, (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 31) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 2, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 30) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 3, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 29) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 4, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 28) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 5, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 27) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 6, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 26) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 7, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 25) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 8, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 24) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 9, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 23) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 10, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 22) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 11, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 21) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 12, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 20) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 13, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 19) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 14, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 18) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 15, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 17) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 16, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 16) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 17, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 15) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 18, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 14) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 19, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 13) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 20, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 12) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 21, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 11) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 22, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 10) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 23, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 9) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 24, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 8) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 25, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 7) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 26, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 6) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 27, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 5) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 28, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 4) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 29, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 3) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 30, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 2) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 31, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 1) ELSE 0 END) + (CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN substr(x, 32, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << 0) ELSE 0 END) AS phash FROM g),
bands AS (
    SELECT doc_id AS doc, phash, i AS band,
           (phash >> (i * 8)) & 255 AS val
    FROM p, UNNEST(generate_series(0, 3)) AS t(i)),
cands AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
           a.phash AS pa, b.phash AS pb
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.val = b.val AND a.doc < b.doc)
SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
FROM cands WHERE bit_count(xor(pa, pb)) <= 3
ORDER BY doc_a, doc_b
""")
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup by perceptual hash
    (``multimodal.phash_near_duplicates``): band-bucket equi-join on
    hash bit-bands, exact hamming verify via bit_count(xor) — the
    image-dedup shape with the codec-dependent fingerprint stubbed on
    the payload md5 (see perceptual_hash)."""
    docs = load_table(spark, "documents", sf_dir)
    payload = M.attach_payload(docs)
    return (M.phash_near_duplicates(payload, max_hamming=3)
            .orderBy("doc_a", "doc_b"))


@register("pipeline_epoch_shuffle", """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
           ORDER BY md5('epoch-0|' || CAST(doc_id AS VARCHAR)), doc_id)
           AS BIGINT) AS position
FROM documents
ORDER BY position
""")
def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (``pipeline.epoch_shuffle``): global
    md5-rank order computed shard-parallel (hash-prefix shards + local
    windows + broadcast offsets) yet bit-equal to the one global sort
    the oracle runs."""
    docs = load_table(spark, "documents", sf_dir)
    return (P.epoch_shuffle(docs, seed="epoch-0")
            .select("doc_id", F.col("position").cast("long").alias("position"))
            .orderBy("position"))


@register("dedup_cluster_sizes", f"""
WITH RECURSIVE d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_shingle_sql(3)} AS sh FROM d),
hashes AS (SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS hs FROM s),
sigs AS (SELECT doc_id, sh, {_minhash_sql(12)} AS sig FROM hashes),
buckets AS (
    SELECT doc_id AS doc, UNNEST({_band_sql(4, 3)}) AS bucket FROM sigs),
cands AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.doc < b.doc),
pairs AS (
    SELECT c.doc_a, c.doc_b FROM cands c
    JOIN s sa ON c.doc_a = sa.doc_id
    JOIN s sb ON c.doc_b = sb.doc_id
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))
                 AS DOUBLE) >= 0.6),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
    SELECT DISTINCT a AS id, a AS r FROM edges
    UNION
    SELECT e.b AS id, reach.r FROM reach JOIN edges e ON e.a = reach.id),
labels AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
sizes AS (SELECT label, COUNT(*) AS cluster_size FROM labels GROUP BY label)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
ORDER BY cluster_size
""")
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram
    (``graph.cluster_size_histogram``): near-dup pairs closed into
    clusters, then the size distribution — the dataset-card number
    that separates long-tail duplication from boilerplate blowups."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.near_duplicates(docs, threshold=0.6,
                              num_hashes=12, num_bands=4)
    from aggregation_duckdb_spark.operators import graph as G
    return (G.cluster_size_histogram(pairs)
            .select(F.col("cluster_size").cast("long").alias("cluster_size"),
                    "n_clusters", "n_docs")
            .orderBy("cluster_size"))


@register("text_ngram_novelty", f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents
           WHERE source <> 'src0'),
s AS (SELECT doc_id, {_shingle_sql(3)} AS sh FROM d),
g AS (SELECT doc_id, UNNEST(sh) AS g FROM s),
refd AS (SELECT {_TOKS} AS toks FROM documents WHERE source = 'src0'),
ref AS (SELECT DISTINCT UNNEST({_shingle_sql(3)}) AS g FROM refd),
novel AS (SELECT doc_id, COUNT(*) AS n_novel FROM g
          WHERE g NOT IN (SELECT g FROM ref) GROUP BY doc_id)
SELECT s.doc_id,
       CAST(len(s.sh) AS BIGINT) AS n_grams,
       CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
       CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / CAST(len(s.sh) AS DOUBLE)
           AS novelty
FROM s LEFT JOIN novel n ON s.doc_id = n.doc_id
ORDER BY s.doc_id
""")
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram novelty vs the held-out src0 slice
    (``text.ngram_novelty``): what fraction of each document's distinct
    3-grams the reference has never seen — the per-doc complement of
    corpus decontamination."""
    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.where(F.col("source") != "src0")
    ref = docs.where(F.col("source") == "src0")
    return (T.ngram_novelty(corpus, ref, width=3)
            .select("doc_id",
                    F.col("n_grams").cast("long").alias("n_grams"),
                    "n_novel", "novelty")
            .orderBy("doc_id"))


@register("text_token_vocab", f"""
WITH toks AS (SELECT UNNEST({_TOKS}) AS token FROM documents),
counts AS (SELECT token, COUNT(*) AS n_occurrences FROM toks GROUP BY token),
ranked AS (
    SELECT token, n_occurrences,
           ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) AS rank,
           SUM(n_occurrences) OVER () AS total,
           SUM(n_occurrences) OVER (ORDER BY n_occurrences DESC, token
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum
    FROM counts)
SELECT CAST(rank AS BIGINT) AS rank, token,
       CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(n_occurrences AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
FROM ranked WHERE rank <= 100
ORDER BY rank
""")
def text_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token vocabulary with coverage (``text.token_vocab``):
    top-100 tokens, per-token corpus share, cumulative coverage —
    tokenizer-design and corpus-drift primitive."""
    docs = load_table(spark, "documents", sf_dir)
    return T.token_vocab(docs, top_k=100).orderBy("rank")


@register("pipeline_leak_report", f"""
WITH tr AS (SELECT doc_id, {_TOKS} AS toks FROM documents
            WHERE source <> 'src0'),
be AS (SELECT doc_id, {_TOKS} AS toks FROM documents
       WHERE source = 'src0'),
bk AS (SELECT doc_id AS bench_doc_id,
              UNNEST(list_transform({_shingle_sql(6)}, s -> md5(s))) AS key
       FROM be),
tk AS (SELECT doc_id AS tid,
              UNNEST(list_transform({_shingle_sql(6)}, s -> md5(s))) AS key
       FROM tr),
hits AS (SELECT bk.bench_doc_id,
                COUNT(DISTINCT bk.key) AS n_leaked_grams,
                COUNT(DISTINCT tk.tid) AS n_leaking_train_docs
         FROM bk JOIN tk ON bk.key = tk.key
         GROUP BY bk.bench_doc_id),
base AS (SELECT doc_id AS bench_doc_id,
                CAST(len(list_transform({_shingle_sql(6)}, s -> md5(s)))
                     AS BIGINT) AS n_grams
         FROM be)
SELECT base.bench_doc_id, base.n_grams,
       CAST(COALESCE(h.n_leaked_grams, 0) AS BIGINT) AS n_leaked_grams,
       CAST(COALESCE(h.n_leaking_train_docs, 0) AS BIGINT)
           AS n_leaking_train_docs,
       CAST(COALESCE(h.n_leaked_grams, 0) AS DOUBLE)
           / CAST(base.n_grams AS DOUBLE) AS leak_share
FROM base LEFT JOIN hits h ON base.bench_doc_id = h.bench_doc_id
ORDER BY base.bench_doc_id
""")
def pipeline_leak_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-integrity leakage report (``pipeline.leak_report``): per
    src0 benchmark doc, how many of its 6-grams the training corpus
    carries and in how many training docs — decontamination's inverse
    view."""
    docs = load_table(spark, "documents", sf_dir)
    train = docs.where(F.col("source") != "src0")
    bench = docs.where(F.col("source") == "src0")
    return P.leak_report(train, bench, width=6).orderBy("bench_doc_id")


# ---------------------------------------------------------------------
# round-6 additions: corpus line dedup, in-doc line stats, path mining,
# kNN classification
# ---------------------------------------------------------------------

def _lined_sql(width: int) -> str:
    """DuckDB mirror of _lined_docs: text re-lined as non-overlapping
    ``width``-token groups joined by newline (the synthetic corpus has
    no newlines, so line-shaped operators derive deterministic lines
    from token groups — identical bytes in both engines)."""
    return f"""list_transform(
        generate_series(1, greatest(CAST(ceil(len(toks)/{width}.0) AS BIGINT), 1)),
        i -> array_to_string(toks[(i-1)*{width}+1:(i-1)*{width}+{width}], ' '))"""


def _lined_docs(docs: DataFrame, width: int) -> DataFrame:
    """Spark side of _lined_sql: same token groups, same join bytes."""
    t = T.tokens(F.col("text"))
    n = F.greatest(F.ceil(F.size(t) / F.lit(float(width))).cast("int"),
                   F.lit(1))
    lines = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(" ", F.slice(t, (i - 1) * width + 1, width)))
    return docs.select("doc_id", F.concat_ws("\n", lines).alias("text"))


@register("dedup_global_lines", f"""
WITH d0 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
l AS (SELECT doc_id, {_lined_sql(4)} AS ls FROM d0),
x AS (SELECT DISTINCT doc_id, line
      FROM (SELECT doc_id, UNNEST(ls) AS line FROM l) u
      WHERE trim(line) <> ''),
freq AS (SELECT line, COUNT(*) AS n FROM x GROUP BY line),
common AS (SELECT COALESCE(list(line), []) AS cl FROM freq WHERE n >= 3),
out AS (SELECT l.doc_id,
               list_filter(l.ls, li -> NOT list_contains(c.cl, li)) AS kept,
               len(l.ls) AS n_lines
        FROM l CROSS JOIN common c)
SELECT doc_id,
       md5(array_to_string(kept, chr(10))) AS clean_md5,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       CAST(n_lines - len(kept) AS BIGINT) AS n_removed
FROM out ORDER BY doc_id
""")
def dedup_global_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line dedup (``dedup.global_line_dedup``, the C4
    boilerplate rule): drop every 4-token line occurring in >= 3
    distinct docs, rebuild each doc in original line order. Only
    distinct (doc, line) pairs ride the census shuffle; the text
    column itself never shuffles for counting. Clean text is
    md5-compacted for the hasher."""
    docs = load_table(spark, "documents", sf_dir)
    out = D.global_line_dedup(_lined_docs(docs, 4), min_docs=3)
    return (out.select("doc_id",
                       F.md5("clean_text").alias("clean_md5"),
                       "n_lines", "n_kept", "n_removed")
            .orderBy("doc_id"))


@register("text_line_stats", f"""
WITH d0 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
l AS (SELECT doc_id,
             list_filter({_lined_sql(2)}, x -> trim(x) <> '') AS ls
      FROM d0),
m AS (SELECT doc_id, ls,
             len(ls) AS nl,
             len(list_distinct(ls)) AS nd,
             COALESCE(list_sum(list_transform(ls, x -> length(x))), 0)
                 AS total_chars,
             COALESCE(list_sum(list_transform(list_distinct(ls),
                 u -> CASE WHEN len(list_filter(ls, x -> x = u)) > 1
                      THEN (len(list_filter(ls, x -> x = u)) - 1)
                           * length(u)
                      ELSE 0 END)), 0) AS dup_chars
      FROM l)
SELECT doc_id,
       CAST(nl AS BIGINT) AS n_lines,
       CAST(nd AS BIGINT) AS n_distinct_lines,
       CASE WHEN nl > 0 THEN CAST(nl - nd AS DOUBLE) / nl
            ELSE 0.0 END AS dup_line_frac,
       CASE WHEN total_chars > 0
            THEN CAST(dup_chars AS DOUBLE) / total_chars
            ELSE 0.0 END AS dup_char_frac
FROM m ORDER BY doc_id
""")
def text_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition (``text.line_stats``):
    duplicate-line fraction and duplicate-line character fraction per
    document over 2-token lines — an in-row higher-order-function
    pass, zero shuffles before the final order."""
    docs = load_table(spark, "documents", sf_dir)
    return T.line_stats(_lined_docs(docs, 2)).orderBy("doc_id")


@register("events_topk_paths", """
WITH e AS (SELECT user_id, event_type, ts, event_id,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
p AS (SELECT user_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM e WHERE rn <= 5 GROUP BY user_id),
c AS (SELECT path, COUNT(*) AS n_users FROM p GROUP BY path)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_users DESC, path) AS BIGINT)
           AS rank,
       path, CAST(n_users AS BIGINT) AS n_users
FROM c QUALIFY rank <= 20 ORDER BY rank
""")
def events_topk_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 entry journeys (``events.topk_paths``): each user's
    first 5 events as a '>'-joined path, counted and ranked. The
    stream is cut to first-5-per-user by a spillable row_number
    window before aggregating (skew-safe for bot users); the group-by
    reuses the window's partitioning, and the rank window sees only
    aggregated path counts."""
    ev = load_table(spark, "events", sf_dir)
    return E.topk_paths(ev, k=20, first_n=5).orderBy("rank")


@register("sim_knn_classify", f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 25 = 0 AND vec_id < 2500),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label
      FROM embeddings WHERE vec_id % 25 <> 0 OR vec_id >= 2500),
scored AS (SELECT query_id, neighbor_id, label,
                  {_cosine_sql('qv', 'cv')} AS cosine_sim
           FROM c CROSS JOIN q),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id) AS rank
           FROM scored),
votes AS (SELECT query_id, label, COUNT(*) AS n_votes,
                 MAX(cosine_sim) AS best_sim
          FROM ranked WHERE rank <= 10 GROUP BY query_id, label),
pick AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY n_votes DESC, best_sim DESC, label) AS r
         FROM votes)
SELECT query_id, CAST(label AS INT) AS predicted_label,
       CAST(n_votes AS BIGINT) AS n_votes, best_sim
FROM pick WHERE r = 1 ORDER BY query_id
""")
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote classification (``similarity.knn_classify``):
    every 25th vector UNDER id 2500 is a query (a BOUNDED set — ≤ 100
    regardless of sf, same policy as sim_topk_bruteforce: the
    brute-force probe is the verification baseline, so its query side
    must not grow with the corpus), the rest are the labeled corpus;
    exact cosine top-10 then a per-query label vote. Queries
    broadcast; the corpus never shuffles for scoring — the vote runs
    on queries x k rows. Cosine is the sequential double fold, so the
    vote's best_sim tie-break is bit-identical to the oracle."""
    emb = load_table(spark, "embeddings", sf_dir)
    is_query = (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 2500)
    return (S.knn_classify(emb.where(~is_query), emb.where(is_query),
                           k=10)
            .orderBy("query_id"))


# Fixed BPE merge table for the text_bpe_encode oracle entry: the
# deterministic output of text.bpe_fit_merges(documents@sf0.01,
# num_merges=32) — embedded as literals so the DuckDB oracle can
# replay the SAME merges (the FIT itself is pytest-verified against a
# pure-Python trainer in test_extensions; the distributed ENCODE is
# what this entry value-verifies). Note the multi-level dependencies
# (custo+mer requires mer = m+er first) — the replay exercises real
# merge ordering, not single-step substitutions.
_BPE_MERGES: list[tuple[int, str, str]] = [
    (0, 'e', 'r'), (1, 'i', 'n'), (2, 'o', 'w'), (3, 'o', 'r'),
    (4, 's', 't'), (5, 'm', 'er'), (6, 'a', 't'), (7, 'l', 'u'),
    (8, 'a', 'r'), (9, 'p', 'ar'), (10, 'j', 'o'), (11, 'jo', 'in'),
    (12, 'a', 's'), (13, 'as', 'h'), (14, 'h', 'ash'), (15, 'r', 'ow'),
    (16, 'at', 'c'), (17, 'atc', 'h'), (18, 'b', 'atch'),
    (19, 'a', 'n'), (20, 'c', 'an'), (21, 's', 'can'), (22, 'c', 'o'),
    (23, 'c', 'u'), (24, 'co', 'lu'), (25, 'colu', 'm'),
    (26, 'colum', 'n'), (27, 'cu', 'st'), (28, 'cust', 'o'),
    (29, 'custo', 'mer'), (30, 'f', 'i'), (31, 'fi', 'l')]

_BPE_MERGES_SQL = ", ".join(f"({k}, '{l}', '{r}')"
                            for k, l, r in _BPE_MERGES)


@register("text_bpe_encode", f"""
WITH RECURSIVE
merges(rank, l, r) AS (VALUES {_BPE_MERGES_SQL}),
w0 AS (SELECT doc_id,
              regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS ws
       FROM documents),
words AS (SELECT doc_id, u.i AS wi, ws[u.i] AS w
          FROM w0,
               UNNEST([{{'i': x}} FOR x IN range(1, len(ws) + 1)])
                   AS t(u)),
steps AS (
    SELECT doc_id, wi, string_split(w, '') AS syms, 0 AS it
    FROM words
  UNION ALL
    -- one merge per step: lowest-rank adjacent pair, leftmost on
    -- ties — the engine/oracle/pytest shared application spec
    SELECT doc_id, wi,
           syms[1:pi-1] || [syms[pi] || syms[pi+1]] || syms[pi+2:]
               AS syms,
           it + 1
    FROM (
      SELECT s.doc_id, s.wi, s.syms, s.it,
             (SELECT p.i
              FROM (SELECT UNNEST(range(1, len(s.syms))) AS i) p
              JOIN merges m
                ON m.l = s.syms[p.i] AND m.r = s.syms[p.i+1]
              ORDER BY m.rank, p.i LIMIT 1) AS pi
      FROM steps s) q
    WHERE pi IS NOT NULL),
final AS (
  SELECT doc_id, wi, syms
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, wi
                                     ORDER BY it DESC) AS rn
        FROM steps)
  WHERE rn = 1),
doc_tokens AS (
  SELECT doc_id, flatten(list(syms ORDER BY wi)) AS tokens
  FROM final GROUP BY doc_id)
SELECT d.doc_id,
       md5(array_to_string(COALESCE(t.tokens, []), chr(31)))
           AS tokens_md5,
       CAST(COALESCE(len(t.tokens), 0) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN doc_tokens t USING (doc_id)
ORDER BY d.doc_id
""")
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL merge-loop BPE encoding (``text.bpe_encode``, round 14 —
    upgrades the pre-tokenizer-count approximation the round-13
    verdict flagged): pre-tokenize JVM-side, then fold the broadcast
    merge table over each word's codepoints in an Arrow-batched,
    zero-shuffle map pass. The oracle replays the identical spec as a
    recursive CTE over symbol lists — one row per merge operation,
    lowest-rank pair first, leftmost on ties. Token streams are
    md5-compacted for the hasher (same policy as text_encode_ids);
    the raw arrays are pytest-pinned against a pure-Python reference
    encoder."""
    docs = load_table(spark, "documents", sf_dir)
    merges = spark.createDataFrame(_BPE_MERGES,
                                   "rank long, left string, right string")
    out = T.bpe_encode(docs, merges)
    return (out.select(
        "doc_id",
        F.md5(F.concat_ws("\x1f", F.col("tokens"))).alias("tokens_md5"),
        "n_tokens")
        .orderBy("doc_id"))


@register("text_bpe_encode_batch", f"""
WITH RECURSIVE
merges(rank, l, r) AS (VALUES {_BPE_MERGES_SQL}),
w0 AS (SELECT doc_id,
              regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS ws
       FROM documents),
words AS (SELECT doc_id, u.i AS wi, ws[u.i] AS w
          FROM w0,
               UNNEST([{{'i': x}} FOR x IN range(1, len(ws) + 1)])
                   AS t(u)),
-- symbol lists as sep-framed strings: one sep at each end, TWO at
-- every interior boundary. The HF merge-all-occurrences pass is then
-- ONE non-overlapping left-to-right replace: the pattern consumes
-- one sep from each side's boundary and the replacement restores it,
-- so consecutive occurrences still match and overlaps are skipped —
-- exactly the GPT-2 bpe() loop's semantics.
steps AS (
    SELECT doc_id, wi,
           chr(31) || array_to_string(string_split(w, ''),
                                      chr(31) || chr(31)) || chr(31)
               AS s,
           0 AS it
    FROM words
  UNION ALL
    -- one ITERATION per step: lowest-ranked pair PRESENT, all of its
    -- occurrences merged in this one replace
    SELECT doc_id, wi,
           replace(s, chr(31) || ml || chr(31) || chr(31) || mr
                          || chr(31),
                      chr(31) || ml || mr || chr(31)) AS s,
           it + 1
    FROM (
      SELECT q.doc_id, q.wi, q.s, q.it,
             (SELECT m.l FROM merges m
              WHERE strpos(q.s, chr(31) || m.l || chr(31) || chr(31)
                                || m.r || chr(31)) > 0
              ORDER BY m.rank LIMIT 1) AS ml,
             (SELECT m.r FROM merges m
              WHERE strpos(q.s, chr(31) || m.l || chr(31) || chr(31)
                                || m.r || chr(31)) > 0
              ORDER BY m.rank LIMIT 1) AS mr
      FROM steps q) z
    WHERE ml IS NOT NULL),
final AS (
  SELECT doc_id, wi, s
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, wi
                                     ORDER BY it DESC) AS rn
        FROM steps)
  WHERE rn = 1),
toks AS (
  SELECT doc_id, wi,
         string_split(s[2:-2], chr(31) || chr(31)) AS syms
  FROM final),
doc_tokens AS (
  SELECT doc_id, flatten(list(syms ORDER BY wi)) AS tokens
  FROM toks GROUP BY doc_id)
SELECT d.doc_id,
       md5(array_to_string(COALESCE(t.tokens, []), chr(31)))
           AS tokens_md5,
       CAST(COALESCE(len(t.tokens), 0) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN doc_tokens t USING (doc_id)
ORDER BY d.doc_id
""")
def text_bpe_encode_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HF/GPT-2-PARITY BPE encoding (``text.bpe_encode(...,
    batch_merges=True)``, round 15 — r14 verdict item 5): per
    iteration the lowest-ranked pair PRESENT merges at ALL its
    occurrences in one left-to-right overlap-skipping pass, the
    reference ``tokenizers`` application, so token counts can budget
    against a real GPT-2/LLaMA-family tokenizer. Same zero-shuffle
    Arrow map pass and merge table as text_bpe_encode; the oracle
    replays the batching spec with a sep-framed string replace per
    rank (see the CTE comments). The two specs' divergence case is
    pytest-pinned in test_extensions."""
    docs = load_table(spark, "documents", sf_dir)
    merges = spark.createDataFrame(_BPE_MERGES,
                                   "rank long, left string, right string")
    out = T.bpe_encode(docs, merges, batch_merges=True)
    return (out.select(
        "doc_id",
        F.md5(F.concat_ws("\x1f", F.col("tokens"))).alias("tokens_md5"),
        "n_tokens")
        .orderBy("doc_id"))


@register("text_encode_ids", f"""
WITH toks AS (SELECT UNNEST({_TOKS}) AS token FROM documents),
counts AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
vocab AS (SELECT token,
                 ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
          FROM counts QUALIFY rank <= 100),
d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
x AS (SELECT doc_id, UNNEST(toks) AS token,
             generate_subscripts(toks, 1) AS pos
      FROM d),
ids AS (SELECT x.doc_id, x.pos, COALESCE(v.rank, 0) AS tid
        FROM x LEFT JOIN vocab v ON x.token = v.token),
agg AS (SELECT doc_id,
               string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS s,
               COUNT(*) AS n_tokens,
               SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS n_oov
        FROM ids GROUP BY doc_id)
SELECT d.doc_id,
       md5(COALESCE(a.s, '')) AS ids_md5,
       CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_oov, 0) AS BIGINT) AS n_oov
FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
""")
def text_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary encoding (``text.encode_ids``): tokens → frequency
    ranks with a 100-entry vocab, OOV → 0. The vocab folds into the
    plan as a map literal, so the encode is a zero-shuffle map pass;
    the oracle takes the explode/join/re-aggregate road to the same
    arrays. Id arrays are md5-compacted for the hasher."""
    docs = load_table(spark, "documents", sf_dir)
    out = T.encode_ids(docs, top_k=100)
    return (out.select(
        "doc_id",
        F.md5(F.concat_ws(",", F.transform(
            "token_ids", lambda i: i.cast("string")))).alias("ids_md5"),
        "n_tokens", "n_oov")
        .orderBy("doc_id"))


@register("text_dedup_doc_lines", f"""
WITH d0 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
l AS (SELECT doc_id, {_lined_sql(2)} AS ls FROM d0),
k AS (SELECT doc_id, ls,
             list_filter(ls, (x, i) -> trim(x) = ''
                                       OR list_position(ls[1:i-1], x) = 0)
                 AS kept
      FROM l)
SELECT doc_id,
       md5(array_to_string(kept, chr(10))) AS clean_md5,
       CAST(len(ls) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept
FROM k ORDER BY doc_id
""")
def text_dedup_doc_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc line dedup (``text.dedup_doc_lines``): first
    occurrence of each repeated 2-token line wins, blanks survive,
    original order preserved — the rewrite twin of text_line_stats,
    zero shuffles (indexed higher-order filter in-row)."""
    docs = load_table(spark, "documents", sf_dir)
    out = T.dedup_doc_lines(_lined_docs(docs, 2))
    return (out.select("doc_id",
                       F.md5("clean_text").alias("clean_md5"),
                       "n_lines", "n_kept")
            .orderBy("doc_id"))


@register("pipeline_mixture_order", """
WITH r AS (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY md5('mix-0|' || CAST(doc_id AS VARCHAR)), doc_id)
               AS rnk
    FROM documents),
k AS (
    SELECT doc_id, lang,
           CAST((rnk - 1) * 10000 // (CASE WHEN lang = 'en' THEN 5000
                WHEN lang = 'zh' THEN 2500 ELSE 1250 END) AS BIGINT) AS vt
    FROM r)
SELECT doc_id, lang, vt,
       CAST(ROW_NUMBER() OVER (ORDER BY vt, doc_id) AS BIGINT) AS position
FROM k ORDER BY position
""")
def pipeline_mixture_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weighted global training order
    (``pipeline.mixture_order``): stride scheduling over sources —
    en at weight 0.5, zh 0.25, everything else 0.125; doc r of source
    s fires at integer virtual time (r-1)·denom div w_parts(s), so
    the blend ratio is exact and the whole schedule reproduces on any
    engine. Per-source ranks are parallel windows; the global rank
    rides curriculum_order's range-sharded construction — the
    oracle's bare ROW_NUMBER is the one-task sort the engine side
    never runs."""
    docs = load_table(spark, "documents", sf_dir)
    out = P.mixture_order(docs, {"en": 0.5, "zh": 0.25},
                          default_weight=0.125)
    return (out.select("doc_id", "lang",
                       F.col("vt").cast("long").alias("vt"),
                       F.col("position").cast("long").alias("position"))
            .orderBy("position"))


@register("pipeline_curriculum_order", """
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
           AS position
FROM documents
ORDER BY position
""")
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length curriculum (``pipeline.curriculum_order``): global rank
    by (n_chars, doc_id) — the short-to-long schedule a curriculum
    trainer consumes. The oracle's bare ROW_NUMBER is the one-task
    global sort; the engine side is the range-sharded two-level
    construction (score-bin shards + parallel local windows +
    broadcast offsets), bit-equal by the shard-is-a-prefix argument
    that epoch_shuffle makes for hash order."""
    docs = load_table(spark, "documents", sf_dir)
    return (P.curriculum_order(docs, key_col="n_chars")
            .select("doc_id",
                    F.col("n_chars").cast("long").alias("n_chars"),
                    F.col("position").cast("long").alias("position"))
            .orderBy("position"))


@register("q_zorder_pruning", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value
FROM events
WHERE user_id BETWEEN 10 AND 60 AND value BETWEEN 50 AND 200
ORDER BY event_id
""")
def q_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout roundtrip (``sources.layout``): events rewritten
    Morton-clustered on (user_id, value), then a 2-D box read back
    through the coarse-bucket planner — ``zbucket IN (...)`` prunes
    partition directories at plan time (PartitionFilters; the
    plan-shape test pins both the pruning predicate and that the
    candidate list is a strict subset of the bucket space), while the
    exact box filter keeps results row-identical to the oracle's
    full-scan filter. The write runs once per (application, sf) — the
    layout is the durable artifact, queries only read."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", "user_id", "value", "event_type"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zorder",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev, base, "user_id", "value",
                         bits=8, bucket_bits=4)
    out = L.read_zordered_box(spark, base, 10, 60, 50, 200)
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value")
            .orderBy("event_id"))


@register("text_unigram_quality", f"""
WITH tk AS (SELECT UNNEST({_TOKS}) AS token FROM documents),
cts AS (SELECT token, COUNT(*) AS n FROM tk GROUP BY token),
vocab AS (SELECT token, n FROM (
    SELECT token, n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS r
    FROM cts) WHERE r <= 1000),
tot AS (SELECT COUNT(*) AS nt FROM tk),
d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
x AS (SELECT doc_id, UNNEST(toks) AS token,
             generate_subscripts(toks, 1) AS pos FROM d),
p AS (SELECT x.doc_id, x.pos, COALESCE(v.n, 0) AS c
      FROM x LEFT JOIN vocab v USING (token)),
agg AS (SELECT p.doc_id,
               list((c + 1.0) / (t.nt + 1001.0) ORDER BY p.pos) AS ps,
               SUM(CASE WHEN c <= 3 THEN 1 ELSE 0 END) AS n_rare
        FROM p CROSS JOIN tot t GROUP BY p.doc_id)
SELECT d.doc_id,
       CAST(len(d.toks) AS BIGINT) AS n_tokens,
       CASE WHEN len(d.toks) > 0 THEN
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE), a.ps),
                        (acc, x) -> acc + x) / len(d.toks)
            ELSE 0.0 END AS mean_prob,
       CASE WHEN len(d.toks) > 0 THEN list_min(a.ps)
            ELSE 0.0 END AS min_prob,
       CAST(COALESCE(a.n_rare, 0) AS BIGINT) AS n_rare
FROM d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
""")
def text_unigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (``text.unigram_prob_stats``): mean
    / min Laplace-smoothed corpus-unigram probability plus a
    rare-token count per document — the cheap stand-in for a
    perplexity filter. The vocab and total fold into the plan
    (model-sized), so scoring is a zero-shuffle in-row pass; the
    oracle takes the explode/join road and re-folds the SAME
    probabilities in token order (ordered list + left reduce), so
    doubles match bit-for-bit with no ln() anywhere."""
    docs = load_table(spark, "documents", sf_dir)
    return T.unigram_prob_stats(docs).orderBy("doc_id")


@register("pipeline_dataset_hash", """
WITH h AS (SELECT md5(CAST(doc_id AS VARCHAR) || '|' || COALESCE(text, ''))
               AS x FROM documents)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(bit_xor(('0x' || substr(x, 1, 8))::BIGINT) AS BIGINT) AS xor_lo,
       CAST(bit_xor(('0x' || substr(x, 9, 8))::BIGINT) AS BIGINT) AS xor_hi,
       CAST(SUM(('0x' || substr(x, 1, 8))::BIGINT) AS BIGINT) AS sum_lo
FROM h
""")
def pipeline_dataset_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant corpus checksum
    (``pipeline.dataset_fingerprint``): certify two corpus copies
    identical with one row of commutative aggregates (count, xor of
    md5 halves, sum against xor's duplicate-cancellation blind spot)
    — relayouts and migrations verify with no corpus-sized compare."""
    docs = load_table(spark, "documents", sf_dir)
    return P.dataset_fingerprint(docs)


@register("events_key_skew_report", """
WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       quantile_cont(n, 0.5) AS p50,
       quantile_cont(n, 0.9) AS p90,
       quantile_cont(n, 0.99) AS p99,
       CAST(MAX(n) AS BIGINT) AS max_count,
       CAST(MAX(n) AS DOUBLE) / SUM(n) AS top1_share
FROM c
""")
def events_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic (``skew.key_skew_report``): group
    sizes per user_id summarized into the decision numbers for
    plain-vs-salted-vs-broadcast joins. Both aggregation stages are
    map-side combinable; only key-cardinality data reaches the final
    scalar pass."""
    from aggregation_duckdb_spark.operators.skew import key_skew_report
    ev = load_table(spark, "events", sf_dir)
    return key_skew_report(ev, "user_id")


@register("pipeline_bucket_fingerprints", """
WITH h AS (SELECT
    ('0x' || substr(md5('fp|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        % 10000 % 64 AS bucket,
    md5(CAST(doc_id AS VARCHAR) || '|' || COALESCE(text, '')) AS x
  FROM documents)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(bit_xor(('0x' || substr(x, 1, 8))::BIGINT) AS BIGINT) AS xor_lo,
       CAST(bit_xor(('0x' || substr(x, 9, 8))::BIGINT) AS BIGINT) AS xor_hi,
       CAST(SUM(('0x' || substr(x, 1, 8))::BIGINT) AS BIGINT) AS sum_lo
FROM h GROUP BY bucket ORDER BY bucket
""")
def pipeline_bucket_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style sharded corpus checksums
    (``pipeline.bucket_fingerprints``): the order-invariant
    fingerprint per md5 id-bucket, so snapshot diffs localize to
    1/64th of the corpus per dirty bucket — one map-side-combinable
    group-by over narrow (bucket, md5-half) pairs."""
    docs = load_table(spark, "documents", sf_dir)
    return (P.bucket_fingerprints(docs, num_buckets=64)
            .select(F.col("bucket").cast("long").alias("bucket"),
                    "n_docs", "xor_lo", "xor_hi", "sum_lo")
            .orderBy("bucket"))


@register("pipeline_pack_greedy", f"""
WITH RECURSIVE b AS (
    SELECT doc_id,
           ('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 8))
               ::BIGINT % 10000 % 16 AS bucket,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens
    FROM documents),
d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
          ORDER BY n_tokens DESC, doc_id) AS rn FROM b),
step AS (
    SELECT bucket, rn, doc_id, n_tokens,
           CAST(1 AS BIGINT) AS seq_idx, n_tokens AS fill
    FROM d WHERE rn = 1
    UNION ALL
    SELECT d.bucket, d.rn, d.doc_id, d.n_tokens,
           CASE WHEN s.fill + d.n_tokens <= 1024
                THEN s.seq_idx ELSE s.seq_idx + 1 END,
           CASE WHEN s.fill + d.n_tokens <= 1024
                THEN s.fill + d.n_tokens ELSE d.n_tokens END
    FROM step s JOIN d ON d.bucket = s.bucket AND d.rn = s.rn + 1)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, n_tokens,
       CAST(seq_idx AS BIGINT) AS seq_idx
FROM step ORDER BY doc_id
""")
def pipeline_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy whole-document bin packing (``pipeline.pack_greedy``):
    next-fit-decreasing into 1024-token sequences over the same 16
    md5 buckets pack_sequences shards by. The sequential fill state
    runs Arrow-batched per bucket; the oracle replays the identical
    scan as a recursive CTE stepping rank-by-rank with (seq_idx,
    fill) carried — exact match, no truncated documents."""
    docs = load_table(spark, "documents", sf_dir)
    return (P.pack_greedy(docs, context_len=1024, num_buckets=16)
            .orderBy("doc_id"))


@register("text_normalize", r"""
WITH n AS (SELECT doc_id,
    trim(regexp_replace(lower(text), '[ \t\n\r\x0B\f]+', ' ', 'g'))
        AS norm_text,
    trim(regexp_replace(
        regexp_replace(lower(text), '[^a-z0-9 \t\n\r]', ' ', 'g'),
        '[ \t\n\r\x0B\f]+', ' ', 'g')) AS match_text,
    CAST(length(text) AS BIGINT) AS n_chars
  FROM documents)
SELECT doc_id, md5(norm_text) AS norm_md5, md5(match_text) AS match_md5,
       n_chars, CAST(length(norm_text) AS BIGINT) AS n_chars_norm
FROM n ORDER BY doc_id
""")
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization pass (``text.normalize_text``): lowercase +
    whitespace collapse + an alnum-only match key, md5-compacted for
    the hasher — zero-shuffle map projection, dialect-safe regexes."""
    docs = load_table(spark, "documents", sf_dir)
    out = T.normalize_text(docs)
    return (out.select("doc_id",
                       F.md5("norm_text").alias("norm_md5"),
                       F.md5("match_text").alias("match_md5"),
                       "n_chars", "n_chars_norm")
            .orderBy("doc_id"))


@register("sim_ivf_indexed", _ivf_exact_oracle(10, 3))
def sim_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search through the PERSISTED index
    (``similarity.write_ivf_index`` / ``ivf_topk_indexed``): the cell
    assignments live as a centroid-partitioned parquet artifact built
    once per (application, sf); each query then reads ONLY its probed
    cell directories (PartitionFilters — plan-pinned). Same
    deterministic codebook and identical math as sim_ivf_topk_exact,
    so the same DuckDB oracle verifies the whole persisted path
    bit-for-bit."""
    import os
    import tempfile

    emb = load_table(spark, "embeddings", sf_dir)
    base = os.path.join(tempfile.gettempdir(), "spark-graft-ivf",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not os.path.exists(os.path.join(base, "codebook")):
        long_c = S.label_centroids_exact(emb)
        cents = (long_c.groupBy("centroid_id")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("pos", "mean_value"))),
                     lambda x: x["mean_value"]).alias("centroid")))
        S.write_ivf_index(emb, cents, base)
    queries = emb.where(F.col("vec_id") < 5)
    return (S.ivf_topk_indexed(spark, base, queries, k=10, n_probe=3)
            .select("query_id", "neighbor_id", "cosine_sim", "rank")
            .orderBy("query_id", "rank"))


# Same oracle as dedup_incremental: the persisted-index road must
# produce the identical answer.
from aggregation_duckdb_spark.matrix import _ORACLES as _OR  # noqa: E402


@register("dedup_incremental_indexed", _OR["dedup_incremental"])
def dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against the PERSISTED corpus index
    (``dedup.write_dedup_index`` / ``incremental_dedup_indexed``):
    the same batch-vs-corpus check as dedup_incremental, but the
    corpus side is three narrow parquet tables (hashes, shingles,
    band buckets) built once per (application, sf) — the batch never
    touches raw corpus text. Verified by the same oracle as the live
    path, bit-for-bit."""
    import os
    import tempfile

    docs = load_table(spark, "documents", sf_dir)
    bkt = P.split_bucket(F.col("doc_id"), salt="inc-v1")
    new = docs.where(bkt >= 8000)
    old = docs.where(bkt < 8000)
    base = os.path.join(tempfile.gettempdir(), "spark-graft-dedupidx",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not os.path.exists(os.path.join(base, "params.json")):
        D.write_dedup_index(old, base)
    return (D.incremental_dedup_indexed(new, spark, base, threshold=0.6)
            .orderBy("doc_id"))


def _bm25_sql(terms: list, k1: str = "1.2", b: str = "0.75",
              top_k: int = 20) -> str:
    """Mirror of text.bm25_search: same division-only idf, same
    left-associative score fold, and LITERAL-ARITHMETIC parity — the
    Spark side folds Python (k1 + 1.0) into the plan, so the SQL says
    (1.2 + 1.0) rather than 2.2 (which parses to a different double
    than the sum rounds to)."""
    dfs = ", ".join(
        f"SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) "
        f"AS df{i}" for i, t in enumerate(terms))
    score = "0.0"
    for i, t in enumerate(terms):
        tf = f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE)"
        idf = f"((st.n - st.df{i} + 0.5) / (st.df{i} + 0.5))"
        denom = (f"({tf} + {k1} * ((1.0 - {b}) + "
                 f"(({b} * CAST(len(toks) AS DOUBLE)) / "
                 f"(CAST(st.tt AS DOUBLE) / st.n))))")
        score = f"{score} + {idf} * ({tf} * ({k1} + 1.0)) / {denom}"
    return f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
st AS (SELECT COUNT(*) AS n, SUM(len(toks)) AS tt, {dfs} FROM d)
SELECT doc_id, ({score}) AS score,
       CAST(len(toks) AS BIGINT) AS n_tokens
FROM d CROSS JOIN st
ORDER BY score DESC, doc_id ASC LIMIT {top_k}
"""


@register("text_bm25_search", _bm25_sql(["hash", "customer", "vector"]))
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (``text.bm25_search``): top-20 docs for
    a fixed 3-term query with the ln-free ratio idf. Corpus stats (N,
    avgdl, per-term df) come from one conditional-sum scalar pass and
    fold into the plan; scoring is a zero-shuffle in-row pass with a
    fixed-order score fold, so even the floats hash-match."""
    docs = load_table(spark, "documents", sf_dir)
    return T.bm25_search(docs, ["hash", "customer", "vector"],
                         top_k=20).orderBy(F.desc("score"), "doc_id")


@register("text_bm25_indexed", _bm25_sql(["hash", "customer", "vector"]))
def text_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 through the persisted inverted index
    (``text.write_text_index`` / ``bm25_search_indexed``): the same
    query as text_bm25_search, but reading only the query terms'
    posting-list directories (term-bucket partition pruning) instead
    of scanning corpus text — verified by the SAME oracle, so the
    indexed road's floats match the full-scan road bit-for-bit."""
    docs = load_table(spark, "documents", sf_dir)
    base = _text_index_base(spark, sf_dir)
    if not _fsio().exists(spark, _fsio()._join(base, "stats.json")):
        T.write_text_index(docs, base)
    return (T.bm25_search_indexed(spark, base,
                                  ["hash", "customer", "vector"],
                                  top_k=20)
            .orderBy(F.desc("score"), "doc_id"))


@register("text_bm25_appended", _bm25_sql(["hash", "customer",
                                           "vector"]))
def text_bm25_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 through an index grown INCREMENTALLY
    (``text.append_text_index``, round 15): the index is built from
    half the corpus and the other half lands as two append batches
    (one exactly-once batch id, one replayed — the replay must be a
    no-op), then the same query as text_bm25_indexed runs against it.
    The SAME full-corpus oracle verifies the result, so append ∘
    build ≡ build-at-once bit-for-bit — scores, dfs, stop-term
    reclassification and all. Built once per (application, sf)."""
    import os
    import tempfile

    docs = load_table(spark, "documents", sf_dir)
    base = os.path.join(tempfile.gettempdir(), "spark-graft-tixapp",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not _fsio().exists(spark, _fsio()._join(base, "stats.json")):
        T.write_text_index(docs.where(F.col("doc_id") % 3 == 0), base)
        T.append_text_index(docs.where(F.col("doc_id") % 3 == 1),
                            base, batch_id=1)
        T.append_text_index(docs.where(F.col("doc_id") % 3 == 2),
                            base, batch_id=2)
        T.append_text_index(docs.where(F.col("doc_id") % 3 == 2),
                            base, batch_id=2)   # replay: must no-op
    return (T.bm25_search_indexed(spark, base,
                                  ["hash", "customer", "vector"],
                                  top_k=20)
            .orderBy(F.desc("score"), "doc_id"))


def _fsio():
    from aggregation_duckdb_spark import fsio
    return fsio


def _text_index_base(spark: SparkSession, sf_dir: str) -> str:
    import os
    import tempfile
    return os.path.join(tempfile.gettempdir(), "spark-graft-textidx",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))


@register("text_bm25_stopterm", _bm25_sql(["hash", "dup"]))
def text_bm25_stopterm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 through the index's STOP-TERM guard
    (``text.bm25_search_indexed`` with the corpus frame): 'hash' is
    stop-class in this corpus (df ≈ 0.8N, recorded with its exact df
    in the sidecar at build time), so its corpus-sized posting
    directory is never read — the query routes to the shared text
    fold, reusing the sidecar's N/avgdl/df scalars, while the rare
    term 'dup' still gets its df from a pruned posting-bucket probe.
    Verified by the same oracle shape as the live/full-scan road, so
    the guard's floats are pinned bit-identical."""
    docs = load_table(spark, "documents", sf_dir)
    base = _text_index_base(spark, sf_dir)
    if not _fsio().exists(spark, _fsio()._join(base, "stats.json")):
        T.write_text_index(docs, base)
    return (T.bm25_search_indexed(spark, base, ["hash", "dup"],
                                  top_k=20, docs=docs)
            .orderBy(F.desc("score"), "doc_id"))


@register("events_attribution", """
WITH o AS (
    SELECT *,
           LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                           THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS t_ts,
           LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                           THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS t_ch
    FROM events),
c AS (
    SELECT CASE WHEN t_ts IS NOT NULL
                     AND epoch_us(ts) - epoch_us(t_ts) <= 604800000000
                THEN t_ch ELSE 'none' END AS channel,
           value,
           CASE WHEN t_ts IS NOT NULL
                     AND epoch_us(ts) - epoch_us(t_ts) <= 604800000000
                THEN epoch_us(ts) - epoch_us(t_ts) END AS lag_us
    FROM o WHERE event_type = 'purchase')
SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_conversions,
       CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value,
       CAST(SUM(lag_us) AS BIGINT) AS sum_lag_us
FROM c GROUP BY channel ORDER BY channel
""")
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (``events.attribution``): every purchase
    credited to the user's most recent click/view within 7 days via a
    single spillable fill-forward window (last(touch) IGNORE NULLS
    over an unbounded-preceding frame — no self-join, no as-of
    shuffle), rolled up per channel with exact integer lag sums and
    decimal-summed value."""
    ev = load_table(spark, "events", sf_dir)
    return E.attribution(ev)


@register("sim_pq_indexed")  # rows-only: kmeans codebooks are
# Lloyd-iterative (not SQL-expressible); index==live equality and
# recall bounds are pytest-pinned (tests/test_extensions.py,
# tests/test_approx_accuracy.py)
def sim_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN served from the PERSISTED index
    (``similarity.write_pq_index`` / ``pq_topk_rerank_indexed``): the
    deterministic kmeans codebooks and the corpus's 8-byte codes live
    as parquet artifacts (params in an fsio sidecar); the driver folds
    each query's ADC distance table from the stored books into one
    broadcast frame, the code rows are the only corpus-sized scan for
    the shortlist, and the bounded shortlist is reranked against full
    vectors from the source table — the fifth durable
    index family (Z-order, IVF, dedup, BM25, PQ)."""
    import os
    import tempfile

    emb = load_table(spark, "embeddings", sf_dir)
    base = os.path.join(tempfile.gettempdir(), "spark-graft-pq",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not _fsio().exists(spark, _fsio()._join(base, "params.json")):
        # joint fit: one Lloyd job per iteration for ALL subspaces,
        # bit-identical to the sequential pq_fit (pytest-pinned)
        books = S.pq_fit_joint(emb, num_subspaces=8, k=16, max_iters=3)
        S.write_pq_index(emb, books, base)
    queries = emb.where(F.col("vec_id") < 5)
    out = S.pq_topk_rerank_indexed(spark, base, emb, queries, k=10,
                                   shortlist=200)
    return (out.select("query_id", "neighbor_id", "cosine_sim",
                       F.col("rank").cast("long").alias("rank"))
            .orderBy("query_id", "rank"))


@register("q_zorder_upsert", """
WITH base AS (
    SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value,
           event_type
    FROM events),
ups AS (
    SELECT event_id, user_id, value, 'upserted' AS event_type
    FROM base WHERE event_id % 11 = 0
    UNION ALL
    SELECT event_id + 1000000000000000, user_id, value, 'inserted'
    FROM base WHERE event_id % 13 = 0),
merged AS (
    SELECT b.* FROM base b
    WHERE b.event_id NOT IN (SELECT event_id FROM ups)
    UNION ALL SELECT * FROM ups)
SELECT event_id, user_id, value, event_type
FROM merged
WHERE user_id BETWEEN 15 AND 65 AND value BETWEEN 80 AND 260
ORDER BY event_id
""")
def q_zorder_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE into the Z-ordered table
    (``layout.upsert_zordered``): every 11th event's type is updated
    in place and every 13th cloned as a brand-new key, touching only
    the buckets those rows land in (per-bucket rewrite + atomic
    manifest flip — the lakehouse merge shape); a 2-D box read over
    the merged table must equal the oracle's anti-join ∪ upserts over
    plain parquet. Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", F.col("user_id").cast("long")
                  .alias("user_id"), "value", "event_type"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zupsert",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev, base, "user_id", "value",
                         bits=8, bucket_bits=4)
        ups = (ev.where(F.col("event_id") % 11 == 0)
               .withColumn("event_type", F.lit("upserted")))
        ins = (ev.where(F.col("event_id") % 13 == 0)
               .select((F.col("event_id") + 1_000_000_000_000_000)
                       .alias("event_id"), "user_id", "value",
                       F.lit("inserted").alias("event_type")))
        L.upsert_zordered(ups.unionByName(ins), base, ["event_id"])
    out = L.read_zordered_box(spark, base, 15, 65, 80, 260)
    return (out.select("event_id", "user_id", "value", "event_type")
            .orderBy("event_id"))


@register("q_zorder_zonemap", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value, event_type
FROM events
WHERE event_id BETWEEN 2000 AND 4000
  AND event_type BETWEEN 'click' AND 'purchase'
ORDER BY event_id
""")
def q_zorder_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping (``layout.read_zordered_where``): a
    conjunctive range predicate on event_id AND event_type — neither
    a layout dimension — served through the manifest's per-bucket
    [min, max] stats (numeric and STRING zone maps; strings prune
    lexicographically). On this table both are uncorrelated with the
    (user_id, value) clustering, so the maps keep every bucket
    (conservative, exact — the pytest proves real skipping on
    correlated numeric and string columns); the entry pins the
    zone-map road's CORRECTNESS against a plain filter, sharing
    q_zorder_pruning's cached table build."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", "user_id", "value", "event_type"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zorder",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev, base, "user_id", "value",
                         bits=8, bucket_bits=4)
    out = L.read_zordered_where(
        spark, base, {"event_id": (2000, 4000),
                      "event_type": ("click", "purchase")})
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value", "event_type")
            .orderBy("event_id"))


@register("q_zorder_timetravel", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value
FROM events
WHERE event_id % 3 = 0
  AND user_id BETWEEN 10 AND 60 AND value BETWEEN 50 AND 200
ORDER BY event_id
""")
def q_zorder_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot pinning (``layout.read_zordered_box(version=...)``):
    the table is created from a third of the events (manifest v1),
    then the rest append WITH HISTORY RETAINED (vacuum=False); the
    query reads the v1 SNAPSHOT through the pruned box path and must
    reproduce a plain filter over only the original slice — the later
    append must be invisible to the pinned read. Built once per
    (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", "user_id", "value"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-ztt",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev.where(F.col("event_id") % 3 == 0), base,
                         "user_id", "value", bits=8, bucket_bits=4)
        L.append_zordered(ev.where(F.col("event_id") % 3 != 0), base)
        L.compact_zordered(spark, base, vacuum=False)
    out = L.read_zordered_box(spark, base, 10, 60, 50, 200, version=1)
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value")
            .orderBy("event_id"))


@register("events_rfm", """
WITH anchor AS (SELECT MAX(epoch_us(ts)) AS a FROM events),
p AS (SELECT CAST(user_id AS BIGINT) AS user_id,
             MAX(epoch_us(ts)) AS last_us,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
m AS (SELECT user_id,
             ((SELECT a FROM anchor) - last_us) // 86400000000
                 AS recency_days,
             frequency, monetary
      FROM p)
SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
       CAST(frequency AS BIGINT) AS frequency, monetary,
       CASE WHEN recency_days <= 7 AND frequency >= 5 THEN 'champion'
            WHEN frequency >= 5 THEN 'loyal'
            WHEN recency_days <= 7 THEN 'recent'
            ELSE 'dormant' END AS segment
FROM m ORDER BY user_id
""")
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (``events.rfm_segments``): recency anchored
    at the corpus max event time (reproducible, not wall-clock), one
    narrow conversion groupBy, fixed-threshold four-way segments —
    deliberately not quantile cut-offs, which would need the global
    rank this module refuses."""
    ev = load_table(spark, "events", sf_dir)
    return E.rfm_segments(ev)


@register("q_zorder_delete", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value
FROM events
WHERE NOT (user_id BETWEEN 30 AND 45 AND value BETWEEN 120 AND 180)
  AND user_id BETWEEN 15 AND 65 AND value BETWEEN 80 AND 260
ORDER BY event_id
""")
def q_zorder_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box DELETE on the layered table
    (``layout.delete_zordered_box``): a (user, value) region is
    deleted — rewriting only the planner-bounded buckets — and a wider
    box read afterward must equal the oracle's NOT-box ∧ box filter
    over plain parquet. Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", "user_id", "value"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zdelete",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev, base, "user_id", "value",
                         bits=8, bucket_bits=4)
        L.delete_zordered_box(spark, base, 30, 45, 120, 180)
    out = L.read_zordered_box(spark, base, 15, 65, 80, 260)
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value")
            .orderBy("event_id"))


@register("q_zorder_delete_keys", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value
FROM events
WHERE event_id % 7 <> 3
  AND user_id BETWEEN 15 AND 65 AND value BETWEEN 80 AND 260
ORDER BY event_id
""")
def q_zorder_delete_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-based (GDPR-style) DELETE on the layered table
    (``layout.delete_zordered_keys``): victim ids are TOMBSTONED — a
    small key batch plus a manifest commit, no data rewrite — and a
    compaction folds them away by rewriting only the buckets that
    physically held victims. The build deletes half the victims and
    folds them (physical removal), then deletes the other half and
    leaves the tombstones outstanding (read-path anti-join), so the
    box read certifies BOTH halves of the contract against the
    oracle's plain anti-filter. Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", "user_id", "value"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zdelkeys",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev, base, "user_id", "value",
                         bits=8, bucket_bits=4)
        victims = ev.where(F.col("event_id") % 7 == 3).select("event_id")
        L.delete_zordered_keys(
            victims.where(F.col("event_id") % 2 == 0), base, ["event_id"])
        L.compact_zordered(spark, base)      # fold: physical removal
        L.delete_zordered_keys(
            victims.where(F.col("event_id") % 2 == 1), base, ["event_id"])
    out = L.read_zordered_box(spark, base, 15, 65, 80, 260)
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value")
            .orderBy("event_id"))


@register("q_zorder_box3d", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value,
       event_id % 97 AS em
FROM events
WHERE user_id BETWEEN 10 AND 60 AND value BETWEEN 50 AND 200
  AND event_id % 97 BETWEEN 20 AND 70
ORDER BY event_id
""")
def q_zorder_box3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-D Z-order layout (``layout.write_zordered_nd``): events
    clustered on (user_id, value, event_id % 97) — the third dimension
    standing in for the tenant/shard key routine at 100 TB — and a
    3-D box read back through the k-D coarse-bucket planner
    (``read_zordered_box_nd``). Partition-directory pruning works
    exactly as in 2-D (the candidate list is a superset of every
    bucket the box can touch, pinned by the hypothesis property
    test); the exact filters keep results row-identical to the
    oracle's full-scan filter. Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", "user_id", "value",
                  (F.col("event_id") % 97).alias("em")))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-z3d",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered_nd(ev, base, ["user_id", "value", "em"],
                            bits=6, bucket_bits=6)
    out = L.read_zordered_box_nd(
        spark, base, {"user_id": (10, 60), "value": (50, 200),
                      "em": (20, 70)})
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value", "em")
            .orderBy("event_id"))


@register("q_zorder_delete_upsert", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value,
       CASE WHEN event_id % 100 = 0 THEN 'restored'
            ELSE event_type END AS event_type
FROM events
WHERE event_id % 50 <> 0 OR event_id % 100 = 0
ORDER BY event_id
""")
def q_zorder_delete_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR delete -> re-crawl upsert with NO manual compact between
    (``layout.delete_zordered_keys`` then ``layout.upsert_zordered``):
    every event_id divisible by 50 is tombstoned, then half of them
    (divisible by 100) are re-inserted with a changed payload — the
    upsert subtracts its keys from the outstanding tombstone set in
    the SAME commit, so the re-inserted rows are visible immediately
    while the other deleted keys stay hidden behind the consolidated
    tombstones (read-side broadcast anti-join until the next
    compaction folds them). Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", "user_id", "value", "event_type"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zdu",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev, base, "user_id", "value",
                         bits=8, bucket_bits=4)
        L.delete_zordered_keys(
            ev.where(F.col("event_id") % 50 == 0).select("event_id"),
            base, ["event_id"])
        restored = (ev.where(F.col("event_id") % 100 == 0)
                    .withColumn("event_type", F.lit("restored")))
        L.upsert_zordered(restored, base, ["event_id"])
    out = L.read_zordered(spark, base)
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value", "event_type")
            .orderBy("event_id"))


@register("q_zorder_schema_evolution", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value,
       CAST(NULL AS VARCHAR) AS channel
FROM events WHERE event_id % 10 < 7
UNION ALL
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value,
       event_type AS channel
FROM events WHERE event_id % 10 >= 7
ORDER BY event_id
""")
def q_zorder_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the Z-ordered table: the table is created
    WITHOUT the ``channel`` column, a later append carries it, and an
    incremental compaction folds the union schema into the dirtied
    buckets (the manifest records each generation's column set;
    mixed-generation reads merge footers only while generations
    actually disagree — ``layout.py`` ``gen_columns``/``_read_live``).
    The full-table read returns the evolved schema with the original
    rows' new column null — exactly the oracle's UNION of the two
    eras. Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = load_table(spark, "events", sf_dir)
    old_era = (ev.where(F.col("event_id") % 10 < 7)
               .select("event_id", "user_id", "value"))
    new_era = (ev.where(F.col("event_id") % 10 >= 7)
               .select("event_id", "user_id", "value",
                       F.col("event_type").alias("channel")))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zevo",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(old_era, base, "user_id", "value",
                         bits=8, bucket_bits=4)
        L.append_zordered(new_era, base)
        L.compact_zordered(spark, base)
    out = L.read_zordered(spark, base)
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value", "channel")
            .orderBy("event_id"))


@register("q_zorder_alter", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
       value AS amount, 'web' AS channel
FROM events WHERE event_id % 10 < 8
UNION ALL
SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
       value AS amount,
       CASE WHEN event_id % 3 = 0 THEN NULL
            ELSE event_type END AS channel
FROM events WHERE event_id % 10 >= 8
ORDER BY event_id
""")
def q_zorder_alter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only ALTER TABLE (``layout.alter_zordered`` — the
    Delta column-mapping verbs, mode=name): the table is created with
    (value, event_type), then ONE manifest commit renames
    ``value -> amount``, drops ``event_type``, and adds ``channel``
    with default ``'web'`` — zero data movement (data files keep
    frozen physical names; reads translate). A post-alter append
    writes real ``channel`` values INCLUDING explicit NULLs (every
    3rd), and the fold into clustered storage must preserve the
    distinction: pre-alter rows read the default, post-alter rows
    read their stored values — the added-column fill is resolved per
    GENERATION, never a blanket coalesce. The oracle is the plain
    two-era UNION. Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = load_table(spark, "events", sf_dir)
    old_era = (ev.where(F.col("event_id") % 10 < 8)
               .select("event_id", F.col("user_id").cast("long")
                       .alias("user_id"), "value", "event_type"))
    new_era = (ev.where(F.col("event_id") % 10 >= 8)
               .select("event_id", F.col("user_id").cast("long")
                       .alias("user_id"),
                       F.col("value").alias("amount"),
                       F.when(F.col("event_id") % 3 != 0,
                              F.col("event_type")).alias("channel")))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zalter",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(old_era, base, "user_id", "value",
                         bits=8, bucket_bits=4)
        L.alter_zordered(spark, base, renames={"value": "amount"},
                         drops=["event_type"],
                         adds={"channel": {"type": "string",
                                           "default": "web"}})
        L.append_zordered(new_era, base)
        L.compact_zordered(spark, base)
    out = L.read_zordered(spark, base)
    return (out.select("event_id", "user_id", "amount", "channel")
            .orderBy("event_id"))


@register("q_zorder_restore", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value, event_type
FROM events
ORDER BY event_id
""")
def q_zorder_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE (``layout.restore_zordered`` — the Delta RESTORE
    analogue): the table takes an upsert (every 7th event's type
    clobbered, history retained) and a GDPR key-delete (every 5th
    tombstoned), then restores to the pre-mutation snapshot as a NEW
    forward commit — the full read must flip back to EXACTLY the
    original rows (the oracle is the untouched events selection)
    while both bad mutations stay visible in table_history between
    the endpoints. Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", "user_id", "value", "event_type"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zrestore",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev, base, "user_id", "value",
                         bits=8, bucket_bits=4)                 # v1
        L.upsert_zordered(
            ev.where(F.col("event_id") % 7 == 0)
            .withColumn("event_type", F.lit("clobbered")),
            base, ["event_id"], vacuum=False)                   # v2
        L.delete_zordered_keys(
            ev.where(F.col("event_id") % 5 == 0).select("event_id"),
            base, ["event_id"])                                 # v3
        L.restore_zordered(spark, base, 1)                      # v4
    out = L.read_zordered(spark, base)
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value", "event_type")
            .orderBy("event_id"))


@register("q_zorder_diff", """
WITH v1 AS (
    SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value,
           event_type
    FROM events),
v3 AS (
    SELECT event_id, user_id, value,
           CASE WHEN event_id % 11 = 0 THEN 'upserted'
                ELSE event_type END AS event_type
    FROM v1 WHERE event_id % 17 <> 0
    UNION ALL
    SELECT event_id + 1000000000000000, user_id, value, 'inserted'
    FROM v1 WHERE event_id % 13 = 0),
dels AS (
    SELECT o.*, 'delete' AS _change_type
    FROM v1 o WHERE o.event_id NOT IN (SELECT event_id FROM v3)),
ins AS (
    SELECT n.*, 'insert' AS _change_type
    FROM v3 n WHERE n.event_id NOT IN (SELECT event_id FROM v1)),
chg AS (
    SELECT o.event_id
    FROM v1 o JOIN v3 n USING (event_id)
    WHERE o.user_id IS DISTINCT FROM n.user_id
       OR o.value IS DISTINCT FROM n.value
       OR o.event_type IS DISTINCT FROM n.event_type),
pre AS (
    SELECT o.*, 'update_preimage' AS _change_type
    FROM v1 o WHERE o.event_id IN (SELECT event_id FROM chg)),
post AS (
    SELECT n.*, 'update_postimage' AS _change_type
    FROM v3 n WHERE n.event_id IN (SELECT event_id FROM chg))
SELECT * FROM dels UNION ALL SELECT * FROM ins
UNION ALL SELECT * FROM pre UNION ALL SELECT * FROM post
ORDER BY event_id, _change_type
""")
def q_zorder_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC between snapshots (``layout.diff_zordered``):
    after an upsert (every 11th type replaced, every 13th cloned as a
    new key) and a key-delete (every 17th), the diff from the
    pre-mutation snapshot tags every changed row insert / delete /
    update_preimage / update_postimage — exactly the oracle's keyed
    full-outer classification over the two reconstructed eras
    (endpoint-proportional: two snapshot scans + a keyed join, never
    history-proportional). Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", F.col("user_id").cast("long")
                  .alias("user_id"), "value", "event_type"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zdiff",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev, base, "user_id", "value",
                         bits=8, bucket_bits=4)                 # v1
        ups = (ev.where(F.col("event_id") % 11 == 0)
               .withColumn("event_type", F.lit("upserted")))
        ins = (ev.where(F.col("event_id") % 13 == 0)
               .select((F.col("event_id") + 1_000_000_000_000_000)
                       .alias("event_id"), "user_id", "value",
                       F.lit("inserted").alias("event_type")))
        L.upsert_zordered(ups.unionByName(ins), base, ["event_id"],
                          vacuum=False)                         # v2
        L.delete_zordered_keys(
            ev.where(F.col("event_id") % 17 == 0).select("event_id"),
            base, ["event_id"])                                 # v3
    d = L.diff_zordered(spark, base, 1, key_cols=["event_id"])
    return (d.select("event_id",
                     F.col("user_id").cast("long").alias("user_id"),
                     "value", "event_type", "_change_type")
            .orderBy("event_id", "_change_type"))


@register("q_zorder_bloom_eq", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value, event_type
FROM events
WHERE event_id IN (3, 377, 999)
ORDER BY event_id
""")
def q_zorder_bloom_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom point lookups (``layout.build_bloom_index`` +
    ``layout.read_zordered_eq``): equality probes on event_id — a
    high-cardinality column that is NOT a layout dimension and is
    uncorrelated with the (user_id, value) clustering, so zone maps
    cannot skip anything — served through the sharded per-bucket
    Bloom sidecar (each probe reads its k (column, position) bucket
    bitmaps, prunes directories, and must return exactly the plain
    equality filter's rows; no false negatives by Bloom's contract).
    Built once per (application, sf)."""
    import functools
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", "user_id", "value", "event_type"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zbloom",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev, base, "user_id", "value",
                         bits=8, bucket_bits=4)
        L.build_bloom_index(spark, base, ["event_id"])
    probes = [L.read_zordered_eq(spark, base, {"event_id": v})
              for v in (3, 377, 999)]
    out = functools.reduce(lambda a, b: a.unionByName(b), probes)
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value", "event_type")
            .orderBy("event_id"))


@register("q_zorder_recluster", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value, ts
FROM events
WHERE ts BETWEEN TIMESTAMP '2024-01-08 00:00:00'
             AND TIMESTAMP '2024-01-15 00:00:00'
ORDER BY event_id
""")
def q_zorder_recluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-CLUSTER (``layout.recluster_zordered`` — the OPTIMIZE
    ZORDER BY verb): the table starts clustered on (user_id, value),
    the query pattern changes, and one call rewrites it on (ts,
    user_id) — a datetime box read on the NEW layout must equal the
    oracle's plain range filter (and folds the pre-recluster delta
    append in). Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", F.col("user_id").cast("long")
                  .alias("user_id"), "value", "ts"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zrecl",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev.where(F.col("event_id") % 5 != 0), base,
                         "user_id", "value", bits=8, bucket_bits=4)
        L.append_zordered(ev.where(F.col("event_id") % 5 == 0), base)
        L.recluster_zordered(spark, base, cols=["ts", "user_id"])
    out = L.read_zordered_box_nd(
        spark, base,
        {"ts": ("2024-01-08 00:00:00", "2024-01-15 00:00:00")})
    return (out.select("event_id", "user_id", "value", "ts")
            .orderBy("event_id"))


@register("q_zorder_generated", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value,
       CAST(FLOOR(value / 50) AS BIGINT) AS band
FROM events
ORDER BY event_id
""")
def q_zorder_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED column (``alter_zordered`` adds with ``expr`` — the
    Delta generated-columns shape): the table is created with half the
    events, ONE metadata commit declares ``band`` as
    ``FLOOR(value / 50)``, the other half appends WITHOUT the column
    (reads compute it), and the fold materializes it into clustered
    storage — the final read must equal the oracle computing the same
    expression over all rows, indistinguishable between computed and
    materialized eras. Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", F.col("user_id").cast("long")
                  .alias("user_id"), "value"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zgen",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev.where(F.col("event_id") % 2 == 0), base,
                         "user_id", "value", bits=8, bucket_bits=4)
        L.alter_zordered(spark, base, adds={
            "band": {"type": "long",
                     "expr": "CAST(FLOOR(value / 50) AS BIGINT)"}})
        L.append_zordered(ev.where(F.col("event_id") % 2 == 1), base)
        L.compact_zordered(spark, base)
    out = L.read_zordered(spark, base)
    return (out.select("event_id", "user_id", "value", "band")
            .orderBy("event_id"))


@register("q_zorder_merge_sync", """
WITH base AS (
    SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value,
           event_type
    FROM events)
SELECT event_id, user_id, value, 'synced' AS event_type
FROM base WHERE event_id % 4 = 0
UNION ALL
SELECT event_id, user_id, value, 'stale' AS event_type
FROM base WHERE event_id % 4 <> 0 AND value >= 100
ORDER BY event_id
""")
def q_zorder_merge_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHEN NOT MATCHED BY SOURCE (``layout.merge_zordered`` — the
    Delta sync-to-snapshot clause family): the source carries every
    4th event; matched rows UPDATE to 'synced', target rows with no
    source match DELETE when value < 100 and otherwise UPDATE to
    'stale' — conditions t-scoped, delete-before-update ordering, the
    rewrite bounded to victim buckets by one column-pruned scan. The
    full read must equal the oracle's two-clause reconstruction.
    Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", F.col("user_id").cast("long")
                  .alias("user_id"), "value", "event_type"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zmsync",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev, base, "user_id", "value",
                         bits=8, bucket_bits=4)
        src = ev.where(F.col("event_id") % 4 == 0)
        L.merge_zordered(
            src, base, ["event_id"],
            when_matched_update={"event_type": "'synced'"},
            when_not_matched_by_source_update={
                "event_type": "'stale'"},
            when_not_matched_by_source_update_condition=
            "t.value >= 100",
            when_not_matched_by_source_delete="t.value < 100",
            when_not_matched_insert=False)
    out = L.read_zordered(spark, base)
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value", "event_type")
            .orderBy("event_id"))


@register("q_zorder_merge", """
WITH base AS (
    SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value,
           event_type
    FROM events)
SELECT event_id, user_id, value,
       CASE WHEN event_id % 11 = 0 AND value >= 100 THEN 'merged'
            ELSE event_type END AS event_type
FROM base
WHERE NOT (event_id % 11 = 0 AND value < 100)
UNION ALL
SELECT event_id + 1000000000000000, user_id, value, 'inserted'
FROM base
WHERE event_id % 13 = 0 AND value >= 50
ORDER BY event_id
""")
def q_zorder_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional MERGE INTO (``layout.merge_zordered`` — the full
    Delta clause shape): matched keys (every 11th event) DELETE when
    the target's value < 100 and otherwise UPDATE event_type, while
    unmatched clone keys (every 13th, offset into the disjoint +1e15 clone space — far above any replicated/re-keyed id, see sf1_bench.py) INSERT only when the
    source's value >= 50 — all in one bucket-bounded commit. The full
    read must equal the oracle's clause-by-clause reconstruction.
    Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", F.col("user_id").cast("long")
                  .alias("user_id"), "value", "event_type"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zmerge",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev, base, "user_id", "value",
                         bits=8, bucket_bits=4)
        matched = ev.where(F.col("event_id") % 11 == 0)
        clones = (ev.where(F.col("event_id") % 13 == 0)
                  .select((F.col("event_id") + 1_000_000_000_000_000)
                          .alias("event_id"), "user_id", "value",
                          F.lit("inserted").alias("event_type")))
        L.merge_zordered(
            matched.unionByName(clones), base, ["event_id"],
            when_matched_update={"event_type": "'merged'"},
            when_matched_delete="t.value < 100",
            when_not_matched_insert=True,
            insert_condition="s.value >= 50")
    out = L.read_zordered(spark, base)
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value", "event_type")
            .orderBy("event_id"))


@register("q_zorder_clone", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value,
       CASE WHEN event_id % 7 = 0 THEN 'cloned'
            ELSE event_type END AS event_type
FROM events
ORDER BY event_id
""")
def q_zorder_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE (``layout.clone_zordered``): the clone is created
    by one metadata commit referencing the source's generation
    directories (zero data copied), then an upsert mutates only the
    CLONE (every 7th event's type) — the clone's full read spans
    foreign (source-root) and local (diverged) generations and must
    equal the oracle's mutated view, while the source table stays
    bit-identical to plain events (pinned in pytest; the driver row
    pins the clone side). Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", F.col("user_id").cast("long")
                  .alias("user_id"), "value", "event_type"))
    root = os.path.join(tempfile.gettempdir(), "spark-graft-zclone",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    src, dst = os.path.join(root, "src"), os.path.join(root, "dst")
    if not L.table_exists(spark, dst):
        L.write_zordered(ev, src, "user_id", "value",
                         bits=8, bucket_bits=4)
        L.clone_zordered(spark, src, dst)
        L.upsert_zordered(
            ev.where(F.col("event_id") % 7 == 0)
            .withColumn("event_type", F.lit("cloned")),
            dst, ["event_id"])
    out = L.read_zordered(spark, dst)
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value", "event_type")
            .orderBy("event_id"))


def _pq_exact_oracle(k: int = 10, shortlist: int = 200, m: int = 8,
                     kc: int = 16, dim: int = 64, n_q: int = 5) -> str:
    """Full PQ search reproduced in DuckDB — the sim_ivf_topk_exact
    construction for the FIFTH index family: closed-form fixed-point
    codebooks (pq_codebooks_exact's math), L2 encode with the same
    multiply-not-pow squares and (d2 ASC, code ASC) tie rule,
    fixed-order ADC folds (per-subspace partial in component order,
    then across subspaces in subspace order — the Spark side's ADC
    fold, never a hash-agg float sum),
    and the exact-cosine rerank. Every float comes from the identical
    fold, so the approximate search hash-matches bit-for-bit."""
    sub = dim // m
    cos_s = _cosine_sql("qv", "v", dim)
    return f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
comp AS (SELECT vec_id,
                CAST(generate_subscripts(embedding, 1) AS BIGINT) - 1
                    AS pos0,
                unnest(embedding) AS c
         FROM embeddings),
cw AS (SELECT pos0 // {sub} AS sub, vec_id % {kc} AS code,
              pos0 % {sub} AS ip,
              CAST(SUM(CAST(round(CAST(c AS DOUBLE) * {S.CENTROID_SCALE})
                            AS BIGINT)) AS DOUBLE)
                  / COUNT(*) / {S.CENTROID_SCALE} AS w
       FROM comp GROUP BY sub, code, ip),
dists AS (SELECT t.vec_id, w.sub, w.code,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list((CAST(t.c AS DOUBLE) - w.w)
                          * (CAST(t.c AS DOUBLE) - w.w) ORDER BY w.ip)),
                     (acc, x) -> acc + x) AS d2
          FROM comp t JOIN cw w
            ON t.pos0 // {sub} = w.sub AND t.pos0 % {sub} = w.ip
          GROUP BY t.vec_id, w.sub, w.code),
enc AS (SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d2 ASC, code ASC) AS rn
            FROM dists) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {n_q}),
qpart AS (SELECT qc.vec_id AS query_id, w.sub, w.code,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(CAST(qc.c AS DOUBLE) * w.w ORDER BY w.ip)),
                     (acc, x) -> acc + x) AS partial
          FROM comp qc JOIN cw w
            ON qc.pos0 // {sub} = w.sub AND qc.pos0 % {sub} = w.ip
          WHERE qc.vec_id < {n_q}
          GROUP BY qc.vec_id, w.sub, w.code),
adc AS (SELECT p.query_id, en.vec_id AS neighbor_id,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(p.partial ORDER BY p.sub)),
                   (acc, x) -> acc + x) AS approx_dot
        FROM enc en JOIN qpart p
          ON p.sub = en.sub AND p.code = en.code
        WHERE en.vec_id <> p.query_id
        GROUP BY p.query_id, en.vec_id),
sl AS (SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY approx_dot DESC, neighbor_id ASC) AS srn
           FROM adc) WHERE srn <= {shortlist}),
rr AS (SELECT s.query_id, s.neighbor_id, {cos_s} AS cosine_sim
       FROM sl s JOIN q ON q.query_id = s.query_id
                 JOIN e ON e.vec_id = s.neighbor_id),
rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM rr)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= {k} ORDER BY query_id, rank
"""


@register("sim_pq_indexed_exact", _pq_exact_oracle(10, 200))
def sim_pq_indexed_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN through the PERSISTED index with FULL value
    verification: codebooks from the closed-form fixed-point
    construction (``similarity.pq_codebooks_exact`` — the
    label-centroids analogue for product quantization), so — unlike
    the kmeans-trained sim_pq_indexed, which stays rows-only —
    encode, ADC shortlist (fixed-order folds, never a hash-agg float
    sum), and exact rerank all reproduce bit-for-bit in the DuckDB
    oracle. Approximation is WHICH candidates are shortlisted, never
    nondeterminism in the math; the serving path is the same
    write_pq_index / pq_topk_rerank_indexed road as the trained
    variant."""
    import os
    import tempfile

    emb = load_table(spark, "embeddings", sf_dir)
    base = os.path.join(tempfile.gettempdir(), "spark-graft-pqexact",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not _fsio().exists(spark, _fsio()._join(base, "params.json")):
        books = S.pq_codebooks_exact(emb, num_subspaces=8, k=16)
        S.write_pq_index(emb, books, base)
    queries = emb.where(F.col("vec_id") < 5)
    out = S.pq_topk_rerank_indexed(spark, base, emb, queries, k=10,
                                   shortlist=200)
    return (out.select("query_id", "neighbor_id", "cosine_sim",
                       F.col("rank").cast("long").alias("rank"))
            .orderBy("query_id", "rank"))


@register("q_zorder_cdf_write", """
WITH v1 AS (
    SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value,
           event_type
    FROM events)
SELECT event_id, user_id, value, event_type,
       'update_preimage' AS _change_type,
       CAST(2 AS BIGINT) AS _commit_version
FROM v1 WHERE event_id % 11 = 0
UNION ALL
SELECT event_id, user_id, value, 'upserted',
       'update_postimage', 2
FROM v1 WHERE event_id % 11 = 0
UNION ALL
SELECT event_id + 1000000000000000, user_id, value, 'inserted',
       'insert', 2
FROM v1 WHERE event_id % 13 = 0
ORDER BY event_id, _change_type
""")
def q_zorder_cdf_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITER-side Change Data Feed (``emit_changes=True`` — the
    Delta ``delta.enableChangeDataFeed`` write path): the upsert
    commit stores its exact change rows under ``_changes/`` and the
    feed reads them back DIRECTLY — zero endpoint snapshot scans and
    NO retention requirement, proven by running the mutation with
    eager vacuum (the superseded v1 generations are already deleted
    when the feed drains; the snapshot-diff fallback would raise).
    The feed's v2 rows must equal the oracle's classification of the
    upsert (every 11th update pre+post, every 13th clone insert).
    Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L
    from aggregation_duckdb_spark.streaming import (read_change_feed,
                                                    run_change_feed)

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", F.col("user_id").cast("long")
                  .alias("user_id"), "value", "event_type"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zcdfw",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    sink = os.path.join(base, "_feed")
    if not L.table_exists(spark, base):
        L.write_zordered(ev, base, "user_id", "value",
                         bits=8, bucket_bits=4)                 # v1
        ups = (ev.where(F.col("event_id") % 11 == 0)
               .withColumn("event_type", F.lit("upserted")))
        ins = (ev.where(F.col("event_id") % 13 == 0)
               .select((F.col("event_id") + 1_000_000_000_000_000)
                       .alias("event_id"), "user_id", "value",
                       F.lit("inserted").alias("event_type")))
        L.upsert_zordered(ups.unionByName(ins), base, ["event_id"],
                          emit_changes=True)    # v2, EAGER vacuum
        run_change_feed(spark, base, sink,
                        os.path.join(base, "_feed_checkpoint"),
                        key_cols=["event_id"], starting_version=2)
    out = read_change_feed(spark, sink)
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value", "event_type", "_change_type",
                       F.col("_commit_version").cast("long")
                       .alias("_commit_version"))
            .orderBy("event_id", "_change_type"))


@register("q_zorder_time_layout", """
SELECT event_id, ts, CAST(user_id AS BIGINT) AS user_id, value
FROM events
WHERE ts BETWEEN TIMESTAMP '2024-01-08 00:00:00'
             AND TIMESTAMP '2024-01-15 00:00:00'
  AND user_id BETWEEN 10 AND 60
ORDER BY event_id
""")
def q_zorder_time_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp layout dimension — THE canonical 100 TB partitioning
    (time x key): the table Z-orders on (ts, user_id) directly (the
    writer bins the epoch-long conversion, the spec records the dim
    kind), and a datetime box read coerces its bounds through Spark
    itself at plan time, prunes bucket directories, then applies the
    ORIGINAL timestamp literals as row filters — results provably
    equal the oracle's plain range filter regardless of the pruning.
    Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", "ts", F.col("user_id").cast("long")
                  .alias("user_id"), "value"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-ztime",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev, base, "ts", "user_id",
                         bits=8, bucket_bits=4)
    out = L.read_zordered_box_nd(
        spark, base,
        {"ts": ("2024-01-08 00:00:00", "2024-01-15 00:00:00"),
         "user_id": (10, 60)})
    return (out.select("event_id", "ts", "user_id", "value")
            .orderBy("event_id"))


@register("q_zorder_count", """
SELECT (SELECT COUNT(*) FROM events) AS cnt_v1,
       (SELECT COUNT(*) FROM events)
       + (SELECT COUNT(*) FROM events WHERE event_id % 13 = 0)
           AS cnt_v2,
       (SELECT COUNT(*) FROM events)
       + (SELECT COUNT(*) FROM events WHERE event_id % 13 = 0)
       + (SELECT COUNT(*) FROM events WHERE event_id % 11 = 0)
           AS cnt_v3
""")
def q_zorder_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata COUNT(*) (``count_zordered`` — the count-star
    pushdown every table format ships): after an upsert (every 7th
    replaced in place, every 13th cloned as a new key) and a raw
    delta append (every 11th cloned), the count at each retained
    version is a manifest sum plus footer-counted delta batches —
    zero data IO on clean snapshots, still exact across history.
    The three counts must equal the oracle's plain COUNT(*)
    arithmetic. Built once per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", F.col("user_id").cast("long")
                  .alias("user_id"), "value", "event_type"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zcount",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev, base, "user_id", "value",
                         bits=8, bucket_bits=4)                 # v1
        ups = (ev.where(F.col("event_id") % 7 == 0)
               .withColumn("event_type", F.lit("replaced")))
        ins = (ev.where(F.col("event_id") % 13 == 0)
               .select((F.col("event_id") + 1_000_000_000_000_000)
                       .alias("event_id"), "user_id", "value",
                       F.lit("cloned").alias("event_type")))
        L.upsert_zordered(ups.unionByName(ins), base, ["event_id"],
                          vacuum=False)                         # v2
        L.append_zordered(
            ev.where(F.col("event_id") % 11 == 0)
            .select((F.col("event_id") + 2_000_000_000)
                    .alias("event_id"), "user_id", "value",
                    F.lit("appended").alias("event_type")),
            base)                                               # v3
    counts = [L.count_zordered(spark, base, version=v)
              for v in (1, 2, 3)]
    return spark.createDataFrame(
        [tuple(counts)], "cnt_v1 long, cnt_v2 long, cnt_v3 long")


@register("q_zorder_maintain", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value, event_type
FROM events
ORDER BY event_id
""")
def q_zorder_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-maintenance policy (``maintain_zordered`` — the scheduled
    OPTIMIZE job every lakehouse runs): nine small streaming-style
    appends pile up past the ``max_deltas`` threshold, one maintain
    call folds them (incremental compaction — dirtied buckets only)
    and bin-packs fragmented buckets; a second call on the now-healthy
    table proves the no-op path (metadata decides, nothing rewrites).
    The full read afterwards must equal the oracle's plain events
    selection — maintenance never changes visible rows. Built once
    per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", F.col("user_id").cast("long")
                  .alias("user_id"), "value", "event_type"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zmaint",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev.where(F.col("event_id") % 10 == 0),
                         base, "user_id", "value",
                         bits=8, bucket_bits=4)
        # nine un-compacted delta batches — landed via the batched
        # multi-append verb (round 16): one write job + one manifest
        # commit instead of nine of each; the table still holds nine
        # distinct delta directories, so the maintain threshold and
        # the compaction it triggers exercise exactly what nine
        # sequential appends produced (guide §6)
        L.append_zordered_many(
            [ev.where(F.col("event_id") % 10 == i)
             for i in range(1, 10)], base)
        ran = L.maintain_zordered(spark, base, max_deltas=8)
        assert ran["compacted"]
        ran2 = L.maintain_zordered(spark, base, max_deltas=8)
        assert not ran2["compacted"] and ran2["optimized"] == 0
    out = L.read_zordered(spark, base)
    return (out.select("event_id", "user_id", "value", "event_type")
            .orderBy("event_id"))


@register("q_zorder_purge", """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, value
FROM events
WHERE event_id % 9 <> 4
ORDER BY event_id
""")
def q_zorder_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHYSICAL key erasure (``layout.purge_zordered_keys`` — the
    right-to-be-forgotten verb, round 13): tombstone → victim-bucket
    fold → eager vacuum → raw-parquet verification sweep, composed in
    one call that RAISES unless zero retained bytes match. The build
    purges every ninth event id (half of them living in an
    un-compacted delta batch at purge time, so the sweep covers both
    storage areas) and asserts the report's invariants; the read is
    the full table vs the oracle's plain anti-filter. Built once per
    (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.sources import layout as L

    ev = (load_table(spark, "events", sf_dir)
          .select("event_id", "user_id", "value"))
    base = os.path.join(tempfile.gettempdir(), "spark-graft-zpurge",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    if not L.table_exists(spark, base):
        L.write_zordered(ev.where(F.col("event_id") % 2 == 0), base,
                         "user_id", "value", bits=8, bucket_bits=4)
        L.append_zordered(ev.where(F.col("event_id") % 2 == 1), base)
        doomed = ev.where(F.col("event_id") % 9 == 4).select("event_id")
        rep = L.purge_zordered_keys(doomed, base, ["event_id"])
        if rep["residual_matches"] != 0:   # raise-with-context, not a
            raise RuntimeError(            # bare assert (-O strips it)
                f"q_zorder_purge build: purge left "
                f"{rep['residual_matches']} residual row(s) in "
                f"{base} — report: {rep}")
    out = L.read_zordered(spark, base)
    return (out.select("event_id",
                       F.col("user_id").cast("long").alias("user_id"),
                       "value")
            .orderBy("event_id"))


@register("q_forget_keys", """
SELECT doc_id, lang, n_chars
FROM documents
WHERE doc_id % 7 <> 3
ORDER BY doc_id
""")
def q_forget_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-CALL right-to-be-forgotten across the table AND every
    derived index family (``index_purge.forget_keys``, round 15): the
    build lays down a Z-ordered documents table plus all four stored
    indexes built from it (dedup MinHash, BM25 postings, IVF cells,
    PQ codes), then erases every seventh doc id with a single verb.
    The orchestrator enforces the only always-safe order — indexes
    first (resolving the doomed TEXT from the still-intact table for
    the dedup hash rows), table last — and each constituent purge
    raw-verifies clean or raises, so the build completing at all
    proves zero residual rows across all five artifacts. The read is
    the surviving table vs the oracle's plain anti-filter. Built once
    per (application, sf)."""
    import os
    import tempfile

    from aggregation_duckdb_spark.operators import index_purge as IP
    from aggregation_duckdb_spark.sources import layout as L

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "lang", "n_chars")
    emb = load_table(spark, "embeddings", sf_dir)
    base = os.path.join(tempfile.gettempdir(), "spark-graft-forget",
                        spark.sparkContext.applicationId,
                        os.path.basename(os.path.normpath(sf_dir)))
    tbl = os.path.join(base, "table")
    dd, tx, iv, pq = (os.path.join(base, n)
                      for n in ("dedup", "text", "ivf", "pq"))
    if not L.table_exists(spark, tbl):
        L.write_zordered(docs, tbl, "doc_id", "n_chars",
                         bits=8, bucket_bits=4)
        D.write_dedup_index(docs, dd)
        T.write_text_index(docs, tx, num_buckets=16)
        long_c = S.label_centroids_exact(emb)
        cents = (long_c.groupBy("centroid_id")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("pos", "mean_value"))),
                     lambda x: x["mean_value"]).alias("centroid")))
        S.write_ivf_index(emb, cents, iv)
        books = S.pq_fit_joint(emb, num_subspaces=8, k=16,
                               max_iters=2)
        S.write_pq_index(emb, books, pq)
        # keys only — the orchestrator resolves the doomed text from
        # the not-yet-purged table (the ordering it exists to enforce)
        doomed = docs.where(F.col("doc_id") % 7 == 3).select("doc_id")
        rep = IP.forget_keys(doomed, table_path=tbl, dedup_index=dd,
                             text_index=tx, ivf_index=iv, pq_index=pq,
                             vec_key_col="vec_id")
        if rep["residual_matches"] != 0 or \
                rep["order"][-1] != "table":   # raise-with-context,
            raise RuntimeError(                # not a bare assert
                f"q_forget_keys build: unexpected report {rep}")
    out = L.read_zordered(spark, tbl)
    return out.select("doc_id", "lang", "n_chars").orderBy("doc_id")
