"""Each correctness check of the benchmark passes on a right answer and
fails on a perturbed one: a dropped row, a wrong distinct count, a
missed exact duplicate, a swapped top-k neighbour.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracle  # noqa: E402


@pytest.fixture
def con():
    c = oracle.connect()
    yield c
    c.close()


# -- hierarchy ---------------------------------------------------------------

# 1 -> {2, 3}; 2 -> {4, 5}; 3 -> {6}; 6 -> {7}: leaves at depths 3 and 4
PARENT = {1: None, 2: 1, 3: 1, 4: 2, 5: 2, 6: 3, 7: 6}
DEPTH = {1: 1, 2: 2, 3: 2, 4: 3, 5: 3, 6: 3, 7: 4}
FACTS = [  # product, customer, cents, units
    (4, 1, 100, 1), (4, 2, 200, 2), (5, 2, 300, 3), (5, 3, 400, 4),
    (7, 1, 500, 5), (7, 4, 600, 6), (7, 4, 700, 7)]


@pytest.fixture
def tree(tmp_path):
    h = gen.Hierarchy(list(PARENT), list(PARENT.values()), [DEPTH[k] for k in PARENT])
    gen.write_parquet(h.table(), str(tmp_path / "adj"), 1)
    cols = list(zip(*FACTS))
    gen.write_parquet(pa.table({
        "product_nk": pa.array(cols[0], pa.int64()),
        "customer_id": pa.array(cols[1], pa.int64()),
        "sales_cents": pa.array(cols[2], pa.int64()),
        "units": pa.array(cols[3], pa.int64())}), str(tmp_path / "facts"), 2)
    return str(tmp_path / "adj"), str(tmp_path / "facts")


def report_rows(expected: dict) -> list:
    """Rows shaped like the program's report, in natural-key order."""
    return [{"ancestor_node_natural_key": k,
             **dict(zip(oracle.REPORT_MEASURES, expected[k])),
             "node_sort_order": i} for i, k in enumerate(sorted(expected))]


def test_duckdb_closure_report_by_hand(con, tree):
    expected = oracle.closure_report(con, *tree)
    assert expected[1] == (2800, 28, 4, 7)
    assert expected[3] == (1800, 18, 2, 3)
    assert expected[2] == (1000, 10, 3, 4)


def test_report_check_passes_on_the_right_answer(con, tree):
    expected = oracle.closure_report(con, *tree)
    own = oracle.own_facts(con, tree[1])
    assert oracle.check_report(report_rows(expected), expected, PARENT, own, 7) == []


def test_report_check_fails_on_a_dropped_row(con, tree):
    expected = oracle.closure_report(con, *tree)
    own = oracle.own_facts(con, tree[1])
    rows = [r for r in report_rows(expected) if r["ancestor_node_natural_key"] != 5]
    assert oracle.check_report(rows, expected, PARENT, own, 7)


def test_report_check_fails_on_a_wrong_distinct_count(con, tree):
    expected = oracle.closure_report(con, *tree)
    own = oracle.own_facts(con, tree[1])
    rows = report_rows(expected)
    rows[1]["distinct_customer_count"] += 1
    assert oracle.check_report(rows, expected, PARENT, own, 7)


def test_roll_up_properties_alone_catch_a_distinct_count_out_of_range(con, tree):
    """Even against an expectation that agrees with the wrong answer, a
    parent counting more distinct customers than its children together
    fails."""
    expected = oracle.closure_report(con, *tree)
    own = oracle.own_facts(con, tree[1])
    rows = report_rows(expected)
    root = next(r for r in rows if r["ancestor_node_natural_key"] == 1)
    root["distinct_customer_count"] = 9
    assert oracle.check_report(rows, oracle.report_by_key(rows), PARENT, own, 7)


def test_roll_up_properties_alone_catch_a_lost_fact(con, tree):
    expected = oracle.closure_report(con, *tree)
    own = oracle.own_facts(con, tree[1])
    rows = report_rows(expected)
    leaf = next(r for r in rows if r["ancestor_node_natural_key"] == 7)
    leaf["count_of_fact_records"] -= 1
    leaf["sum_of_sales_amount"] -= 700
    assert oracle.check_report(rows, oracle.report_by_key(rows), PARENT, own, 7)


def test_closure_and_rollup_must_agree_row_for_row(con, tree):
    rows = report_rows(oracle.closure_report(con, *tree))
    assert oracle.check_same_report(rows, [dict(r) for r in rows]) == []
    swapped = [dict(r) for r in rows]
    swapped[0], swapped[1] = swapped[1], swapped[0]
    assert oracle.check_same_report(rows, swapped)
    assert oracle.check_same_report(rows, rows[:-1])


def test_closure_rows_equal_the_sum_of_depths():
    assert oracle.check_closure_rows(18, list(DEPTH.values())) == []
    assert oracle.check_closure_rows(17, list(DEPTH.values()))


# -- Z-ordered table ---------------------------------------------------------

def lake(tmp_path, name, keys, ts, val):
    n = len(keys)
    t = pa.table({"key": pa.array(keys, pa.int64()), "ts": pa.array(ts, pa.int64()),
                  "x": pa.array([1] * n, pa.int64()), "val": pa.array(val, pa.int64()),
                  "tag": pa.array([f"t{v}" for v in val])})
    gen.write_parquet(t, str(tmp_path / name), 1)
    return str(tmp_path / name)


def test_table_model_appends_then_upserts_by_key(con, tmp_path):
    model = oracle.TableModel(con, lake(tmp_path, "base", [1, 2, 3], [10, 20, 30], [0, 0, 0]))
    model.append(lake(tmp_path, "batch", [4, 5], [40, 50], [0, 0]))
    assert model.box_count((25, 60, 0, 5)) == 3
    model.upsert(lake(tmp_path, "up", [2, 5, 6], [20, 50, 55], [7, 7, 7]))
    rows = model.rows()
    assert [r[0] for r in rows] == [1, 2, 3, 4, 5, 6]
    assert [r[3] for r in rows] == [0, 7, 0, 0, 7, 7]
    assert model.box_count((25, 60, 0, 5)) == 4


def test_lake_checks_fail_on_perturbed_results(con, tmp_path):
    model = oracle.TableModel(con, lake(tmp_path, "base", [1, 2, 3], [10, 20, 30], [0, 0, 0]))
    want = model.rows()
    assert oracle.check_snapshot(list(want), want) == []
    assert oracle.check_snapshot(want[:-1], want)                      # dropped row
    assert oracle.check_snapshot([want[0], want[0], want[2]], want)    # duplicated key
    assert oracle.check_box_count(2, 3, "box")
    assert oracle.check_box_count(3, 3, "box") == []
    assert oracle.check_keys_unique(4, 3, "upsert")
    assert oracle.check_keys_unique(3, 3, "upsert") == []


# -- corpus ------------------------------------------------------------------

def docs(tmp_path, name, ids, texts):
    t = gen.corpus_table(np.asarray(ids, dtype=np.int64), texts,
                         np.ones((len(ids), gen.DIM)))
    gen.write_parquet(t, str(tmp_path / name), 1)
    return str(tmp_path / name)


def test_exact_duplicates_hash_the_lower_cased_text(con, tmp_path):
    corpus = docs(tmp_path, "corpus", [1, 2], ["a b c", "d e f"])
    batch = docs(tmp_path, "batch", [10, 11, 12], ["A B C", "a b x", "d e f"])
    assert oracle.exact_dup_ids(con, corpus, [], batch) == {10, 12}


def test_dedup_flag_check_fails_on_a_missed_exact_duplicate():
    exact, fresh, near = {10, 12}, {13}, {11}
    right = {10: (True, False), 11: (False, True), 12: (True, False), 13: (False, False)}
    assert oracle.check_dedup_flags(right, exact, fresh, near, 1.0) == []
    missed = {**right, 12: (False, False)}
    assert oracle.check_dedup_flags(missed, exact, fresh, near, 1.0)
    fresh_flagged = {**right, 13: (False, True)}
    assert oracle.check_dedup_flags(fresh_flagged, exact, fresh, near, 1.0)
    near_missed = {**right, 11: (False, False)}
    assert oracle.check_dedup_flags(near_missed, exact, fresh, near, 0.5)


def test_lsh_floor_follows_the_banding_curve():
    # 4 bands of 3 rows: J = 0.9 is a candidate with p = 1 - (1 - 0.729)^4
    p = 1 - (1 - 0.9 ** 3) ** 4
    assert p - 0.02 < oracle.lsh_recall_floor([0.9] * 1000, 4, 3) < p
    # 30 pairs at p = 0.9946: up to 3 misses stay above the 1e-4 tail
    assert oracle.lsh_recall_floor([0.9] * 30, 4, 3) == 27 / 30
    assert oracle.lsh_recall_floor([0.3] * 100, 4, 3) < 0.2
    assert oracle.lsh_recall_floor([1.0] * 10, 4, 3) == 1.0


def test_near_copies_keep_a_high_jaccard():
    rng = np.random.default_rng(0)
    texts = gen.documents(rng, 50)
    js = [oracle.jaccard(t, gen.near_copy(rng, t)) for t in texts]
    assert min(js) > 0.8


@pytest.fixture
def vectors():
    rng = np.random.default_rng(1)
    corpus = gen.embeddings(rng, 200, rng.standard_normal((8, gen.DIM)))
    ids = np.arange(200, dtype=np.int64)
    queries = gen.embeddings(rng, 3, corpus[[5, 50, 150]])
    return corpus, ids, queries


def test_ann_check_fails_on_a_swapped_neighbour(vectors):
    corpus, ids, queries = vectors
    exact = oracle.exact_topk(corpus, ids, queries, 5)
    right = {i: list(rows) for i, rows in enumerate(exact)}
    assert oracle.check_ann(right, exact, corpus, ids, queries, 1.0) == []
    swapped = {i: list(rows) for i, rows in enumerate(exact)}
    swapped[0][1], swapped[0][2] = swapped[0][2], swapped[0][1]
    assert oracle.check_ann(swapped, exact, corpus, ids, queries, 1.0)
    # the true neighbour at rank 5 replaced by the sixth, with its true score
    sixth = oracle.exact_topk(corpus, ids, queries, 6)[0][5]
    replaced = {i: list(rows) for i, rows in enumerate(exact)}
    replaced[0][4] = sixth
    assert oracle.check_ann(replaced, exact, corpus, ids, queries, 1.0)
    wrong_score = {i: list(rows) for i, rows in enumerate(exact)}
    d, s = wrong_score[1][0]
    wrong_score[1][0] = (d, s + 1e-6)
    assert oracle.check_ann(wrong_score, exact, corpus, ids, queries, 0.0)


def test_bm25_reference_and_check():
    texts = {1: "w1 w2 w3", 2: "w1 w1 w4", 3: "w5 w6", 4: "w2 w2 w2 w7", 5: "w3"}
    scores = oracle.bm25_scores(texts, ["w1", "w2"])
    assert scores[3] == 0.0 and scores[5] == 0.0
    # by hand: N = 5, avgdl = 2.6, df = 2 for both terms, idf = 3.5 / 2.5
    assert scores[1] == pytest.approx(2 * 1.4 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 3 / 2.6)))
    assert scores[2] == pytest.approx(1.4 * 4.4 / (2 + 1.2 * (0.25 + 0.75 * 3 / 2.6)))
    want = oracle.top_k(scores, 3)
    assert oracle.check_bm25(list(want), want, scores) == []
    swapped = [want[1], want[0], want[2]]
    assert oracle.check_bm25(swapped, want, scores)
    outsider = [want[0], want[1], (5, want[2][1])]
    assert oracle.check_bm25(outsider, want, scores)
    assert oracle.check_bm25(want[:2], want, scores)


def test_digest_sees_a_perturbed_row():
    rows = [(1, "a", 2.0), (2, "b", 3.0)]
    assert oracle.digest(rows) == oracle.digest(list(rows))
    assert oracle.digest(rows) != oracle.digest([(1, "a", 2.0), (2, "b", 3.5)])
    assert oracle.digest(rows) != oracle.digest(rows[:1])
