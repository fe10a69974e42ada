"""One exact top-k rule (``similarity.topk_rows``) and one recall grader
(``similarity.recall_arm``) serve the package: the null and tie rules of
the top-k and its parity with DuckDB's ``ROW_NUMBER``, the graded row of
the grader, the ported queries against their DuckDB oracles, and source
guards that keep the hand-written copies from coming back."""

from __future__ import annotations

import ast
import pathlib
import re
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

import kafka_sink_azure_kusto_spark
from kafka_sink_azure_kusto_spark.functions import similarity as S

_REPO = pathlib.Path(__file__).resolve().parents[1]
_PKG = pathlib.Path(kafka_sink_azure_kusto_spark.__file__).parent

_VEC = "vec_id long, v array<double>"


# ------------------------------------------------------------- top-k


def test_brute_force_topk_rejects_an_unknown_metric(spark):
    corpus = spark.createDataFrame([(0, [0.0]), (1, [1.0])], _VEC)
    with pytest.raises(ValueError, match="unknown metric 'l2'"):
        S.brute_force_topk(
            corpus, corpus, k=1, vec_col="v", query_vec_col="v", metric="l2"
        )


def _short_vector_corpus(spark):
    # vec 9 is one element short: zip_with pads it, so its L2² is null
    return spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [2.0, 0.0]),
         (3, [0.0, 3.0]), (9, [0.5])],
        _VEC,
    )


def test_null_l2sq_distance_ranks_last_in_both_exact_scorers(spark):
    corpus = _short_vector_corpus(spark)
    queries = corpus.filter(F.col("vec_id") == 0)
    brute = S.brute_force_topk(
        corpus, queries, k=2, vec_col="v", query_vec_col="v", metric="l2sq"
    ).collect()
    cands = corpus.filter(F.col("vec_id") != 0).select(
        F.lit(0).cast("long").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
    )
    rerank = S.rerank_topk(
        cands, corpus, queries, k=2, vec_col="v", query_vec_col="v",
        metric="l2sq",
    ).collect()
    want = [(0, 1, 1.0, 1), (0, 2, 4.0, 2)]
    for rows in (brute, rerank):
        assert [
            (r["query_id"], r["neighbor_id"], r["d2"], r["rank"]) for r in rows
        ] == want


def test_brute_force_l2sq_matches_a_numpy_argsort_with_id_tie_break(spark):
    # integer coordinates keep every distance exact; vectors 2 and 5
    # (and 1 and 4) are equal, so their ties fall to the lower id
    vecs = {
        0: [0.0, 0.0, 0.0], 1: [1.0, 2.0, 0.0], 2: [2.0, 0.0, 1.0],
        3: [3.0, 3.0, 3.0], 4: [1.0, 2.0, 0.0], 5: [2.0, 0.0, 1.0],
        6: [-1.0, 0.0, 2.0], 7: [0.0, -2.0, 1.0],
    }
    corpus = spark.createDataFrame(list(vecs.items()), _VEC)
    queries = corpus.filter(F.col("vec_id").isin(0, 3, 6))
    k = 4
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.brute_force_topk(
            corpus, queries, k=k, vec_col="v", query_vec_col="v",
            metric="l2sq",
        ).collect()
    )
    ids = np.array(sorted(vecs))
    mat = np.array([vecs[i] for i in ids])
    want = []
    for q in (0, 3, 6):
        keep = ids != q
        d2 = ((mat[keep] - np.array(vecs[q])) ** 2).sum(axis=1)
        order = np.lexsort((ids[keep], d2))[:k]
        want += [(q, int(ids[keep][j]), r + 1) for r, j in enumerate(order)]
    assert got == sorted(want)


_KEYED = "g string, h long, id long, s double"
# null scores, score ties, and a group (b) whose scores are all null
_KEYED_ROWS = [
    ("a", 0, 1, 2.0), ("a", 0, 2, None), ("a", 1, 3, 2.0), ("a", 1, 4, 1.0),
    ("a", 0, 5, 3.0), ("a", 1, 6, None), ("b", 0, 7, None), ("b", 0, 8, None),
    ("b", 1, 9, 5.0), ("a", 0, 10, 2.0),
]


@pytest.mark.parametrize(
    "order, want",
    [
        (["-s", "id"], [(5, 1), (1, 2), (3, 3), (10, 4), (4, 5), (2, 6), (6, 7)]),
        (["s", "id"], [(4, 1), (1, 2), (3, 3), (10, 4), (5, 5), (2, 6), (6, 7)]),
    ],
    ids=["desc", "asc"],
)
def test_topk_rows_ranks_null_keys_last_and_breaks_ties_by_id(spark, order, want):
    df = spark.createDataFrame(_KEYED_ROWS, _KEYED).filter(F.col("g") == "a")
    got = S.topk_rows(df, "g", order, 10).select("id", "rank").collect()
    assert sorted(map(tuple, got), key=lambda r: r[1]) == want


@pytest.mark.parametrize(
    "part, order, k",
    [
        ("g", ["-s", "id"], 2),
        ("g", ["s", "-id"], 3),
        (["g", "h"], ["-s", "id"], 1),
        (["g", "h"], ["s", "id"], 2),
        ([], ["-s", "-id"], 4),
    ],
    ids=["one-desc", "one-asc", "list-desc", "list-asc", "whole-frame"],
)
def test_topk_rows_matches_duckdb_row_number(spark, part, order, k):
    import duckdb
    import pandas as pd

    df = spark.createDataFrame(_KEYED_ROWS, _KEYED)
    got = sorted(
        tuple(r) for r in S.topk_rows(df, part, order, k)
        .select("id", "rank").collect()
    )
    cols = [part] if isinstance(part, str) else part
    keys = ", ".join(
        f"{o[1:]} DESC" if o.startswith("-") else o for o in order
    )
    over = (f"PARTITION BY {', '.join(cols)} " if cols else "") + f"ORDER BY {keys}"
    t = pd.DataFrame(_KEYED_ROWS, columns=["g", "h", "id", "s"])
    con = duckdb.connect()
    try:
        con.register("t", t)
        want = con.execute(
            f"SELECT id, rank FROM (SELECT id, "
            f"ROW_NUMBER() OVER ({over}) AS rank FROM t) WHERE rank <= {k}"
        ).fetchall()
    finally:
        con.close()
    assert got == sorted((int(i), int(r)) for i, r in want)


def test_topk_rows_at_one_equals_last_write_wins_on_equal_seq_duplicates(spark):
    # key 1: three deliveries at seq 2 — a tombstone, "x" and "y"; key 2:
    # equal seq and value, so the remaining column decides
    df = spark.createDataFrame(
        [(1, None, 2, 0), (1, "x", 2, 5), (1, "y", 2, 1), (1, "z", 1, 9),
         (2, "v", 3, 1), (2, "v", 3, 4), (3, None, 1, 0)],
        "k long, v string, seq long, x long",
    )
    for n in (1, 3):
        parted = df.repartition(n)
        lww = S.last_write_wins(parted, "k", "v", "seq")
        top = S.topk_rows(parted, "k", ["-seq", "-v", "-x"], 1).drop("rank", "seq")
        assert sorted(map(tuple, lww.collect())) == sorted(
            map(tuple, top.collect())
        ) == [(1, "y", 1), (2, "v", 4), (3, None, 0)]


# ------------------------------------------------------------ recall


def _gt_found(spark):
    gt = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20)], "qid long, nid long"
    )
    found = spark.createDataFrame(
        [(1, 10), (1, 12), (2, 21)], "qid long, nid long"
    )
    return gt, found


def test_recall_arm_row_without_candidates(spark):
    gt, found = _gt_found(spark)
    out = S.recall_arm([F.lit("a").alias("method")], gt, found, ["qid", "nid"])
    assert out.schema.simpleString() == (
        "struct<method:string,n_hits:bigint,n_possible:bigint,recall:double>"
    )
    assert [tuple(r) for r in out.collect()] == [("a", 1, 3, 0.333333)]


def test_recall_arm_row_with_candidates(spark):
    gt, found = _gt_found(spark)
    cand = found.unionByName(found).distinct()
    out = S.recall_arm(
        [F.lit(7).alias("n_probe"), F.lit(None).cast("bigint").alias("b")],
        gt, found, ["qid", "nid"], candidates=cand,
    )
    assert out.schema.simpleString() == (
        "struct<n_probe:int,b:bigint,n_candidates:bigint,n_hits:bigint,"
        "n_possible:bigint,recall:double>"
    )
    assert [tuple(r) for r in out.collect()] == [(7, None, 3, 1, 3, 0.333333)]


def test_recall_arm_with_zero_hits_still_yields_its_row(spark):
    gt, _ = _gt_found(spark)
    none = spark.createDataFrame([], "qid long, nid long")
    plain = S.recall_arm([F.lit("z").alias("m")], gt, none, ["qid", "nid"])
    counted = S.recall_arm(
        [F.lit("z").alias("m")], gt, none, ["qid", "nid"], candidates=none
    )
    assert [tuple(r) for r in plain.collect()] == [("z", 0, 3, 0.0)]
    assert [tuple(r) for r in counted.collect()] == [("z", 0, 0, 3, 0.0)]


# ------------------------------------ ported queries against oracles

_PORTED = [
    "knn_recall_audit",
    "matryoshka_recall_audit",
    "graph_search_recall_audit",
    "graph_entry_strategy_audit",
    "graph_hierarchy_gain_audit",
    "hierarchical_build_recall_audit",
    "adc_nprobe_recall_audit",
    "ivfpq_serving_recall_audit",
    "ivfpq_residual_gain_audit",
    # queries whose hand-written cut became ``topk_rows``
    "window_topn_per_customer",
    "weighted_sample_wor",
    "tfidf_top_terms",
    "hybrid_retrieval_rrf",
    "scd1_upsert",
    "record_survivorship",
    "theta_sketch_merge_lifecycle",
    "multimodal_crossmodal_topk",
    "split_semantic_leakage_audit",
]


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    if str(_REPO) not in sys.path:
        sys.path.insert(0, str(_REPO))
    from tools.oracle_check import duck_con

    con = duck_con(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _PORTED)
def test_ported_audit_matches_its_oracle(spark, sf_dir, oracle_con, name):
    from kafka_sink_azure_kusto_spark.plans import registry
    from tools.oracle_check import compare

    got = registry.queries()[name](spark, sf_dir).toPandas()
    want = oracle_con.execute(registry.oracle_sql()[name]).fetchdf()
    assert compare(name, got, want) == []
    assert list(got.columns) == list(want.columns)


# ------------------------------------------------------- source guard


def _sources():
    return {p: p.read_text(encoding="utf-8") for p in _PKG.rglob("*.py")}


def test_one_l2sq_fold_in_the_package():
    assert sum(s.count("(a - b) * (a - b)") for s in _sources().values()) == 1


def _grades_recall(node: ast.AST) -> bool:
    """``F.round(...)`` over both the n_hits and n_possible columns."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "round"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    ):
        return False
    consts = {
        c.value for c in ast.walk(node) if isinstance(c, ast.Constant)
    }
    return {"n_hits", "n_possible"} <= consts


def test_recall_is_graded_only_by_recall_arm_and_the_kept_audits():
    graders: list[str] = []
    for src in _sources().values():
        for fn in ast.parse(src).body:
            if isinstance(fn, ast.FunctionDef):
                graders += [
                    fn.name for n in ast.walk(fn) if _grades_recall(n)
                ]
    assert graders.count("recall_arm") == 1
    assert set(graders) <= {
        "recall_arm",
        "knn_recall_calibration",
        "similarity_mih_recall_audit",
        "dedup_lsh_recall_audit",
    }


def test_no_hand_written_recall_closures_remain():
    plans = _PKG / "plans"
    for mod in ("registry_r9b", "registry_r10", "registry_r11"):
        assert "def arm(" not in (plans / f"{mod}.py").read_text(encoding="utf-8")
    for mod in ("registry_r12", "registry_r13"):
        assert "def grade(" not in (plans / f"{mod}.py").read_text(
            encoding="utf-8"
        )


def _function_sources(text):
    lines = text.splitlines()
    return {
        node.name: "\n".join(lines[node.lineno - 1:node.end_lineno])
        for node in ast.parse(text).body
        if isinstance(node, ast.FunctionDef)
    }


def _cut_modules():
    return [
        p for d in ("functions", "plans") for p in sorted((_PKG / d).glob("*.py"))
    ]


def _row_number_cuts():
    """(module, top-level function) of every ``F.row_number()`` whose
    column a ``<=`` or ``==`` compares within the next few lines."""
    cuts = set()
    for p in _cut_modules():
        for fn, src in _function_sources(p.read_text(encoding="utf-8")).items():
            lines = src.splitlines()
            for i, line in enumerate(lines):
                if "F.row_number()" not in line:
                    continue
                head = "\n".join(lines[max(i - 1, 0):i + 3])
                near = "\n".join(lines[max(i - 1, 0):i + 8])
                names = re.findall(r'(?:withColumn\(\s*|alias\()"(\w+)"', head)
                if re.search(r"\.over\(\w+\)\s*(<=|==)", near) or any(
                    re.search(rf'col\("{n}"\)\s*(<=|==)', near) for n in names
                ):
                    cuts.add((p.stem, fn))
    return cuts


def test_topk_rows_is_the_only_row_number_cut():
    assert _row_number_cuts() == {
        ("similarity", "topk_rows"),
        # kept: each compares the rank but keeps every row
        ("sketches", "kmv_distinct"),  # reads the k-th hash
        ("registry_curation", "dedup_keep_best"),  # a kept flag per row
        ("registry_windows", "value_winsorize"),  # percentile bounds
    }


def test_window_is_imported_only_where_it_is_used():
    for p in _cut_modules():
        tree = ast.parse(p.read_text(encoding="utf-8"))
        bound = {
            a.asname or a.name
            for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
            for a in n.names if a.name == "Window"
        }
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        assert bound <= used, p.name
