"""Every partitioned-store upsert starts with ``similarity._upsert_head``
(one last-write-wins rule, one first-run rule, one schema-typed read of
the affected partitions) and writes through
``similarity._rewrite_partitions``: one dynamic overwrite, one prune
rule, one delete of the partitions a batch empties."""

import ast
import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

import kafka_sink_azure_kusto_spark
from kafka_sink_azure_kusto_spark.functions import similarity as S
from kafka_sink_azure_kusto_spark.functions import unigram as U


def test_package_has_exactly_one_dynamic_overwrite():
    root = pathlib.Path(kafka_sink_azure_kusto_spark.__file__).parent
    sites = sum(
        p.read_text(encoding="utf-8").count("partitionOverwriteMode")
        for p in root.rglob("*.py")
    )
    assert sites == 1


def _read_idx(spark, idx_dir):
    return {
        (r.vec_id, r.cell): tuple(r.v)
        for r in spark.read.parquet(idx_dir).collect()
    }


def _ivf_seed(spark, idx_dir):
    spark.createDataFrame(
        [(i, [float(i), 1.0], i % 4) for i in range(12)],
        "vec_id long, v array<double>, cell int",
    ).write.partitionBy("cell").parquet(idx_dir)


def test_prune_switches_to_a_broadcast_semi_join_above_the_bound(
    spark, monkeypatch
):
    df = spark.range(10).withColumn("cell", (F.col("id") % 5).cast("int"))

    def plan(frame):
        return frame._jdf.queryExecution().optimizedPlan().toString()

    literal = S._prune_partitions(df, "cell", [1, 2])
    monkeypatch.setattr(S, "_ISIN_MAX_PARTITIONS", 1)
    semi = S._prune_partitions(df, "cell", [1, 2])
    assert "LeftSemi" not in plan(literal)
    assert "LeftSemi" in plan(semi)
    assert sorted(r.id for r in literal.collect()) == [1, 2, 6, 7]
    assert sorted(r.id for r in semi.collect()) == [1, 2, 6, 7]


def test_both_prune_branches_give_the_same_store(spark, tmp_path, monkeypatch):
    # an upsert, a cell move out of a drained cell and a tombstone: the
    # affected cells are 0, 1 and 3, so a bound of 1 takes the semi-join
    batch = spark.createDataFrame(
        [(0, [5.0, 5.0], 1), (4, None, 0), (8, [1.0, 2.0], 3), (3, None, 3),
         (20, [2.0, 2.0], 1)],
        "vec_id long, v array<double>, cell int",
    )
    lit_dir, semi_dir = str(tmp_path / "lit"), str(tmp_path / "semi")
    _ivf_seed(spark, lit_dir)
    _ivf_seed(spark, semi_dir)
    lit_emptied = S.ivf_index_upsert(batch, lit_dir)
    monkeypatch.setattr(S, "_ISIN_MAX_PARTITIONS", 1)
    semi_emptied = S.ivf_index_upsert(batch, semi_dir)
    assert lit_emptied == semi_emptied == [0]
    assert _read_idx(spark, lit_dir) == _read_idx(spark, semi_dir)
    assert {vid for vid, _ in _read_idx(spark, semi_dir)} == (
        set(range(12)) - {3, 4} | {20}
    )


def test_ivf_upsert_that_drains_every_affected_cell(spark, tmp_path):
    """The rewrite frame is empty: the observed write still reports no
    kept cell, so both drained cells come back emptied and vanish."""
    idx_dir = str(tmp_path / "idx")
    _ivf_seed(spark, idx_dir)
    batch = spark.createDataFrame(
        [(i, None, i % 4) for i in range(12) if i % 4 in (1, 2)],
        "vec_id long, v array<double>, cell int",
    )
    assert S.ivf_index_upsert(batch, idx_dir) == [1, 2]
    assert not os.path.exists(os.path.join(idx_dir, "cell=1"))
    assert not os.path.exists(os.path.join(idx_dir, "cell=2"))
    assert {c for _, c in _read_idx(spark, idx_dir)} == {0, 3}


def test_block_store_upsert_that_drains_every_affected_block(spark, tmp_path):
    code_dir = str(tmp_path / "codes")
    schema = "vec_id long, v array<double>"
    S.mih_code_upsert(
        spark.createDataFrame(
            [(i, [float(i) - 2.5, 1.0]) for i in range(6)], schema
        ),
        code_dir, n_blocks=4,
    )
    # blocks are vec_id % 4: block 1 = {1, 5}, block 2 = {2}
    st = S.mih_code_upsert(
        spark.createDataFrame([(1, None), (5, None), (2, None)], schema),
        code_dir, n_blocks=4,
    )
    assert st == {"batch_rows": 3, "affected_blocks": 2, "emptied_blocks": 2}
    assert not os.path.exists(os.path.join(code_dir, "block=1"))
    assert not os.path.exists(os.path.join(code_dir, "block=2"))
    assert sorted(
        r.vec_id for r in spark.read.parquet(code_dir).collect()
    ) == [0, 3, 4]


def _crash_before_delete(monkeypatch):
    def crash(spark, store_dir, partition):
        raise RuntimeError("crashed between the overwrite and the delete")

    monkeypatch.setattr(S, "_store_delete_partition", crash)


def test_ivf_replay_after_a_crash_before_the_delete(spark, tmp_path, monkeypatch):
    """A batch replayed after a crash between the overwrite and the
    delete of its emptied cells gives the store one clean call gives."""
    batch = spark.createDataFrame(
        [(i, None, i % 4) for i in range(12) if i % 4 == 1]
        + [(2, [7.0, 7.0], 3)],
        "vec_id long, v array<double>, cell int",
    )
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    _ivf_seed(spark, clean)
    _ivf_seed(spark, crashed)
    assert S.ivf_index_upsert(batch, clean) == [1]
    with monkeypatch.context() as m, pytest.raises(RuntimeError):
        _crash_before_delete(m)
        S.ivf_index_upsert(batch, crashed)
    assert S.ivf_index_upsert(batch, crashed) == [1]
    assert not os.path.exists(os.path.join(crashed, "cell=1"))
    assert _read_idx(spark, crashed) == _read_idx(spark, clean)


def test_block_store_replay_after_a_crash_before_the_delete(
    spark, tmp_path, monkeypatch
):
    schema = "vec_id long, v array<double>"
    seed = spark.createDataFrame(
        [(i, [float(i) - 2.5, 1.0]) for i in range(6)], schema
    )
    batch = spark.createDataFrame([(2, None), (3, [1.0, -1.0])], schema)
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for d in (clean, crashed):
        S.mih_code_upsert(seed, d, n_blocks=4)
    S.mih_code_upsert(batch, clean, n_blocks=4)
    with monkeypatch.context() as m, pytest.raises(RuntimeError):
        _crash_before_delete(m)
        S.mih_code_upsert(batch, crashed, n_blocks=4)
    S.mih_code_upsert(batch, crashed, n_blocks=4)
    assert not os.path.exists(os.path.join(crashed, "block=2"))

    def rows(d):
        return sorted(
            (r.vec_id, tuple(r.v), r.w0, r.w1, r.block)
            for r in spark.read.parquet(d).collect()
        )

    assert rows(crashed) == rows(clean)


# ---- the one upsert head (``similarity._upsert_head``)

_DIM = 4
_NB = 4


def _v(i: int, salt: int = 0) -> list:
    return [float((i * 7 + j * 3 + salt * 5) % 11) - 4.5 for j in range(_DIM)]


def _text(i: int, salt: int = 0) -> str:
    return f"w{i} x{salt}" + " y" * salt


def _deliveries(value, cell: bool) -> list:
    """(id, value, cell, seq) deliveries with equal-seq duplicates:
    ids 0-9 twice at seq 1 with different values (and, for a cell
    store, different cells); ids 10-12 live and tombstone at seq 1;
    ids 13-14 a tombstone at seq 2 after a live row at seq 1; new ids
    30-33 twice at seq 0."""
    rows = []
    for i in range(10):
        rows += [(i, value(i, 1), i % 4, 1), (i, value(i, 2), (i + 1) % 4, 1)]
    for i in range(10, 13):
        rows += [(i, value(i, 1), i % 4, 1), (i, None, i % 4, 1)]
    for i in range(13, 15):
        rows += [(i, value(i, 1), i % 4, 1), (i, None, i % 4, 2)]
    for i in range(30, 34):
        rows += [(i, value(i, 2), i % 4, 0), (i, value(i, 1), (i + 2) % 4, 0)]
    return rows if cell else [(i, x, s) for i, x, _, s in rows]


_CODEBOOK = [(m, c, [float(c) - 0.5 * m, 1.0 - c]) for m in range(2) for c in range(2)]


def _codebook(spark):
    return spark.createDataFrame(_CODEBOOK, "m int, code int, c array<double>")


_VEC = "vec_id long, v array<double>"
_VEC_CELL = "vec_id long, v array<double>, cell int"


class _Kernel:
    """One keyed-store kernel: seed its store(s) under ``d``, apply one
    batch, and read back every store it maintains."""

    def __init__(self, name, schema, seed, call, stores, value=_v, cell=False):
        self.name, self.schema, self.value, self.cell = name, schema, value, cell
        self._seed, self.call, self.stores = seed, call, stores

    def seed(self, spark, d):
        ids = range(24)
        rows = [
            (i, self.value(i), i % 4) if self.cell else (i, self.value(i))
            for i in ids
        ]
        self._seed(spark, d, spark.createDataFrame(rows, self.schema))

    def batch(self, spark):
        return spark.createDataFrame(
            _deliveries(self.value, self.cell), self.schema + ", seq int"
        )

    def rows(self, spark, d):
        def norm(x):
            return tuple(x) if isinstance(x, list) else x

        return {
            s: sorted(
                tuple(norm(x) for x in r)
                for r in spark.read.parquet(os.path.join(d, s)).collect()
            )
            for s in self.stores
        }


def _ivf_kernel_seed(spark, d, seed):
    seed.write.partitionBy("cell").parquet(os.path.join(d, "store"))


def _knn_seed(spark, d, seed):
    seed.withColumn("block", (F.col("vec_id") % _NB).cast("int")).write.partitionBy(
        "block"
    ).parquet(os.path.join(d, "vecs"))
    S.knn_graph_build_exact(seed, k=2, n_blocks=_NB).write.partitionBy(
        "block"
    ).parquet(os.path.join(d, "graph"))


def _store(d):
    return os.path.join(d, "store")


_KERNELS = [
    _Kernel(
        "ivf_index_upsert", _VEC_CELL, _ivf_kernel_seed,
        lambda spark, d, b: S.ivf_index_upsert(b, _store(d), seq_col="seq"),
        ["store"], cell=True,
    ),
    _Kernel(
        "knn_graph_upsert", _VEC, _knn_seed,
        lambda spark, d, b: S.knn_graph_upsert(
            b, os.path.join(d, "graph"), os.path.join(d, "vecs"), k=2,
            n_blocks=_NB, seq_col="seq",
        ),
        ["vecs", "graph"],
    ),
    _Kernel(
        "mih_code_upsert", _VEC,
        lambda spark, d, s: S.mih_code_upsert(s, _store(d), n_blocks=_NB),
        lambda spark, d, b: S.mih_code_upsert(
            b, _store(d), n_blocks=_NB, seq_col="seq"
        ),
        ["store"],
    ),
    _Kernel(
        "pq_code_upsert", _VEC,
        lambda spark, d, s: S.pq_code_upsert(
            s, _codebook(spark), _store(d), 2, 2, n_blocks=_NB
        ),
        lambda spark, d, b: S.pq_code_upsert(
            b, _codebook(spark), _store(d), 2, 2, n_blocks=_NB, seq_col="seq"
        ),
        ["store"],
    ),
    _Kernel(
        "ivfpq_code_upsert", _VEC_CELL,
        lambda spark, d, s: S.ivfpq_code_upsert(
            s, _codebook(spark), _store(d), 2, 2
        ),
        lambda spark, d, b: S.ivfpq_code_upsert(
            b, _codebook(spark), _store(d), 2, 2, seq_col="seq"
        ),
        ["store"], cell=True,
    ),
    _Kernel(
        "word_count_upsert", "doc_id long, text string",
        lambda spark, d, s: U.word_count_upsert(s, _store(d), n_blocks=_NB),
        lambda spark, d, b: U.word_count_upsert(
            b, _store(d), n_blocks=_NB, seq_col="seq"
        ),
        ["store"], value=_text,
    ),
]


@pytest.mark.parametrize("kernel", _KERNELS, ids=lambda k: k.name)
def test_equal_seq_duplicates_give_one_store_for_any_partitioning(
    spark, tmp_path, kernel
):
    """Last write wins on seq, then a live row before a tombstone, then
    the greatest value: the store a batch leaves does not depend on how
    the batch is partitioned."""
    stores = []
    for n in (1, 4):
        d = str(tmp_path / f"p{n}")
        kernel.seed(spark, d)
        kernel.call(spark, d, kernel.batch(spark).repartition(n))
        stores.append(kernel.rows(spark, d))
    assert stores[0] == stores[1]


def test_last_write_wins_rule(spark):
    rows = [(1, "a", 0, 1), (1, "b", 0, 1), (2, "z", 0, 1), (2, None, 0, 1),
            (3, "z", 0, 1), (3, None, 0, 2), (4, "a", 1, 0), (4, "a", 2, 0)]
    df = spark.createDataFrame(rows, "k long, v string, c int, seq int")
    for n in (1, 3):
        got = S.last_write_wins(df.repartition(n), "k", "v", "seq")
        assert got.columns == ["k", "v", "c"]
        assert sorted(tuple(r) for r in got.collect()) == [
            (1, "b", 0), (2, "z", 0), (3, None, 0), (4, "a", 2)
        ]
    no_seq = S.last_write_wins(df, "k", "v")
    assert sorted(tuple(r) for r in no_seq.select("k", "v").collect()) == [
        (1, "b"), (2, "z"), (3, "z"), (4, "a")
    ]


def test_ivf_upsert_without_seq_keeps_one_row_per_id(spark, tmp_path):
    idx_dir = str(tmp_path / "idx")
    _ivf_seed(spark, idx_dir)
    batch = spark.createDataFrame(
        [(100, [1.0, 2.0], 1), (100, [3.0, 4.0], 2), (5, [9.0, 9.0], 2)],
        "vec_id long, v array<double>, cell int",
    )
    S.ivf_index_upsert(batch, idx_dir)
    got = _read_idx(spark, idx_dir)
    assert [(c, v) for (i, c), v in got.items() if i == 100] == [(2, (3.0, 4.0))]
    assert [(c, v) for (i, c), v in got.items() if i == 5] == [(2, (9.0, 9.0))]
    assert len(got) == 13


def test_ivf_upsert_on_a_missing_store_starts_empty(spark, tmp_path):
    idx_dir = str(tmp_path / "never_written")
    batch = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 3), (3, None, 1)],
        "vec_id long, v array<double>, cell int",
    )
    assert S.ivf_index_upsert(batch, idx_dir) == [1]
    assert _read_idx(spark, idx_dir) == {(1, 0): (1.0, 0.0), (2, 3): (0.0, 1.0)}


# Jobs one steady call runs on the fixture above (local[4]), counted by
# the status store's job-list delta; an inferred store read or an extra
# collect shows up here as one more job. Before the shared head the
# same calls ran 8, 35, 11, 16, 21 and 18 jobs.
_STEADY_JOBS = {
    "ivf_index_upsert": 8,
    "knn_graph_upsert": 28,
    "mih_code_upsert": 6,
    "pq_code_upsert": 11,
    "ivfpq_code_upsert": 14,
    "word_count_upsert": 11,
}


def test_steady_call_job_counts(spark, tmp_path):
    jsc = spark.sparkContext._jsc.sc()

    def jobs() -> int:
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore().jobsList(None).size()

    assert not spark.streams.active
    got = {}
    for kernel in _KERNELS:
        d = str(tmp_path / kernel.name)
        kernel.seed(spark, d)
        kernel.call(spark, d, kernel.batch(spark))  # warm-up
        batch = kernel.batch(spark).withColumn("seq", F.col("seq") + 3)
        before = jobs()
        kernel.call(spark, d, batch)
        got[kernel.name] = jobs() - before
    assert all(got[k] <= n for k, n in _STEADY_JOBS.items()), got


def _function_sources(text):
    tree = ast.parse(text)
    return {
        node.name: ast.get_source_segment(text, node)
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
    }


def test_upsert_head_is_the_only_keyed_store_head():
    root = pathlib.Path(kafka_sink_azure_kusto_spark.__file__).parent
    funcs = {}
    for p in (root / "functions").glob("*.py"):
        text = p.read_text(encoding="utf-8")
        assert 'F.lit(0).alias("_seq")' not in text, p.name
        funcs.update(_function_sources(text))

    def callers(name):
        return {f for f, src in funcs.items() if f"{name}(" in src and f != name}

    seq_orders = {
        f for f, src in funcs.items()
        if re.search(
            r'col\((seq_col|"_?seq")\)\.(desc|asc)|"-_?seq"|f"-\{seq_col\}"', src
        )
    }
    assert seq_orders == {"last_write_wins"}
    assert callers("_store_exists") == {"_upsert_head", "_check_store_n_blocks"}
    assert callers("_prune_partitions") == {"_upsert_head", "knn_graph_upsert"}
    for k in _KERNELS:
        src = funcs[k.name]
        assert "read.parquet(" not in src, k.name
        assert src.count("_upsert_head(") == 1, k.name
        assert src.count("_rewrite_partitions(") == len(k.stores), k.name
