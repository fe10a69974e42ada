"""Every partitioned-store upsert writes through
``similarity._rewrite_partitions``: one dynamic overwrite, one prune
rule, one delete of the partitions a batch empties."""

import os
import pathlib

import pytest
from pyspark.sql import functions as F

import kafka_sink_azure_kusto_spark
from kafka_sink_azure_kusto_spark.functions import similarity as S


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
